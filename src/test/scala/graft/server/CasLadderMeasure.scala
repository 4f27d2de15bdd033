package graft.server

/** Measurement runner for the CAS-writer ladder (PLANS.md record):
  * `sbt "Test/runMain graft.server.CasLadderMeasure [sfDir]"` — prints
  * wall time and retry count per writer tier at the bench's parameters
  * (96 total inserts), best-of-3 wall, max retries (retries are the
  * contention census, so the WORST interleaving is the honest number).
  * Test scope: this is a measurement tool, not a library surface. */
object CasLadderMeasure {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.LocalSession.build("local[32]", 32)
    for (w <- Seq(1, 4, 8)) {
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val r = CasLadder.run(spark, sfDir, writers = w, totalInserts = 96)
        ((System.nanoTime() - t0) / 1e9, r.retries)
      }
      println(f"caswriters x$w: wall best-of-3 ${runs.map(_._1).min}%.2f s " +
        f"(all: ${runs.map(t => f"${t._1}%.2f").mkString(", ")}); " +
        s"retries max ${runs.map(_._2).max} (all: ${runs.map(_._2).mkString(", ")})")
    }
    spark.stop()
  }
}
