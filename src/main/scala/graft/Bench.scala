package graft
/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and emits one JSON line. A crashing query records
  * an "errors" entry (and −1s) instead of being silently swallowed.
  *
  * Timing discipline: one untimed warmup pass runs every query first
  * (JMH-style steady-state measurement). A cold first execution is
  * dominated by JVM classloading, Janino codegen, and parquet-footer
  * caches — measured cold, a 125-row cross join reports seconds of
  * one-time session setup; the engine's actual throughput is the warm
  * number. The emitted JSON records "warmup":1 to make this explicit. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // isolation knobs for perf triage on a noisy host: run only the named
    // queries (comma-separated) and/or take best-of-N instead of best-of-2
    val only = SparkEntry.only(SparkEntry.queries.keySet ++ SparkEntry.scaleProbes.keySet)
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toIntOption.getOrElse {
      System.err.println(s"SPARK_GRAFT_ITERS is not a number: ${sys.env("SPARK_GRAFT_ITERS")}")
      sys.exit(2)
    }
    val spark = LocalSession.batch()
    import SparkEntry.{jsonString => jstr}
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // untimed warmup pass (see scaladoc); failures surface in the timed pass
    // Oracle-checked queries plus scale probes (replicated corpora
    // measuring t(m) growth — see SparkEntry.scaleProbes). The recurring
    // bench carries one CANARY per probe family (a regression there means
    // the scale behavior changed); the full multiplier ladder (~2.5 min,
    // incl. a deliberate 104 s densified-graph point) runs with
    // SPARK_GRAFT_PROBES=all or by naming probes in SPARK_GRAFT_ONLY —
    // the measured slopes live in PLANS.md.
    val defaultProbes = Set(
      "scaleprobe_jaccard_x16", "scaleprobe_minhash_x16", "scaleprobe_triangles_x4",
      "scaleprobe_hamming_x16", "scaleprobe_fkbulk_x4", "scaleprobe_streamstate_x4",
      "scaleprobe_dclmerge_x4", "scaleprobe_persist_x4", "scaleprobe_skewjoin_x16",
      "scaleprobe_streamcc_x4", "scaleprobe_caswriters_x8", "scaleprobe_bpetrain_x4")
    // fail loudly on knob typos, same contract as SPARK_GRAFT_ONLY: a
    // misspelled value would silently run only the canaries and emit a
    // plausible complete-looking JSON line
    val probesMode = sys.env.get("SPARK_GRAFT_PROBES")
    probesMode.foreach { v =>
      if (v != "all") {
        System.err.println(s"SPARK_GRAFT_PROBES must be 'all' (got '$v')")
        sys.exit(2)
      }
    }
    val probes = SparkEntry.scaleProbes.filter { case (n, _) =>
      probesMode.contains("all") || defaultProbes.contains(n) || only.exists(_.contains(n))
    }
    val selected = (SparkEntry.queries ++ probes).toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    // best-of-2 timed passes: the minimum is the standard noise-robust
    // steady-state statistic (host-level scheduling jitter only ever
    // ADDS time to a deterministic computation)
    val results = selected.map { case (name, fn) =>
      val times = (1 to iters).flatMap { _ =>
        val t0 = System.nanoTime()
        val t = try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => errors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"; None }
        // drop this pass's persisted frames OUTSIDE the timing window: a
        // query re-persists its own caches per execution, so leftovers
        // only steal executor memory from later queries (the r4 bench
        // showed icl_fk_bulk 2x slower in-suite than isolated for
        // exactly this reason) — each query is measured fresh-state
        spark.catalog.clearCache()
        t
      }
      // a query with at least one timed pass is reported by its time, not
      // as an error — the JSON must never carry both for one query
      if (times.nonEmpty) errors.remove(name)
      name -> (if (times.nonEmpty) times.min else -1.0)
    }
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","warmup":1,"iterations":$iters,"queries":$qs,"errors":$errJson,"sf":${jstr(sfDir)}}"""
    println(line)
    // full-fidelity copy in the repo: the driver's artifact keeps only a
    // log tail, which clips the alphabetically-early half of the
    // per-query map — this file is the durable record (VERDICT r6 item
    // 4). Full-suite runs only: an SPARK_GRAFT_ONLY triage run must not
    // clobber the complete record with a 3-query subset.
    if (only.isEmpty)
      try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_local.json"), line + "\n")
      catch { case e: Throwable => System.err.println(s"bench_local.json write failed: $e") }
    spark.stop()
    // a failing query must fail the run visibly (ADVICE r7): rc=1 tells
    // the driver the numbers are incomplete even if the tail looks fine
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries failed: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
