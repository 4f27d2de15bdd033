package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev-only subset filter (same contract as Bench); unset runs every
    // query, as the correctness check needs
    val only = SparkEntry.only(SparkEntry.queries.keySet)
    val spark = LocalSession.batch()
    new java.io.File(outDir).mkdirs()
    // A query that raises must leave an explicit trace, not a silent
    // omission: errors go to stderr AND verify_errors.json (in outDir and
    // the repo), so a coverage regression can never masquerade as a
    // smaller-but-all-green round (the round-7 lesson).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    import SparkEntry.{jsonString => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    try Files.writeString(Paths.get("verify_errors.json"), errJson)
    catch { case _: Throwable => () } // repo copy is best-effort
    spark.stop()
    // rc stays 0: the driver still compares every query that DID write
    // (a nonzero exit could zero the whole round) — the errors file and
    // stderr carry the explicit failure record.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed: ${errors.keys.mkString(", ")}")
  }
}
