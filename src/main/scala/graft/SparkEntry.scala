package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.AnalyticsQueries.aggRevenueByNation

/** Driver contract — queries + DuckDB oracle SQL (see SURVEY.md §7).
  *
  * Every row is one [[QuerySpec]] (name, Spark build, oracle SQL),
  * registered by its family next to its package and indexed once by
  * [[QueryRegistry]]: `server.SublanguageQueries` (`drl_*` exercise the
  * reference's query language end-to-end, sexp text → parser →
  * finiteness gate → compiler → DataFrame; `dml_*`/`ddl_*`/`icl_*`/
  * `dcl_*`/`scl_*` the mutation/constraint/branch/cursor sublanguages;
  * `tcp_*` and `persist_*` the wire and the disk store),
  * `operators.AnalyticsQueries` (`agg_*`, the beyond-reference analytics
  * extensions, SURVEY.md §7.2 step 7), `operators.OperatorQueries`
  * (graph, time-series, profiling, layout, sketch and warehouse rows),
  * `pipeline.PipelineQueries` (the LLM-data-pipeline operators:
  * `dedup_*`/`text_*`/`ann_*` and kin) and `streaming.StreamingQueries`.
  * The shared helpers live in [[QueryHarness]]; the bench-only probes in
  * [[ScaleProbes]]. This object keeps only the flagship and the three
  * maps `Bench` and `Verify` read.
  */
object SparkEntry {

  /** Flagship: revenue by nation (4-table join + aggregation) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    aggRevenueByNation(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.specs.map { case (name, q) => name -> q.build }

  def oracleSql: Map[String, String] =
    QueryRegistry.specs.map { case (name, q) => name -> q.oracleSql }

  def scaleProbes: Map[String, (SparkSession, String) => DataFrame] = ScaleProbes.probes
}
