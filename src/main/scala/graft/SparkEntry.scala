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
  * [[ScaleProbes]]. This object keeps the flagship, the three maps
  * `Bench`, `Verify` and `Profile` read, and the name selection and JSON
  * strings they share.
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

  /** The names in a comma-separated list, in order. An unknown name, or
    * no name at all, exits the JVM with status 2: a misspelled name would
    * otherwise run nothing and end like a successful run. */
  def selectNames(list: String, source: String, known: Set[String]): Seq[String] = {
    val names = list.split(',').map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val unknown = names.filterNot(known)
    if (names.isEmpty || unknown.nonEmpty) {
      System.err.println(
        if (names.isEmpty) s"$source names no query"
        else s"$source names unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    names
  }

  /** `SPARK_GRAFT_ONLY`, the dev subset filter: the named queries only;
    * unset means all of them. */
  def only(known: Set[String]): Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(selectNames(_, "SPARK_GRAFT_ONLY", known).toSet)

  /** A JSON string literal: backslash, quote and every control character
    * escaped, so a tab or CR in a query's SQL cannot break a reader's
    * `json.load`. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
