package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One row of the driver contract: the Spark build that answers it over
  * a testdata dir, and the DuckDB SQL that must produce the same rows
  * (columns sorted by name, rows sorted, values canonicalized — see
  * `tools/check_correctness.py`). */
final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** The one query registry: every family's specs, indexed by name once.
  * Each family registers its rows in a file next to its package, each
  * build beside its oracle SQL. */
private[graft] object QueryRegistry {

  /** Index specs by name. A repeated name throws, naming the query — a
    * map literal would silently keep only one of the two rows. */
  def index(specs: Seq[QuerySpec]): Map[String, QuerySpec] =
    specs.foldLeft(Map.empty[String, QuerySpec]) { (m, q) =>
      require(!m.contains(q.name), s"query ${q.name} is registered twice")
      m.updated(q.name, q)
    }

  val specs: Map[String, QuerySpec] = index(
    server.SublanguageQueries.specs ++
      operators.AnalyticsQueries.specs ++
      operators.OperatorQueries.specs ++
      pipeline.PipelineQueries.specs ++
      streaming.StreamingQueries.specs)
}
