package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The operator batch: a fixed list of `SparkEntry.queries` rows run
  * in-process, one after the other, with no server.
  *
  * {{{
  * Batch <tables-dir> <out-prefix> <module:query>...
  * }}}
  *
  * Boots Spark as the server does and runs two passes over the list: an
  * untimed warm pass and a traced pass (a `request` span with a
  * `<module>.<query>` child per query, and the Spark work of each counted
  * by job group). Each query's rows are counted and hashed
  * (order-insensitively) in both passes. Writes `<out>.json` and
  * `<out>.spans.tsv`. */
object Batch {
  final case class Query(module: String, name: String)

  def main(args: Array[String]): Unit = args match {
    case Array(dir, out, qs @ _*) if qs.nonEmpty =>
      val queries = qs.map { q =>
        val Array(m, n) = q.split(":", 2)
        Query(m, n)
      }
      val spark = Trace.session("perfbench-batch")
      val counter = new JobCounter
      spark.sparkContext.addSparkListener(counter)
      try new Batch(spark, dir, queries, counter).run(out)
      finally spark.stop()
    case _ =>
      System.err.println("usage: Batch <tables-dir> <out-prefix> <module:query>...")
      sys.exit(2)
  }

  /** Order-insensitive hash of a result: the sum of its rows' hashes. */
  def rowsHash(rows: Seq[org.apache.spark.sql.Row]): Long =
    rows.iterator.map(r => MurmurHash3.stringHash(r.toString).toLong & 0xffffffffL).sum
}

final class Batch(spark: SparkSession, dir: String, queries: Seq[Batch.Query], counter: JobCounter) {
  import Batch._

  /** (query, ns, rows, hash) of one run of each query. */
  private def pass(tr: Option[Tracer]): Seq[(String, Long, Int, Long)] =
    queries.map { q =>
      def once() = SparkEntry.queries(q.name)(spark, dir).collect().toSeq
      val t0 = System.nanoTime()
      val rows = tr match {
        case Some(t) =>
          t.req += 1
          t.kind = q.name
          t("request")(t(s"${q.module}.${q.name}")(once()))
        case None => once()
      }
      (q.name, System.nanoTime() - t0, rows.length, rowsHash(rows))
    }

  def run(out: String): Unit = {
    val warm = pass(None)
    val tr = new Tracer(spark)
    val traced = pass(Some(tr))
    Trace.awaitListener(counter)
    tr.write(out + ".spans.tsv", counter)

    def passJson(p: Seq[(String, Long, Int, Long)]): String =
      Json.arr(p.map { case (q, ns, n, h) => s"[${Json.str(q)},$ns,$n,$h]" })
    val json = Json.obj(Seq("warm" -> passJson(warm), "traced" -> passJson(traced)))
    Files.write(Paths.get(out + ".json"), json.getBytes(StandardCharsets.UTF_8))
  }
}
