package graft.scl

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.{col, concat, lit}
import graft.{JobCounter, SparkTestBase}
import graft.catalog.ParquetCatalog
import graft.server.{EngineSession, Listener, QueryResult}
import graft.sexp.Sexp
import graft.sexp.Sexp.{Atom, SList}

/** How many Spark jobs a read runs through `Listener.handle`. Reads over a
  * driver-local relation run none: the frame is a `LocalTableScanExec`,
  * collected in the driver, and a cursor over it pages those rows. Every
  * other plan still streams through `toLocalIterator`, one partition job
  * at a time. */
class CursorJobsSpec extends SparkTestBase {

  private val LocalRows = 130 // three pages of 50
  private val ParquetRows = 180

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("cursor-jobs").toString
    // three files, so three scan partitions
    spark.range(0, ParquetRows, 1, 3)
      .select(col("id").as("n_nationkey"), concat(lit("n"), col("id")).as("n_name"))
      .write.parquet(s"$d/nation.parquet")
    d
  }

  private val setup = Seq(
    "(ddl (CreateDatabase jobs))",
    "(CreateRelation (name t) (schema ((n integer) (s string))))",
    "(InsertTuples (relation t) (tuples " +
      (1 to LocalRows).map(i => s"((n (Int $i)) (s (Str s$i)))").mkString("(", " ", ")") + "))")

  private def withListener[A](f: Listener => A): A = {
    val l = new Listener(spark, Some(new ParquetCatalog(spark, dir)))
    try {
      setup.foreach(r => assert(l.handle(r).startsWith("(ok"), r))
      f(l)
    } finally l.close()
  }

  private def handle(l: Listener, req: String): Sexp =
    Sexp.parse(l.handle(req)).fold(e => fail(s"unparseable response: $e"), identity)

  private def field(resp: Sexp, name: String): Sexp = resp match {
    case SList(_ :: fields) => fields.collectFirst { case SList(List(Atom(`name`), v)) => v }
      .getOrElse(fail(s"no $name in ${resp.render}"))
    case other => fail(s"not a response: ${other.render}")
  }

  private def atom(s: Sexp): String = s match {
    case Atom(a) => a
    case other   => fail(s"not an atom: ${other.render}")
  }

  /** One cursor page: each row's rendered values, and has_more. */
  private final case class Page(rows: Seq[Seq[String]], hasMore: Boolean)

  private def page(resp: Sexp): Page = {
    val rows = field(resp, "rows") match {
      case SList(rs) => rs.map {
        case SList(cells) => cells.map {
          case SList(List(Atom(_), SList(List(Atom(_), Atom(v))))) => v
          case other => fail(s"bad cell: ${other.render}")
        }
        case other => fail(s"bad row: ${other.render}")
      }
      case other => fail(s"bad rows: ${other.render}")
    }
    Page(rows, atom(field(resp, "has_more")).toBoolean)
  }

  /** Begin, then Fetch until the cursor is exhausted. */
  private def drain(l: Listener, query: String, limit: Int): Seq[Page] = {
    val first = handle(l, s"(scl (Begin (query $query) (limit $limit)))")
    fetchRest(l, atom(field(first, "id")), page(first), limit)
  }

  private def fetchRest(l: Listener, id: String, first: Page, limit: Int): Seq[Page] = {
    var pages = Vector(first)
    while (pages.last.hasMore)
      pages :+= page(handle(l, s"(scl (Fetch (cursor $id) (limit $limit)))"))
    pages
  }

  /** Pages the way a cursor cut them before: `toLocalIterator` in batches. */
  private def expectedPages(rows: Seq[Seq[String]], limit: Int): Seq[Page] = {
    val groups = rows.grouped(limit).toSeq
    groups.zipWithIndex.map { case (g, i) => Page(g, i < groups.length - 1) }
  }

  test("a point Select and Begin/Fetch/Close over a Local relation run no Spark job") {
    withListener { l =>
      val (sel, selJobs) = JobCounter.count(spark)(
        handle(l, "(drl (Select (Const ((n (Int 7)))) (Base t)))"))
      assert(atom(field(sel, "row_count")) == "1")
      assert(selJobs == 0)

      val (_, scanJobs) = JobCounter.count(spark) {
        val b = handle(l, "(scl (Begin (query (Base t)) (limit 50)))")
        val id = atom(field(b, "id"))
        assert(page(b).rows.length == 50)
        assert(page(handle(l, s"(scl (Fetch (cursor $id) (limit 50)))")).rows.length == 50)
        assert(l.handle(s"(scl (Close (cursor $id)))").startsWith("(cursor"))
      }
      assert(scanJobs == 0)
    }
  }

  test("a Local cursor of three pages returns the pages toLocalIterator gave") {
    withListener { l =>
      val (pages, jobs) = JobCounter.count(spark)(drain(l, "(Base t)", 50))
      assert(jobs == 0)
      assert(pages.map(_.rows.length) == Seq(50, 50, 30))
      // the same relation, paged the old way
      val s = new EngineSession(spark)
      setup.foreach(r => s.execute(r).fold(e => fail(e.message), identity))
      val df = s.execute("(drl (Base t))").fold(e => fail(e.message), {
        case QueryResult(d) => d
        case other          => fail(s"expected a relation, got $other")
      })
      val old = df.toLocalIterator().asScala.map(_.toSeq.map(_.toString)).toSeq
      assert(pages == expectedPages(old, 50))
    }
  }

  test("a Begin over a parquet Base pages through toLocalIterator like a collect()") {
    withListener { l =>
      val collected = spark.read.parquet(s"$dir/nation.parquet").collect()
        .toSeq.map(_.toSeq.map(_.toString))
      val (first, beginJobs) = JobCounter.count(spark)(
        handle(l, "(scl (Begin (query (Base nation)) (limit 50)))"))
      val id = atom(field(first, "id"))
      val (pages, fetchJobs) = JobCounter.count(spark)(fetchRest(l, id, page(first), 50))
      assert(pages == expectedPages(collected, 50))
      assert(beginJobs >= 1)
      // streamed: later partitions are read only when a Fetch reaches them
      assert(fetchJobs >= 1)
    }
  }
}
