package graft.scl

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LocalTableScanExec
import graft.catalog.Catalog
import graft.drl.{Compiler, Gate, Query, Parser => DrlParser}
import graft.hashing.Hashing
import graft.sexp.Sexp
import graft.sexp.Sexp.{Atom, SList}

/** SCL — streaming cursors over DRL queries
  * (reference lib/scl/ast.ml:3-7, lib/scl/executor.ml:41-70,
  * lib/session.ml:20-67).
  *
  * A cursor iterates the snapshot the query was begun on: the DataFrame
  * plan is immutable, so later mutations of the engine state can never
  * leak into an open cursor — the reference pins the db snapshot for the
  * same reason (lib/session.ml:11). How it iterates depends on the
  * executed plan: a bare `LocalTableScanExec` (a driver-local relation,
  * possibly filtered or projected, which Catalyst folds into the scan)
  * already holds its rows in the driver, so they are collected with no
  * Spark job — one extra copy of at most `Engine.LocalThreshold` rows.
  * Every other plan streams through `df.toLocalIterator()`, one partition
  * at a time from the executors, and is never fully collected. */
final case class Batch(cursorId: String, rows: Seq[Row], schema: Seq[String], hasMore: Boolean)

final class Cursors {
  val DefaultBatch = 50 // reference lib/scl/executor.ml:1

  private final case class Cursor(id: String, iter: Iterator[Row],
      schema: Seq[String], querySexp: String, dbHash: String)
  private val registry = mutable.Map[String, Cursor]()
  private var counter = 0

  /** id = hash of counter + query + db hash (reference session.ml:20-36). */
  def register(df: DataFrame, querySexp: String, dbHash: String): String = {
    val id = Hashing.sha256Hex(counter.toString + querySexp + dbHash)
    counter += 1
    val rows = df.queryExecution.executedPlan match {
      case _: LocalTableScanExec => df.collect().iterator // driver rows: no job
      case _                     => df.toLocalIterator().asScala
    }
    registry(id) = Cursor(id, rows, df.columns.toSeq, querySexp, dbHash)
    id
  }

  /** Fetch the next batch; the cursor auto-removes on exhaustion
    * (reference session.ml:38-67). */
  def fetch(id: String, limit: Int): Either[graft.Err, Batch] =
    registry.get(id).toRight(graft.Err.CursorError(
      s"The cursor with identifier `$id` was not found in the session registry.")).map { cur =>
      val buf = mutable.ListBuffer[Row]()
      while (buf.length < limit && cur.iter.hasNext) buf += cur.iter.next()
      val hasMore = cur.iter.hasNext
      if (!hasMore) registry.remove(id)
      graft.scl.Batch(id, buf.toSeq, cur.schema, hasMore)
    }

  def close(id: String): Unit = registry.remove(id)
  def open: Int = registry.size
}

sealed trait Statement
object Statement {
  final case class Begin(query: Query, limit: Option[Int]) extends Statement
  final case class Fetch(cursor: String, limit: Option[Int]) extends Statement
  final case class Close(cursor: String) extends Statement
}

object Parser {
  import Statement._

  /** Statement-head atoms this grammar owns (see drl.Parser.heads). */
  val heads: Set[String] = Set("Begin", "Fetch", "Close")

  def parse(input: String): Either[String, Statement] =
    Sexp.parse(input).flatMap(ofSexp)

  def ofSexp(s: Sexp): Either[String, Statement] = s match {
    case SList(Atom("scl") :: st :: Nil) => ofSexp(st)
    case SList(Atom("Begin") :: fields) =>
      val fm = fields.collect { case SList(List(Atom(k), v)) => k -> v }.toMap
      for {
        q <- fm.get("query").toRight("missing field: query").flatMap(DrlParser.ofSexp)
        l <- limitOf(fm)
      } yield Begin(q, l)
    case SList(Atom("Fetch") :: fields) =>
      val fm = fields.collect { case SList(List(Atom(k), v)) => k -> v }.toMap
      for {
        c <- fm.get("cursor").toRight("missing field: cursor").flatMap(atom)
        l <- limitOf(fm)
      } yield Fetch(c, l)
    case SList(Atom("Close") :: fields) =>
      val fm = fields.collect { case SList(List(Atom(k), v)) => k -> v }.toMap
      fm.get("cursor").toRight("missing field: cursor").flatMap(atom).map(Close(_))
    case other => Left(s"unrecognized SCL form: ${other.render}")
  }

  private def limitOf(fm: Map[String, Sexp]): Either[String, Option[Int]] =
    fm.get("limit") match {
      case None => Right(None)
      case Some(Atom(n)) => n.toIntOption.filter(_ > 0).toRight(s"bad limit: $n").map(Some(_))
      case Some(o) => Left(s"bad limit: ${o.render}")
    }

  private def atom(s: Sexp): Either[String, String] = s match {
    case Atom(a) => Right(a)
    case o => Left(s"bad atom: ${o.render}")
  }
}

object Executor {
  import Statement._

  def execute(spark: SparkSession, cat: Catalog, cursors: Cursors, dbHash: String,
      stmt: Statement): Either[graft.Err, Batch] = stmt match {
    case Begin(query, limit) =>
      for {
        _ <- Gate.admit(cat, query)
        df <- Compiler.compile(spark, cat, query)
        id = cursors.register(df, graft.drl.Parser.toSexp(query).render, dbHash)
        batch <- cursors.fetch(id, limit.getOrElse(cursors.DefaultBatch))
      } yield batch
    case Fetch(cursor, limit) =>
      cursors.fetch(cursor, limit.getOrElse(cursors.DefaultBatch))
    case Close(cursor) =>
      cursors.close(cursor)
      Right(Batch(cursor, Nil, Nil, hasMore = false))
  }
}
