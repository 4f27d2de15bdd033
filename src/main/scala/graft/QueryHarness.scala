package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.catalog.ParquetCatalog
import graft.drl.Compiler
import graft.server.{CursorBatch, EngineSession, QueryResult, Response}

/** The helpers every query family builds its rows from: the testdata
  * tables, scratch directories, the engine's request path (DRL text,
  * statement scripts, cursors) and the constants more than one family
  * shares with its oracle SQL. */
private[graft] object QueryHarness {

  /** A row's Spark side: (session, testdata dir) → result frame. */
  type Build = (SparkSession, String) => DataFrame

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Deterministic scratch directory for rows that need a writable path
    * (ingest round-trips, persist lifecycles): one FIXED location per
    * (dataset dir, tag, JVM), wiped on entry. The bench runs every query
    * twice and repeated bench runs used to leak a fresh
    * `Files.createTempDirectory` of parquet per invocation; pinning the
    * path bounds the footprint to at most one live copy per (sf, tag)
    * per RUNNING JVM. The pid segment keeps two concurrent JVMs against
    * the same sf dir (Bench + Verify, or a timing-storm best-of-3 next
    * to the suite) from wiping each other's live streaming checkpoints
    * mid-query; bounded footprint is preserved by sweeping siblings
    * whose owning process is gone (dead pids leave no live readers, so
    * deleting their trees is safe). The testdata dir itself is
    * read-only, so the scratch lives under java.io.tmpdir. */
  def scratch(dir: String, tag: String): String = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-scratch", key, tag)
    // sweep stale per-process entries: pid-N where /proc/N is gone
    val self = ProcessHandle.current().pid()
    Option(base.toFile.listFiles()).foreach(_.foreach { f =>
      f.getName match {
        case s if s.startsWith("pid-") =>
          val alive = s.drop(4).toLongOption.exists(p =>
            p == self || ProcessHandle.of(p).isPresent)
          if (!alive) LocalSession.deleteTree(f)
        case _ => LocalSession.deleteTree(f) // pre-pid layout residue
      }
    })
    val p = base.resolve(s"pid-$self")
    LocalSession.deleteTree(p.toFile)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** `events.ts` as epoch MICROS (Long). The driver's parquet stores
    * `timestamp[us]`, which Spark reads as TIMESTAMP_NTZ; with the
    * session zone pinned to UTC (every entry point does) the NTZ →
    * timestamp cast reads the wall-clock as a UTC instant, so this
    * equals DuckDB's `epoch_us(ts)` bit-for-bit. */
  val TsUsSql = "unix_micros(cast(ts as timestamp))"

  /** One day in epoch micros (the µs-truncated ts the query joins on). */
  val RangeJoinDayUs: Long = 86400L * 1000 * 1000

  /** Bernoulli rate for `sketch_quantile_sample`. */
  val QuantileSampleRate: Double = 0.05

  /** Min-reachable-id closure over the q>45 co-order graph — the ONE
    * oracle string shared by `graph_components` (one-shot) and
    * `streaming_components` (incremental): their equivalence claim is
    * pinned by construction through this single definition. */
  val ComponentsClosureSql: String =
    """WITH RECURSIVE
      |lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |       WHERE l_quantity > 45),
      |e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
      |sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
      |reach(s, t) AS (
      |  SELECT p, p FROM (SELECT DISTINCT p FROM lp)
      |  UNION
      |  SELECT reach.s, sym.v FROM reach JOIN sym ON reach.t = sym.u)
      |SELECT s AS part, min(t) AS component FROM reach GROUP BY s""".stripMargin

  /** Run a DRL sexp program against the testdata catalog — the full
    * reference request path (parse → gate → compile). */
  def drl(sexpText: String): Build =
    (spark, dir) =>
      Compiler.run(spark, new ParquetCatalog(spark, dir), sexpText)
        .fold(e => throw new IllegalArgumentException(e.message), identity)

  /** An engine session (the listener-equivalent dispatcher) with the
    * driver's parquet tables as external sources, write-through to
    * `root` when one is given. */
  def session(spark: SparkSession, dir: String, root: Option[String] = None): EngineSession =
    new EngineSession(spark, Some(new ParquetCatalog(spark, dir)), root)

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** Execute one statement. A statement prefixed with `!` is EXPECTED to
    * fail (the error is part of the pinned scenario — e.g. a commit over
    * a violated deferred constraint); the session state must be left
    * unchanged by it, which the statements after it then observe. Any
    * other statement must succeed, and its response is returned. */
  def run(session: EngineSession, stmt: String): Option[Response] =
    if (stmt.startsWith("!")) {
      val s = stmt.substring(1)
      session.execute(s).fold(_ => None,
        r => fail(s"$s -> expected failure, but succeeded with $r"))
    } else session.execute(stmt).fold(e => fail(s"$stmt -> $e"), Some(_))

  /** Evaluate a DRL query against the session's current state. */
  def query(session: EngineSession, drlQuery: String): DataFrame =
    session.execute(s"(drl $drlQuery)") match {
      case Right(QueryResult(df)) => df
      case Right(other) => fail(s"expected query result, got $other")
      case Left(e) => fail(e.message)
    }

  /** Run a script of DDL/DML/ICL/DCL sexp statements (with the [[run]]
    * `!` contract) through a fresh session, then evaluate a final DRL
    * query against the resulting state — the engine's full request path. */
  def script(stmts: Seq[String], finalQuery: String): Build =
    (spark, dir) => {
      val s = session(spark, dir)
      stmts.foreach(run(s, _))
      query(s, finalQuery)
    }

  /** Open an SCL cursor over `drlQuery`, run `afterBegin` once the cursor
    * has pinned its snapshot, then Fetch `limit` rows a page until the
    * cursor is drained; returns every row in page order. */
  def drain(session: EngineSession, drlQuery: String, limit: Int)(
      afterBegin: => Unit = ()): Seq[Row] = {
    def page(stmt: String): graft.scl.Batch = session.execute(stmt) match {
      case Right(CursorBatch(b)) => b
      case other => fail(s"$stmt -> unexpected $other")
    }
    var batch = page(s"(scl (Begin (query $drlQuery) (limit $limit)))")
    var rows = batch.rows
    afterBegin
    while (batch.hasMore) {
      batch = page(s"(scl (Fetch (cursor ${batch.cursorId}) (limit $limit)))")
      rows = rows ++ batch.rows
    }
    rows
  }

  /** Rows as a frame of the DDL schema `ddl` (e.g. `"k BIGINT, v STRING"`;
    * every field nullable). */
  def rowsDf(spark: SparkSession, ddl: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType.fromDDL(ddl))
}
