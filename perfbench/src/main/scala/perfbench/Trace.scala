package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Err
import graft.catalog.{Catalog, ParquetCatalog}
import graft.dcl.Store
import graft.engine.{Database, DbCatalog, Engine, Persist}
import graft.scl.Cursors
import graft.server.{Listener, WireClient}
import graft.sexp.Sexp
import graft.sexp.Sexp.{Atom, SList}

/** Spark work per job group, from the scheduler's events. Slots:
  * jobs, stages, tasks, shuffle write bytes, shuffle read bytes, spill
  * bytes, executor CPU ns, job wall ns. */
final class JobCounter extends SparkListener {
  val byGroup = TrieMap[String, Array[Long]]()
  private val stageGroup = TrieMap[Int, String]()
  private val jobStarts = TrieMap[Int, (String, Long)]()

  private def add(g: String, slot: Int, v: Long): Unit =
    byGroup.getOrElseUpdate(g, new Array[Long](8)).synchronized {
      byGroup(g)(slot) += v
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobStarts(e.jobId) = (g, e.time)
    add(g, 0, 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { case (g, t) => add(g, 7, (e.time - t) * 1000000L) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = stageGroup.getOrElse(info.stageId, "")
    add(g, 1, 1)
    add(g, 2, info.numTasks.toLong)
    Option(info.taskMetrics).foreach { m =>
      add(g, 3, m.shuffleWriteMetrics.bytesWritten)
      add(g, 4, m.shuffleReadMetrics.totalBytesRead)
      add(g, 5, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(g, 6, m.executorCpuTime)
    }
  }
  def running: Int = jobStarts.size
}

/** In-memory spans. A span is (request, id, parent, name, start, end);
  * each span is also the Spark job group of the jobs it runs, so the
  * listener attributes Spark work to it. With `on` false nothing is
  * recorded and bodies run bare. */
final class Tracer(spark: SparkSession) {
  final case class Span(req: Int, id: Int, parent: Int, name: String, kind: String,
      start: Long, var end: Long = 0L)
  val spans = ArrayBuffer[Span]()
  var on = true
  private var next = 1
  private var stack: List[Span] = Nil
  var req = 0
  var kind = ""

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(req, next, stack.headOption.map(_.id).getOrElse(0), name, kind, System.nanoTime())
      next += 1
      spans += s
      stack = s :: stack
      spark.sparkContext.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None    => spark.sparkContext.clearJobGroup()
        }
      }
    }

  /** One line per span: the span's fields, then its Spark counters. */
  def write(path: String, counter: JobCounter): Unit = {
    val sb = new StringBuilder
    for (s <- spans) {
      val c = counter.byGroup.getOrElse(s.id.toString, new Array[Long](8))
      sb ++= Seq(s.req, s.id, s.parent, s.name, s.kind, s.start, s.end).mkString("\t")
      sb ++= c.mkString("\t", "\t", "\n")
    }
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** In-process replay of a workload's requests through each layer's
  * public functions, in the order the server's session dispatches them
  * (graft.server.EngineSession): sexp parse → sublanguage parse →
  * finiteness gate → compile → execute → commit (→ persist) → render.
  * Every call is a span. Next to this copy of the dispatch, an unstarted
  * [[graft.server.Listener]] over the same inputs (and its own store)
  * handles the same requests: its `handle` times are the server's own.
  *
  * {{{
  * Trace <plan-dir> <tables-dir> <out-prefix> <rounds> [<store-dir>]
  * }}}
  *
  * Replays `stage1.txt` and `warm.txt` untraced, then the measured
  * phase: `rounds` rounds of one request group from each
  * `w*`/`r*` stream, each group through the listener, then through the
  * traced copy — untraced in the rounds [[Trace.traced]] leaves out,
  * which give the tracing overhead. Or `iter.txt` through the listener
  * (the first iteration after set-up, as in a traced run's wire phase),
  * then through the copy traced and untraced. Writes `<out>.spans.tsv`
  * and `<out>.json`. */
object Trace {
  /** Whether the copy traces a round: two rounds in eight run bare, one
    * even and one odd, since writer groups alternate insert and delete
    * and reader groups select and scan. */
  def traced(round: Int): Boolean = (round / 2) % 4 != 3

  /** A Spark session configured as the server's (local[nproc], nproc
    * shuffle partitions, UTC, no UI). */
  def session(app: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$n]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", n.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Listener events arrive asynchronously: wait until every job ended
    * and the counts stop moving. */
  def awaitListener(counter: JobCounter): Unit = {
    def snapshot = counter.byGroup.values.map(_.sum).sum
    var last = -1L
    var waited = 0
    while ((counter.running > 0 || snapshot != last) && waited < 100) {
      last = snapshot
      Thread.sleep(100)
      waited += 1
    }
  }

  def main(args: Array[String]): Unit = {
    val (dir, tables, out, rounds, storeDir) = args match {
      case Array(d, t, o, n, rest @ _*) => (Paths.get(d), t, o, n.toInt, rest.headOption)
      case _ =>
        System.err.println("usage: Trace <plan-dir> <tables-dir> <out-prefix> <rounds> [<store-dir>]")
        sys.exit(2)
    }
    val spark = session("perfbench-trace")
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try new Trace(spark, dir, new ParquetCatalog(spark, tables), storeDir, counter).run(out, rounds)
    finally spark.stop()
  }
}

final class Trace(spark: SparkSession, dir: Path, external: Catalog,
    persistDir: Option[String], counter: JobCounter) {
  private val tr = new Tracer(spark)
  private val listener = new Listener(spark, Some(external), 0, persistDir.map(_ + "-listener"))
  private val store = new Store
  private val cursors = new Cursors
  private var dbOpt: Option[Database] = None
  private val persisted = scala.collection.mutable.Set[String]()
  private val RowCap = 16

  // per-request observations outside the span tree
  private val resolves = ArrayBuffer[(Int, Int)]()        // (req, catalog resolves)
  private val planMs = ArrayBuffer[(Int, Double)]()       // (req, Catalyst phase ms)
  private val commits = ArrayBuffer[(Long, Long)]()       // (bytes, files) per disk commit
  private val walls = ArrayBuffer[(Int, String, Long, Boolean)]() // (req, kind, ns, traced)
  private val handles = ArrayBuffer[(String, Long)]()     // (kind, ns) of Listener.handle
  private var measuring = false
  private var peakCached = 0L
  private var restoreMs = Double.NaN

  private def plan(f: String) = Plan.read(dir.resolve(f))

  def run(out: String, rounds: Int): Unit = {
    tr.on = false
    val streams = Option(dir.toFile.list()).getOrElse(Array.empty[String]).sorted
      .filter(_.matches("[wr]\\d+\\.txt")).map(f => groups(plan(f)))
    try {
      for (f <- Seq("stage1.txt", "warm.txt")) { drive(plan(f))(bare); drive(plan(f))(copy) }
      if (streams.nonEmpty) {
        measuring = true
        // a fixed number of rounds, not a time limit, so that counts such
        // as bytes per commit repeat exactly for a seed
        for (round <- 0 until rounds; s <- streams if round < s.length) {
          tr.on = Trace.traced(round)
          drive(s(round))(bare)
          drive(s(round))(copy)
        }
      } else {
        // each iteration starts a fresh database, so the listener can take
        // one on its own; the copy's traced and untraced iterations come
        // after it, equally warm
        val iter = plan("iter.txt")
        measuring = true
        drive(iter)(bare)
        tr.on = true
        drive(iter)(copy)
        tr.on = false
        drive(iter)(copy)
      }
    } finally listener.close()
    tr.on = false
    measuring = false
    for (root <- persistDir) {
      val t0 = System.nanoTime()
      Persist.restoreStore(spark, root, new Store).fold(e => throw new IllegalStateException(e), identity)
      restoreMs = (System.nanoTime() - t0) / 1e6
    }
    Trace.awaitListener(counter)
    writeOut(out)
  }

  /** Split a stream into request groups: a read group is a `begin` with
    * its `fetch`/`close` lines; everything else stands alone. */
  private def groups(reqs: Vector[Req]): Vector[Vector[Req]] = {
    val out = ArrayBuffer[Vector[Req]]()
    for (r <- reqs)
      if ((r.kind == "fetch" || r.kind == "close") && out.nonEmpty) out(out.length - 1) :+= r
      else out += Vector(r)
    out.toVector
  }

  /** Send a plan's requests through `send` (kind, text), which returns
    * the cursor a request left open and whether it has more rows. */
  private def drive(reqs: Vector[Req])(send: (String, String) => Option[(String, Boolean)]): Unit = {
    var cursor = ""
    var live = true
    def one(kind: String, text: String): Unit =
      send(kind, text).foreach { case (c, more) => cursor = c; live = more }
    for (r <- reqs) {
      if (r.kind == "begin" || r.kind == "drain") live = true
      if (!((r.kind == "fetch" || r.kind == "close") && !live)) {
        one(r.kind, r.withCursor(cursor))
        // a drain is a Begin plus Fetches until the cursor is exhausted
        if (r.kind == "drain") while (live) one(r.kind, r.check.replace("{cursor}", cursor))
        if (r.kind == "close") live = false
      }
    }
  }

  /** One request through the server's own `Listener.handle`. */
  private def bare(kind: String, text: String): Option[(String, Boolean)] = {
    val t0 = System.nanoTime()
    val resp = listener.handle(text)
    if (measuring) handles += ((kind, System.nanoTime() - t0))
    if (resp.startsWith("(error"))
      throw new IllegalStateException(s"listener $kind: ${text.take(120)} -> ${resp.take(200)}")
    if (resp.startsWith("(cursor")) {
      val page = WireClient.decodeCursor(resp)
      Some((page.id, page.hasMore))
    } else None
  }

  /** One request through the traced copy of the dispatch. */
  private def copy(kind: String, text: String): Option[(String, Boolean)] = {
    tr.req += 1
    tr.kind = kind
    val t0 = System.nanoTime()
    val res = tr("request")(request(text))
    if (measuring) walls += ((tr.req, kind, System.nanoTime() - t0, tr.on))
    runProbes()
    if (tr.on) peakCached = math.max(peakCached, cachedBytes())
    res match {
      case Left(e) => throw new IllegalStateException(s"$kind: ${text.take(120)} -> ${e.sexp.render.take(200)}")
      case Right(Some(b: graft.scl.Batch)) => Some((b.cursorId, b.hasMore))
      case Right(_) => None
    }
  }

  private def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** One request, dispatched as EngineSession.executeAgainst does.
    * Returns the rows of a query, the batch of a cursor page (the caller
    * keeps the cursor), or None for a transition. */
  private def request(text: String): Either[Err, Option[Any]] =
    tr("sexp.parse")(Sexp.parse(text)).left.map(Err.SyntaxError(_): Err).flatMap { s =>
      val (tag, body) = s match {
        case SList(List(Atom(t), b)) if Set("drl", "ddl", "dml", "icl", "dcl", "scl")(t) => (t, b)
        case SList(Atom(h) :: _) =>
          (if (graft.ddl.Parser.heads(h)) "ddl" else if (graft.dml.Parser.heads(h)) "dml"
           else if (graft.icl.Parser.heads(h)) "icl" else if (graft.dcl.Parser.heads(h)) "dcl"
           else if (graft.scl.Parser.heads(h)) "scl" else "drl", s)
        case _ => ("drl", s)
      }
      val snap = dbOpt
      tag match {
        case "drl" => drl(snap, body)
        case "scl" => scl(snap, body)
        case "dml" => dml(snap, body)
        case "ddl" =>
          tr("ddl.parse")(graft.ddl.Parser.ofSexp(body)).left.map(Err.ParseError(_): Err)
            .flatMap(st => tr("ddl.execute")(graft.ddl.Executor.execute(spark, snap, st)))
            .flatMap(commit(snap, _, advance = true))
        case "icl" =>
          tr("icl.parse")(graft.icl.Parser.ofSexp(body)).left.map(Err.ParseError(_): Err)
            .flatMap(st => tr("icl.execute")(graft.icl.Executor.execute(spark, snap.get, st)))
            .flatMap(commit(snap, _, advance = true))
        case _ => dcl(snap, body)
      }
    }

  /** Catalog layering of EngineSession.catalogFor, counting resolves. */
  private final class CountingCatalog(snap: Option[Database]) extends Catalog {
    var resolves = 0
    def resolve(name: String): Either[Err, DataFrame] = {
      resolves += 1
      name match {
        case "sakura:branch" => Right(store.branchDf(spark))
        case "sakura:head"   => Right(store.headDf(spark))
        case _ => snap match {
          case Some(d) => new DbCatalog(d, Some(external)).resolve(name)
          case None    => external.resolve(name)
        }
      }
    }
  }

  private def drl(snap: Option[Database], s: Sexp): Either[Err, Option[Any]] = {
    val cat = new CountingCatalog(snap)
    val res = for {
      q <- tr("drl.parse")(graft.drl.Parser.ofSexp(s)).left.map(Err.ParseError(_): Err)
      _ <- tr("drl.gate")(graft.drl.Gate.admit(cat, q))
      df <- tr("drl.compile")(graft.drl.Compiler.compile(spark, cat, q))
    } yield tr("server.render") {
      val lim = df.limit(RowCap + 1)
      val rows = lim.collect()
      if (tr.on) planMs += ((tr.req, lim.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble))
      Some(rows.toSeq)
    }
    if (tr.on) resolves += ((tr.req, cat.resolves))
    res
  }

  private def scl(snap: Option[Database], s: Sexp): Either[Err, Option[Any]] = {
    import graft.scl.Statement._
    val cat = new CountingCatalog(snap)
    val res = tr("scl.parse")(graft.scl.Parser.ofSexp(s)).left.map(Err.ParseError(_): Err).flatMap {
      case Begin(q, limit) =>
        for {
          _ <- tr("drl.gate")(graft.drl.Gate.admit(cat, q))
          df <- tr("drl.compile")(graft.drl.Compiler.compile(spark, cat, q))
          b <- tr("scl.begin") {
            val id = cursors.register(df, graft.drl.Parser.toSexp(q).render, snap.map(_.hash).getOrElse(""))
            cursors.fetch(id, limit.getOrElse(cursors.DefaultBatch))
          }
        } yield Some(b)
      case Fetch(c, limit) =>
        tr("scl.fetch")(cursors.fetch(c, limit.getOrElse(cursors.DefaultBatch))).map(Some(_))
      case Close(c) =>
        tr("scl.close")(cursors.close(c))
        Right(None)
    }
    if (tr.on) resolves += ((tr.req, cat.resolves))
    res
  }

  private def dml(snap: Option[Database], s: Sexp): Either[Err, Option[Any]] = {
    import graft.dml.Statement._
    val db = snap.get
    val cat = new DbCatalog(db, Some(external))
    def eval(q: graft.drl.Query) = for {
      _ <- tr("drl.gate")(graft.drl.Gate.admit(cat, q))
      df <- tr("drl.compile")(graft.drl.Compiler.compile(spark, cat, q))
    } yield df
    tr("dml.parse")(graft.dml.Parser.ofSexp(s)).left.map(Err.ParseError(_): Err).flatMap {
      case InsertTuple(rel, attrs) =>
        // side probe, outside the request: the constraint check alone
        probe("icl.validate_insert") {
          for (r <- db.relation(rel); c <- Engine.coerce(db, r, attrs))
            graft.icl.Runtime.validateInsert(spark, db, r, c)
        }
        tr("dml.insert_tuple")(Engine.createTuple(spark, db, rel, attrs))
      case DeleteTuple(rel, attrs) => tr("dml.delete_tuple")(Engine.retractTuple(spark, db, rel, attrs))
      case InsertFrom(t, q) => eval(q).flatMap(df => tr("dml.insert_from")(Engine.insertFrom(spark, db, t, df)))
      case DeleteWhere(t, q) => eval(q).flatMap(df => tr("dml.delete_where")(Engine.deleteWhere(spark, db, t, df)))
      case st => tr("dml.execute")(graft.dml.Executor.execute(spark, db, st, Some(external)))
    }.flatMap(commit(snap, _, advance = true))
  }

  private def dcl(snap: Option[Database], s: Sexp): Either[Err, Option[Any]] = {
    import graft.dcl.Statement._
    tr("dcl.parse")(graft.dcl.Parser.ofSexp(s)).left.map(Err.ParseError(_): Err).flatMap {
      case st @ MergeStmt(l, r, _) =>
        val (lt, rt) = (store.tip(l), store.tip(r)) // the tips the merge starts from
        probe("dcl.diff") {
          for (lh <- lt; rh <- rt; ld <- store.load(lh); rd <- store.load(rh);
               a <- graft.dcl.Merge.findLca(ld, rd); ad <- store.load(a)) {
            graft.dcl.Diff.diff(ad, ld); graft.dcl.Diff.diff(ad, rd)
          }
        }
        tr("dcl.merge")(graft.dcl.Executor.execute(spark, store, snap.get, st))
      case st => tr("dcl.execute")(graft.dcl.Executor.execute(spark, store, snap.get, st))
    }.flatMap { case (db, _) => commit(snap, db, advance = false) }
  }

  private val probes = ArrayBuffer[(String, () => Any)]()

  /** A timed call outside the request: it runs once the request has
    * answered, as its own root span (request id negated), so it adds
    * nothing to the request's wall time. */
  private def probe(name: String)(body: => Any): Unit =
    if (tr.on) probes += ((name, () => body))

  private def runProbes(): Unit = {
    val (req, kind) = (tr.req, tr.kind)
    tr.req = -req
    tr.kind = "probe"
    try probes.foreach { case (name, body) => tr(name)(body()) }
    finally { probes.clear(); tr.req = req; tr.kind = kind }
  }

  /** EngineSession.commit: CAS against the snapshot, install, persist. */
  private def commit(snap: Option[Database], newDb: Database, advance: Boolean): Either[Err, Option[Any]] =
    tr("server.commit") {
      if (dbOpt.map(_.hash) != snap.map(_.hash))
        Left(Err.Conflict(snap.map(_.hash).getOrElse("--"), newDb.hash))
      else {
        dbOpt = Some(newDb)
        store.save(newDb)
        if (advance) store.advanceHead(newDb.hash)
        for (root <- persistDir) persist(root)
        Right(None)
      }
    }

  /** EngineSession.persist, one span per Persist call, with the bytes
    * and files each commit adds to the store. */
  private def persist(root: String): Unit = {
    val (b0, f0) = usage(root)
    val fresh = (store.allSnapshots ++ dbOpt).filterNot(d => persisted.contains(d.hash)).distinctBy(_.hash)
    tr("persist.save_snapshot")(fresh.foreach(Persist.saveSnapshot(spark, root, _)))
    fresh.foreach(d => persisted += d.hash)
    tr("persist.store_file")(Persist.writeStoreFile(spark, root, store, dbOpt))
    dbOpt = tr("persist.reopen")(dbOpt.map { d =>
      val reopened = Persist.reopen(spark, root, d)
      store.replace(reopened)
      reopened
    })
    val (b1, f1) = usage(root)
    if (tr.on) commits += ((b1 - b0, f1 - f0))
  }

  private def usage(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p)
      try {
        val regular = files.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
        (regular.map(Files.size).sum, regular.length.toLong)
      } finally files.close()
    }
  }

  private def writeOut(out: String): Unit = {
    tr.write(out + ".spans.tsv", counter)
    val json = Json.obj(Seq(
      "resolves" -> Json.arr(resolves.map { case (r, n) => s"[$r,$n]" }),
      "plan_ms" -> Json.arr(planMs.map { case (r, ms) => s"[$r,${Json.num(ms)}]" }),
      "commits" -> Json.arr(commits.map { case (b, f) => s"[$b,$f]" }),
      "walls" -> Json.arr(walls.map { case (r, k, ns, on) => s"[$r,${Json.str(k)},$ns,$on]" }),
      "handles" -> Json.arr(handles.map { case (k, ns) => s"[${Json.str(k)},$ns]" }),
      "peak_cached_bytes" -> Json.num(peakCached.toDouble),
      "restore_ms" -> Json.num(restoreMs)))
    Files.write(Paths.get(out + ".json"), json.getBytes(StandardCharsets.UTF_8))
  }
}
