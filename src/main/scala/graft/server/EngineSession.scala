package graft.server

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Err
import graft.catalog.Catalog
import graft.dcl.Store
import graft.engine.{Database, DbCatalog}
import graft.scl.Cursors
import graft.sexp.Sexp
import graft.sexp.Sexp.{Atom, SList}
import graft.types.Cardinality

/** The listener-equivalent session: one mutable head database, a snapshot
  * store + branch registry, a cursor registry, and a dispatcher over the
  * six sublanguages (reference lib/listener.ml:17-59,156-187).
  *
  * Concurrency mirrors the reference's whole-database optimistic scheme:
  * each request executes against a head SNAPSHOT its connection observed
  * (reference reads the process-global Atomic at the top of its client
  * loop, lib/listener.ml:160-167 — i.e. BEFORE blocking on the next
  * command), and a state transition commits only if the head still equals
  * that snapshot (Atomic.compare_and_set, lib/listener.ml:54-59);
  * otherwise the request fails with `Conflict` and the client retries
  * against the advanced head. [[execute]] is the snapshot-at-call-time
  * entry (single-connection semantics, never conflicts with itself);
  * [[executeAgainst]] is the wire path. Every successful transition
  * stores the new snapshot and advances the HEAD branch tip
  * (lib/listener.ml:47-51). */
sealed trait Response
final case class QueryResult(df: DataFrame) extends Response
final case class Transition(message: String) extends Response
final case class CursorBatch(batch: graft.scl.Batch) extends Response

final class EngineSession(spark: SparkSession, external: Option[Catalog] = None,
    persistDir: Option[String] = None) {
  val store = new Store
  val cursors = new Cursors
  // @volatile: connection threads read the head snapshot WITHOUT the
  // session lock (the CAS window is exactly the gap between that read and
  // the locked commit — see executeAgainst)
  @volatile private var dbOpt: Option[Database] = None

  // Snapshot hashes known to be fully on disk — saveSnapshot probes the
  // filesystem per call, so an unbounded history would cost O(history)
  // exists() round-trips per mutation without this cache.
  private val persisted = scala.collection.mutable.Set[String]()

  // disk storage backend: restore the persisted session at construction
  // (reference boots its storage from config the same way, bin/server.ml:
  // 3-12); write-through happens on every successful transition below
  for (dir <- persistDir if graft.engine.Persist.exists(spark, dir)) {
    dbOpt = graft.engine.Persist.restoreStore(spark, dir, store)
      .fold(e => throw new IllegalStateException(s"corrupt persisted store at $dir: $e"), identity)
    store.allSnapshots.foreach(d => persisted += d.hash)
    dbOpt.foreach(d => persisted += d.hash)
  }

  /** Write-through + durable chain checkpoint. Only snapshots not yet
    * known on disk are saved (one changed snapshot per transition in
    * steady state); then the current database is re-anchored on the
    * objects the save just wrote ([[graft.engine.Persist.reopen]]) —
    * each Dist relation's lineage is truncated at its content-addressed
    * parquet object, so per-save cost stays O(one mutation) instead of
    * re-executing a plan that grows with the chain, and a JVM crash at
    * any point loses at most the in-flight statement. */
  private def persist(): Unit =
    for (dir <- persistDir) {
      val fresh = (store.allSnapshots ++ dbOpt)
        .filterNot(d => persisted.contains(d.hash)).distinctBy(_.hash)
      fresh.foreach(graft.engine.Persist.saveSnapshot(spark, dir, _))
      fresh.foreach(d => persisted += d.hash)
      graft.engine.Persist.writeStoreFile(spark, dir, store, dbOpt)
      dbOpt = dbOpt.map { d =>
        val reopened = graft.engine.Persist.reopen(spark, dir, d)
        store.replace(reopened)
        reopened
      }
    }

  def db: Database = dbOpt.getOrElse(
    throw new IllegalStateException("no database; run (ddl (CreateDatabase name)) first"))

  /** Current database, if one has been created (listener rendering). */
  def current: Option[Database] = dbOpt

  /** The head snapshot a connection executes its next request against —
    * the reference's loop-top `Atomic.get db_head` (lib/listener.ml:161).
    * Lock-free by design: taken while the connection blocks on input, so
    * another connection's commit in the meantime makes this snapshot
    * stale and the next transition on it `Conflict`. */
  def headSnapshot: Option[Database] = dbOpt

  /** Statements other than CreateDatabase need a current database; report
    * its absence as a Left (the execute contract), never an exception.
    * Typed as [[graft.Err.NoDatabase]] — a documented divergence: the
    * reference boots with a database, this server bootstraps over the
    * wire, so the state is reachable here and unreachable there. */
  private def requireDb(snap: Option[Database]): Either[Err, Database] =
    snap.toRight(Err.NoDatabase("run (ddl (CreateDatabase name)) first"))

  /** Catalog layering: engine relations shadow the store-backed
    * sakura:branch / sakura:head generators, which shadow the external
    * (parquet) tables. */
  def catalog: Catalog = catalogFor(dbOpt)

  private def catalogFor(snap: Option[Database]): Catalog = {
    val below: Catalog = snap match {
      case Some(d) => new DbCatalog(d, external)
      case None => external.getOrElse(new Catalog {
        def resolve(name: String): Either[Err, DataFrame] = Left(Err.RelationNotFoundBare(name))
      })
    }
    new Catalog {
      def resolve(name: String): Either[Err, DataFrame] = name match {
        case "sakura:branch" => Right(store.branchDf(spark))
        case "sakura:head"   => Right(store.headDf(spark))
        case _               => below.resolve(name)
      }

      // the same layering by name, so the gate builds no frame
      override def cardinality(name: String): Either[Err, Cardinality] = name match {
        case "sakura:branch" | "sakura:head" => Right(Cardinality.ConstrainedFinite)
        case _                               => below.cardinality(name)
      }
    }
  }

  /** The commit point: the reference's `Atomic.compare_and_set db_head
    * old_db new_db` (lib/listener.ml:54-59). The request computed `newDb`
    * from `snap`; if the head moved past `snap` meanwhile, the transition
    * is REJECTED with the reference's `Conflict` error (carrying the
    * stale and current heads, as `Error.Conflict {old_db; new_db}` does)
    * and nothing is applied — the client re-reads and retries. Hash
    * comparison IS the reference's physical-equality CAS here: states are
    * content-addressed, so equal hashes mean semantically identical heads
    * (a retry against a content-equal head cannot lose information). */
  private def transition(snap: Option[Database], newDb: Database,
      msg: String): Either[Err, Response] =
    commit(snap, newDb, msg, advance = true)

  /** Shared CAS + apply for every Transition-producing sublanguage
    * (content mutations advance the HEAD branch tip; DCL branch ops
    * switch state without advancing — reference perform vs the dcl
    * executor's own tip updates). */
  private def commit(snap: Option[Database], newDb: Database, msg: String,
      advance: Boolean): Either[Err, Response] =
    if (dbOpt.map(_.hash) != snap.map(_.hash))
      Left(conflictError(snap, newDb))
    else {
      dbOpt = Some(newDb)
      store.save(newDb)
      if (advance) store.advanceHead(newDb.hash)
      persist()
      Right(Transition(msg))
    }

  /** The reference's `Conflict {old_db; new_db}` payload (error.ml:14,33):
    * old = the stale snapshot the request executed against, new = the
    * state it computed and failed to install. Top-level, never wrapped in
    * sublanguage-error — the reference's CAS runs in `perform` AFTER the
    * sublanguage returned (lib/listener.ml:53-59). */
  private def conflictError(snap: Option[Database], attempted: Database): Err =
    Err.Conflict(snap.map(_.hash).getOrElse("--"), attempted.hash)

  /** Snapshot-at-call-time execution: single-connection semantics — the
    * snapshot read AND the commit's CAS run under this session's
    * monitor (the same one the listener's wire path holds around
    * [[executeAgainst]], Listener.scala — reentrant, so a wire-path
    * caller landing here nests harmlessly), so this entry never
    * observes its own Conflict even when scripted callers share a
    * session across threads. Scripted/offline callers use this; the
    * listener's wire path uses [[executeAgainst]] with its own
    * explicitly-taken snapshot. */
  def execute(text: String): Either[Err, Response] =
    this.synchronized { executeAgainst(dbOpt, text) }

  /** Dispatch one request against an explicit head snapshot (reference
    * listener execute_command, lib/listener.ml:40-45). Accepts `(tag
    * stmt)` with tag ∈ drl|ddl|dml|icl|dcl|scl, or a bare statement —
    * routed to the grammar whose statement-head table owns its head atom
    * (a repo extension; the reference requires the envelope).
    *
    * Error taxonomy mirrors the reference end to end (lib/listener.ml:
    * 12-45 + lib/error.ml:18-33): unlexable text → `syntax-error`;
    * `(tag expr)` with an unknown tag → `unrecognized-sublanguage`; a
    * request no grammar owns → `malformed-expression`; any parse/execute
    * failure inside a dispatched sublanguage → `sublanguage-error`
    * wrapping the sublanguage's own typed form; a CAS loss → top-level
    * `conflict` (never wrapped — the reference CASes in `perform`, after
    * the sublanguage returned). */
  def executeAgainst(snap: Option[Database], text: String): Either[Err, Response] =
    Sexp.parse(text).left.map(Err.SyntaxError(_): Err).flatMap {
      case SList(List(Atom("drl"), q)) => runDrl(snap, q)
      case SList(List(Atom("ddl"), s)) => runDdl(snap, s)
      case SList(List(Atom("dml"), s)) => runDml(snap, s)
      case SList(List(Atom("icl"), s)) => runIcl(snap, s)
      case SList(List(Atom("dcl"), s)) => runDcl(snap, s)
      case SList(List(Atom("scl"), s)) => runScl(snap, s)
      case bare => headOf(bare) match {
        case Some(h) if graft.ddl.Parser.heads(h) => runDdl(snap, bare)
        case Some(h) if graft.dml.Parser.heads(h) => runDml(snap, bare)
        case Some(h) if graft.icl.Parser.heads(h) => runIcl(snap, bare)
        case Some(h) if graft.dcl.Parser.heads(h) => runDcl(snap, bare)
        case Some(h) if graft.scl.Parser.heads(h) => runScl(snap, bare)
        case Some(h) if graft.drl.Parser.heads(h) => runDrl(snap, bare)
        case _ => bare match {
          // the reference's envelope shape with a tag no sublanguage
          // claims (lib/listener.ml:34)
          case SList(List(Atom(tag), _)) => Left(Err.UnrecognizedSublanguage(tag))
          case s                         => Left(Err.MalformedExpression(s))
        }
      }
    }

  /** Head atom of a bare statement: `(Head ...)` or a bare `Head`. */
  private def headOf(s: Sexp): Option[String] = s match {
    case SList(Atom(h) :: _) => Some(h)
    case Atom(h)             => Some(h)
    case _                   => None
  }

  /** Wrap a sublanguage's parse/execute failure in the reference's
    * `(sublanguage-error (error e))` (lib/listener.ml:39). Top-level
    * errors — Conflict from the commit, NoDatabase — pass through. */
  private def sub(e: Err): Err = e match {
    case _: Err.Conflict   => e
    case _: Err.NoDatabase => e
    case _                 => Err.SublanguageError(e)
  }

  private def runDrl(snap: Option[Database], s: Sexp): Either[Err, Response] =
    graft.drl.Parser.ofSexp(s).left.map(e => Err.ParseError(e): Err).flatMap { q =>
      for {
        _ <- graft.drl.Gate.admit(catalogFor(snap), q)
        df <- graft.drl.Compiler.compile(spark, catalogFor(snap), q)
      } yield QueryResult(df)
    }.left.map(sub)

  private def runDdl(snap: Option[Database], s: Sexp): Either[Err, Response] =
    graft.ddl.Parser.ofSexp(s).left.map(e => sub(Err.ParseError(e))).flatMap {
      case stmt @ graft.ddl.Statement.CreateDatabase(_) =>
        graft.ddl.Executor.execute(spark, None, stmt).left.map(sub)
          .flatMap(transition(snap, _, s"ok"))
      case stmt =>
        requireDb(snap)
          .flatMap(cur =>
            graft.ddl.Executor.execute(spark, Some(cur), stmt).left.map(sub))
          .flatMap(transition(snap, _, s"ok"))
    }

  private def runDml(snap: Option[Database], s: Sexp): Either[Err, Response] =
    graft.dml.Parser.ofSexp(s).left.map(e => sub(Err.ParseError(e))).flatMap(stmt =>
      requireDb(snap)
        .flatMap(cur =>
          graft.dml.Executor.execute(spark, cur, stmt, external).left.map(sub))
        .flatMap(transition(snap, _, "ok")))

  private def runIcl(snap: Option[Database], s: Sexp): Either[Err, Response] =
    graft.icl.Parser.ofSexp(s).left.map(e => sub(Err.ParseError(e))).flatMap(stmt =>
      requireDb(snap)
        .flatMap(cur => graft.icl.Executor.execute(spark, cur, stmt).left.map(sub))
        .flatMap(transition(snap, _, "ok")))

  private def runDcl(snap: Option[Database], s: Sexp): Either[Err, Response] =
    graft.dcl.Parser.ofSexp(s).left.map(e => sub(Err.ParseError(e))).flatMap(stmt =>
      requireDb(snap)
        .flatMap(cur =>
          graft.dcl.Executor.execute(spark, store, cur, stmt).left.map(sub))
        .flatMap { case (newDb, msg) =>
          // branch ops switch/advance state but are not themselves content
          // mutations; Checkout/Merge change the current db. Same CAS as
          // content transitions (the reference routes every Transition
          // result through perform, whatever sublanguage produced it)
          commit(snap, newDb, msg, advance = false)
        })

  private def runScl(snap: Option[Database], s: Sexp): Either[Err, Response] =
    graft.scl.Parser.ofSexp(s).left.map(e => sub(Err.ParseError(e))).flatMap(stmt =>
      graft.scl.Executor.execute(spark, catalogFor(snap), cursors,
        snap.map(_.hash).getOrElse(""), stmt)
        .map(CursorBatch(_)).left.map(sub))
}
