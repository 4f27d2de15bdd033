package graft.dcl

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.engine.{Database, Engine, Extension, StoredRelation}
import graft.hashing.Hashing
import graft.sexp.Sexp
import graft.sexp.Sexp.{Atom, SList}

/** Branch registry + snapshot store (reference lib/management/branch.ml).
  *
  * A snapshot is a Database VALUE — lazy DataFrame plans plus hashes — so
  * storing every state is cheap (the reference's append-only
  * content-addressed storage gives the same property). HEAD is a branch
  * name; every successful mutation advances the HEAD branch's tip
  * (reference lib/listener.ml:47-51). */
final class Store {
  private val snapshots = mutable.Map[String, Database]()
  private val branches = mutable.LinkedHashMap[String, String]()
  private var headBranch: Option[String] = None

  def save(db: Database): Unit = if (!snapshots.contains(db.hash)) snapshots(db.hash) = db
  def load(hash: String): Option[Database] = snapshots.get(hash)
  /** Swap a stored snapshot for an equal-hash representation (same
    * content, different plan — e.g. re-anchored on persisted objects so
    * a later Checkout starts from a clean object scan). */
  def replace(db: Database): Unit = snapshots(db.hash) = db

  def createBranch(name: String, tip: String): Unit = branches(name) = tip
  def tip(name: String): Option[String] = branches.get(name)
  def updateTip(name: String, tip: String): Either[graft.Err, Unit] =
    if (branches.contains(name)) { branches(name) = tip; Right(()) }
    else Left(graft.Err.BranchNotFound(name))
  def checkout(name: String): Unit = headBranch = Some(name)
  def head: Option[String] = headBranch
  def list: Seq[(String, String)] = branches.toSeq
  /** Every stored snapshot (persistence walks these). */
  def allSnapshots: Seq[Database] = snapshots.values.toSeq

  /** Advance HEAD's tip after a successful mutation
    * (reference advance_head_branch, lib/listener.ml:47-51). */
  def advanceHead(newHash: String): Unit =
    headBranch.foreach(n => if (branches.contains(n)) branches(n) = newHash)

  /** sakura:branch — (name, 8-char hash prefix), reference
    * lib/management/branch.ml:74-105. */
  def branchDf(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("name", StringType), StructField("hash", StringType)))
    val rows = list.map { case (n, t) => Row(n, t.take(8)) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** sakura:head — single branch-name tuple (branch.ml:107-132). */
  def headDf(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("branch", StringType)))
    spark.createDataFrame(java.util.Arrays.asList(headBranch.map(Row(_)).toSeq: _*), schema)
  }
}

/** Structural delta between two database states
  * (reference lib/management/diff.ml:29-70).
  *
  * Tuple-level deltas are [[Delta]]s, both set differences against the
  * SAME ancestor: `added` lies outside it, `removed` inside it. When both
  * versions hold Local extensions the delta is literal row-hash set
  * algebra on the driver — the reference's own formulation (diff.ml
  * computes added/removed hash sets) with zero Spark jobs. Distributed
  * versions produce lazy digest-keyed anti-join DataFrames — the
  * formulation that survives at scale. */
object Diff {
  import scala.collection.immutable.VectorMap
  import org.apache.spark.sql.types.StructType

  /** Row set as either a local hash→row map or a lazy Dist frame that
    * carries each row's digest, so neither form re-hashes downstream. */
  final case class Delta(ext: Extension, struct: StructType) {
    def df: DataFrame = ext match {
      case Extension.Local(rows) =>
        org.apache.spark.sql.SparkSession.active.createDataFrame(rows.values.toSeq.asJava, struct)
      case d: Extension.Dist => d.df
    }
    def local: Option[VectorMap[String, Row]] = ext match {
      case Extension.Local(rows) => Some(rows)
      case _                     => None
    }
    /** Digest-carrying view (rows + [[Engine.RhCol]], [[Engine.wideOf]]). */
    def wideDf: DataFrame = Engine.wideOf(ext, struct)
  }

  sealed trait RelationDiff { def name: String }
  final case class RelationAdded(rel: StoredRelation) extends RelationDiff { def name: String = rel.name }
  final case class RelationRemoved(name: String) extends RelationDiff
  final case class RelationModified(name: String, added: Delta, removed: Delta,
      schemaChanged: Boolean) extends RelationDiff

  def diff(ancestor: Database, target: Database): Seq[RelationDiff] = {
    val names = (ancestor.relations.keySet ++ target.relations.keySet).toSeq
    names.flatMap { name =>
      (ancestor.relations.get(name), target.relations.get(name)) match {
        case (None, Some(rel)) => Some(RelationAdded(rel))
        case (Some(_), None)   => Some(RelationRemoved(name))
        case (Some(a), Some(t)) =>
          if (a.relHash == t.relHash) None
          else if (a.schema != t.schema)
            // disjoint hash-spaces: everything moved (reference computes the
            // same via value-encoding hashes)
            Some(RelationModified(name, added = Delta(t.ext, t.struct),
              removed = Delta(a.ext, a.struct), schemaChanged = true))
          else (a.localRows, t.localRows) match {
            case (Some(ar), Some(tr)) =>
              Some(RelationModified(name,
                added = Delta(Extension.Local(tr.filter { case (h, _) => !ar.contains(h) }), t.struct),
                removed = Delta(Extension.Local(ar.filter { case (h, _) => !tr.contains(h) }), a.struct),
                schemaChanged = false))
            case _ =>
              // digest-keyed deltas: both sides read their digest column
              // (materialized for relations the engine built — zero sha
              // here; one lazy hash pass for a restored one). Exact:
              // relations are null-free and the canonical digest
              // encoding is injective on raw values, so
              // digest-equality IS attribute-equality. The deltas come
              // back WITH their digests, so merge assembly and root
              // arithmetic downstream never re-hash them.
              import org.apache.spark.sql.functions.col
              val aw = a.wideDf
              val tw = t.wideDf
              val addedW = Engine.digestJoin(tw, aw.select(col(Engine.RhCol)), "left_anti")
              val removedW = Engine.digestJoin(aw, tw.select(col(Engine.RhCol)), "left_anti")
              Some(RelationModified(name,
                added = Delta(Extension.Dist(addedW), t.struct),
                removed = Delta(Extension.Dist(removedW), a.struct),
                schemaChanged = false))
          }
        case (None, None) => None
      }
    }
  }
}

/** 3-way merge with LCA discovery over the history chains
  * (reference lib/management/merge.ml:31-287). */
object Merge {
  sealed trait Strategy
  case object PreferLeft extends Strategy
  case object PreferRight extends Strategy
  case object RevertToAncestor extends Strategy

  /** Conflicts a merge resolved per strategy: relations whose schema
    * changed on both sides. The reference also defines a tuple conflict
    * (merge.ml:96-106: (left_add ∩ right_rem) ∪ (left_rem ∩ right_add)),
    * but that set is empty for every input: both diffs are set
    * differences against the SAME LCA (diff.ml:56-61), so a hash in
    * `left_add` is absent from the ancestor while a hash in `right_rem`
    * is present in it (SURVEY §2.6). There is nothing to report. */
  final case class Conflicts(schemaConflicts: Seq[String]) {
    def describe: String = schemaConflicts.map(r => s"schema conflict in $r").mkString("; ")
  }

  /** First hash in right's ancestry chain present in left's
    * (reference find_lca, merge.ml:31-36). */
  def findLca(left: Database, right: Database): Option[String] = {
    val leftAnc = (left.hash :: left.history).toSet
    (right.hash :: right.history).find(leftAnc.contains)
  }

  /** Merge two branch tips.
    *
    * A relation whose schema changed on either side is taken WHOLESALE
    * from the winning side; when both sides changed it, `strategy` picks
    * the winner and the conflict is reported (the reference mixes tuple
    * hashes of two schemas into one tree there — we take the winner's
    * extension instead). Every other relation merges by one equation
    * over the LCA `base` and the two diffs against it:
    *
    * {{{
    *   merged = (base − (lRem ∪ rRem)) ∪ lAdd ∪ (rAdd − lAdd)
    *   root   = base.root − root(lRem ∪ rRem) + root(lAdd ∪ (rAdd − lAdd))
    * }}}
    *
    * A side without a diff contributes empty deltas. The equation is
    * evaluated on driver maps when every input is Local, else on
    * digest-keyed wide frames; either way the root costs O(delta), never
    * a pass over the merged relation.
    *
    * Precondition: the diffs are honest, i.e. computed by [[Diff.diff]]
    * against `base`. Adds then lie outside `base` and removes inside it,
    * so subtracting before adding commutes, the add terms are disjoint
    * after `rAdd − lAdd`, and the root arithmetic is exact.
    *
    * Error-shape fidelity: `merge-error` wraps an `Error.t`, never a DCL
    * executor variant — the reference's merge loads tips through the
    * manipulation layer, whose missing-database failures are strings
    * lifted via `of_string_error` = `Error.StorageError`
    * (management/merge.ml:177,186-198; manipulation.ml:79), so a missing
    * tip renders `(merge-error (storage-error ...))` with these exact
    * messages. `(no-database-at-hash h)` is a TOP-LEVEL dcl executor
    * variant (dcl/executor.ml:21, the Checkout path) and never nests
    * under merge-error. The reference's `branch-error` variant
    * (executor.ml:19) wraps storage-layer load failures during Checkout;
    * this Store's only failure mode is absence (an in-memory map), which
    * IS `no-database-at-hash` — the wrapped-Error.t channel has nothing
    * reachable to carry, so the variant is not modeled. */
  def merge(spark: SparkSession, store: Store, strategy: Strategy,
      leftTip: String, rightTip: String): Either[graft.Err, (Database, Conflicts)] =
    for {
      leftDb <- store.load(leftTip).toRight(graft.Err.MergeError(
        graft.Err.StorageError(s"Left tip not found: $leftTip")))
      rightDb <- store.load(rightTip).toRight(graft.Err.MergeError(
        graft.Err.StorageError(s"Right tip not found: $rightTip")))
      lcaHash <- findLca(leftDb, rightDb).toRight(graft.Err.MergeError(
        graft.Err.StorageError("No common ancestor found between branches")))
      ancestor <- store.load(lcaHash).toRight(graft.Err.MergeError(
        graft.Err.StorageError(s"Ancestor not found: $lcaHash")))
    } yield {
      val leftDiffs = Diff.diff(ancestor, leftDb)
      val rightDiffs = Diff.diff(ancestor, rightDb).map(d => d.name -> d).toMap
      val schemaConflicts = mutable.ListBuffer[String]()

      def applyOne(db: Database, ld: Diff.RelationDiff, rd: Option[Diff.RelationDiff],
          fromDb: Database): Database = ld match {
        case Diff.RelationAdded(rel) => Engine.updateState(db, db.relations.updated(rel.name, rel))
        case Diff.RelationRemoved(n) => Engine.updateState(db, db.relations.removed(n))
        case Diff.RelationModified(name, lAdd, lRem, lSchema) =>
          db.relations.get(name) match {
            case None => db
            case Some(base) =>
              val rMod = rd.collect { case m: Diff.RelationModified => m }
              val rSchema = rMod.exists(_.schemaChanged)
              val merged =
                if (lSchema || rSchema) {
                  // wholesale winner (see scaladoc)
                  if (lSchema && rSchema) schemaConflicts += name
                  if (!lSchema) rightDb.relations.getOrElse(name, base)
                  else if (rSchema) strategy match {
                    case PreferLeft       => leftDb.relations.getOrElse(name, base)
                    case PreferRight      => rightDb.relations.getOrElse(name, base)
                    case RevertToAncestor => base
                  }
                  else fromDb.relations.getOrElse(name, base)
                } else {
                  val none = Diff.Delta(Extension.emptyLocal, base.struct)
                  mergeRelation(base, lAdd, lRem,
                    rMod.fold(none)(_.added), rMod.fold(none)(_.removed))
                }
              Engine.updateState(db, db.relations.updated(name, merged))
          }
      }

      var db = ancestor
      val leftNames = leftDiffs.map(_.name).toSet
      for (ld <- leftDiffs) db = applyOne(db, ld, rightDiffs.get(ld.name), leftDb)
      for ((n, rdOnly) <- rightDiffs if !leftNames.contains(n))
        db = applyOne(db, rdOnly, None, rightDb)
      (db, Conflicts(schemaConflicts.toSeq))
    }

  /** The merge equation (see [[merge]]) for one same-schema relation. */
  private def mergeRelation(base: StoredRelation, lAdd: Diff.Delta, lRem: Diff.Delta,
      rAdd: Diff.Delta, rRem: Diff.Delta): StoredRelation =
    (base.localRows, lAdd.local, lRem.local, rAdd.local, rRem.local) match {
      // every row set driver-local: hash-map algebra, zero Spark jobs
      case (Some(baseRows), Some(la), Some(lr), Some(ra), Some(rr)) =>
        val rems = lr.keySet | rr.keySet
        val adds = la ++ ra.filter { case (h, _) => !la.contains(h) }
        val rows = baseRows.removedAll(rems) ++ adds
        val root = adds.keysIterator.foldLeft(rems.foldLeft(base.root)(_.remove(_)))(_.add(_))
        // two near-threshold sides can merge past the Local bound —
        // promote, as every bulk path does
        val ext =
          if (rows.size > Engine.LocalThreshold) Engine.promote(rows, base.struct)
          else Extension.Local(rows)
        base.copy(ext = ext, root = root, chain = 0)

      // any distributed row set: the same equation on digest-keyed wide
      // frames. The deltas come back from Diff.diff WITH digests and the
      // base contributes its own, so nothing is re-hashed, and the root
      // is two delta-sized digest aggregations.
      case _ =>
        import org.apache.spark.sql.functions.col
        def digestsOf(w: DataFrame): DataFrame = w.select(col(Engine.RhCol))
        // a Dist delta is a lazy anti-join over two relation scans, read
        // by the root aggregations and again by every read of the merged
        // relation: cut it once (it is diff-sized). Local deltas already
        // live on the driver.
        def wide(d: Diff.Delta): DataFrame = d.ext match {
          case _: Extension.Local => d.wideDf
          case _                  => graft.operators.Checkpoints.cut(d.wideDf)
        }
        val lAddW = wide(lAdd)
        val rems = digestsOf(wide(lRem)).unionAll(digestsOf(wide(rRem)))
        val adds = lAddW.unionAll(Engine.digestJoin(wide(rAdd), digestsOf(lAddW), "left_anti"))
        val mergedW = Engine.digestJoin(base.wideDf, rems, "left_anti").unionAll(adds)
        // both sides may remove the same base row: dedup the remove digests
        val remRoot = Hashing.contentRootOf(rems.distinct(), col(Engine.RhCol))
        val addRoot = Hashing.contentRootOf(adds, col(Engine.RhCol))
        // a merge stacks several union/anti nodes — bound the plan chain
        // (the digest column rides the checkpoint)
        val (ext, chain) = Engine.boundedDist(mergedW, base.chain, cost = 4)
        base.copy(ext = ext, root = base.root.subtract(remRoot).merge(addRoot), chain = chain)
    }
}

/** DCL statements (reference lib/dcl/ast.ml:6-13). */
sealed trait Statement
object Statement {
  final case class CreateBranch(name: String, hash: Option[String]) extends Statement
  final case class Checkout(name: String) extends Statement
  case object GetHead extends Statement
  final case class GetBranchTip(name: String) extends Statement
  final case class UpdateBranchTip(name: String, hash: String) extends Statement
  final case class MergeStmt(left: String, right: String, strategy: Merge.Strategy) extends Statement
}

object Parser {
  import Statement._

  /** Statement-head atoms this grammar owns (see drl.Parser.heads). */
  val heads: Set[String] = Set("CreateBranch", "Checkout", "GetHead",
    "GetBranchTip", "UpdateBranchTip", "Merge")

  def parse(input: String): Either[String, Statement] =
    Sexp.parse(input).flatMap(ofSexp)

  def ofSexp(s: Sexp): Either[String, Statement] = s match {
    case SList(Atom("dcl") :: st :: Nil) => ofSexp(st)
    case SList(Atom("CreateBranch") :: fields) =>
      val fm = fields.collect { case SList(List(Atom(k), v)) => k -> v }.toMap
      for {
        n <- fm.get("name").toRight("missing field: name").flatMap(atom)
        h <- fm.get("hash") match {
          case None          => Right(None)
          case Some(Atom(a)) => Right(Some(a))
          case Some(o)       => Left(s"bad hash: ${o.render}")
        }
      } yield CreateBranch(n, h)
    case SList(List(Atom("Checkout"), Atom(n)))     => Right(Checkout(n))
    case SList(List(Atom("GetHead"))) | Atom("GetHead") => Right(GetHead)
    case SList(List(Atom("GetBranchTip"), Atom(n))) => Right(GetBranchTip(n))
    case SList(Atom("UpdateBranchTip") :: fields) =>
      val fm = fields.collect { case SList(List(Atom(k), v)) => k -> v }.toMap
      for {
        n <- fm.get("name").toRight("missing field: name").flatMap(atom)
        h <- fm.get("hash").toRight("missing field: hash").flatMap(atom)
      } yield UpdateBranchTip(n, h)
    case SList(Atom("Merge") :: fields) =>
      val fm = fields.collect { case SList(List(Atom(k), v)) => k -> v }.toMap
      for {
        l <- fm.get("left").toRight("missing field: left").flatMap(atom)
        r <- fm.get("right").toRight("missing field: right").flatMap(atom)
        s <- fm.get("strategy").toRight("missing field: strategy").flatMap {
          case Atom("PreferLeft")       => Right(Merge.PreferLeft)
          case Atom("PreferRight")      => Right(Merge.PreferRight)
          case Atom("RevertToAncestor") => Right(Merge.RevertToAncestor)
          case o                        => Left(s"bad strategy: ${o.render}")
        }
      } yield MergeStmt(l, r, s)
    case other => Left(s"unrecognized DCL form: ${other.render}")
  }

  private def atom(s: Sexp): Either[String, String] = s match {
    case Atom(a) => Right(a)
    case o => Left(s"bad atom: ${o.render}")
  }
}

/** DCL executor (reference lib/dcl/executor.ml:32-96). Returns the
  * (possibly switched) current database plus a response message. */
object Executor {
  import Statement._

  def execute(spark: SparkSession, store: Store, db: Database,
      stmt: Statement): Either[graft.Err, (Database, String)] = stmt match {
    case CreateBranch(name, hash) =>
      store.save(db)
      val tip = hash.getOrElse(db.hash)
      store.createBranch(name, tip)
      Right((db, s"Branch $name created"))
    case Checkout(name) =>
      for {
        tip <- store.tip(name).toRight(graft.Err.BranchNotFound(name))
        loaded <- store.load(tip).toRight(graft.Err.NoDatabaseAtHash(tip))
      } yield { store.checkout(name); (loaded, s"HEAD:$name") }
    case GetHead =>
      Right((db, store.head.map("HEAD:" + _).getOrElse("HEAD is unset")))
    case GetBranchTip(name) =>
      store.tip(name).toRight(graft.Err.BranchNotFound(name)).map(h => (db, s"branch:$name=$h"))
    case UpdateBranchTip(name, hash) =>
      store.updateTip(name, hash).map(_ => (db, s"Branch $name updated"))
    case MergeStmt(left, right, strategy) =>
      for {
        lt <- store.tip(left).toRight(graft.Err.BranchNotFound(left))
        rt <- store.tip(right).toRight(graft.Err.BranchNotFound(right))
        res <- Merge.merge(spark, store, strategy, lt, rt)
      } yield {
        val (merged, conflicts) = res
        store.save(merged)
        store.updateTip(left, merged.hash)
        // conflicts ride the response (the reference returns the conflict
        // list alongside the merged db, merge.ml:184-287 — a merge that
        // silently resolved conflicts per strategy is information the
        // client must see to audit the resolution)
        val suffix =
          if (conflicts.schemaConflicts.isEmpty) ""
          else s" [conflicts: ${conflicts.describe}]"
        (merged, s"Merged:$right->$left$suffix")
      }
  }
}
