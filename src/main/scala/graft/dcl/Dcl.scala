package graft.dcl

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.core.Algebra
import graft.engine.{Database, Engine, StoredRelation}
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
  * Tuple-level deltas are [[Delta]]s: when both versions hold Local
  * extensions (the protocol-op regime) the delta is literal row-hash set
  * algebra on the driver — the reference's own formulation
  * (diff.ml computes added/removed hash sets) with zero Spark jobs.
  * Distributed versions produce lazy anti-join DataFrames — the
  * formulation that survives at scale. */
object Diff {
  import scala.collection.immutable.VectorMap
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.types.StructType
  import graft.engine.Extension

  /** Row set as either a local hash→row map or a lazy DataFrame. */
  final case class Delta(ext: Extension, struct: StructType) {
    def df: DataFrame = ext match {
      case Extension.Local(rows) =>
        org.apache.spark.sql.SparkSession.active.createDataFrame(rows.values.toSeq.asJava, struct)
      case Extension.Dist(d, _) => d
    }
    def local: Option[VectorMap[String, Row]] = ext match {
      case Extension.Local(rows) => Some(rows)
      case _                     => None
    }
    /** Digest-carrying view (rows + [[Engine.RhCol]]): the Dist twin when
      * maintained, the keyed driver map for Local deltas (keys ARE the
      * digests), else rows hashed lazily via `rh` on first use. */
    def wideDf(rh: org.apache.spark.sql.Column): DataFrame = ext match {
      case Extension.Dist(_, Some(w)) => w
      case Extension.Dist(d, None)    => d.withColumn(Engine.RhCol, rh)
      case Extension.Local(rows) =>
        org.apache.spark.sql.SparkSession.active.createDataFrame(
          rows.iterator.map { case (h, r) => Row.fromSeq(r.toSeq :+ h) }.toSeq.asJava,
          Engine.wideStruct(struct))
    }
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
              // digest-keyed deltas: both sides read their digest twin
              // (materialized for bulk-built relations — zero sha here;
              // one lazy hash pass otherwise, same cost the row-equality
              // anti-join paid). Exact: relations are null-free and the
              // canonical digest encoding is injective on raw values, so
              // digest-equality IS attribute-equality. The deltas come
              // back WITH their digests, so merge assembly and root
              // arithmetic downstream never re-hash them.
              import org.apache.spark.sql.functions.col
              val aw = a.wideDf
              val tw = t.wideDf
              val addedW = Engine.digestJoin(tw, aw.select(col(Engine.RhCol)), "left_anti")
              val removedW = Engine.digestJoin(aw, tw.select(col(Engine.RhCol)), "left_anti")
              Some(RelationModified(name,
                added = Delta(Extension.Dist(addedW.drop(Engine.RhCol), Some(addedW)), t.struct),
                removed = Delta(Extension.Dist(removedW.drop(Engine.RhCol), Some(removedW)), a.struct),
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

  /** Conflicts a merge detected (and resolved per strategy). Schema
    * conflicts (both sides changed a relation's schema) are reachable —
    * `dcl_merge_conflicts` pins one through the wire. Tuple conflicts
    * mirror the reference's `TupleConflict` rule (merge.ml:96-106:
    * (left_add ∩ right_rem) ∪ (left_rem ∩ right_add)) and are carried
    * for parity, but that set is EMPTY BY CONSTRUCTION on the
    * reference's own diff definition: both diffs are set differences
    * against the SAME LCA (diff.ml:56-61), so a hash in `left_add` is
    * absent from the ancestor while a hash in `right_rem` is present in
    * it — the reference's tuple-conflict branch is dead code, adjudicated
    * in SURVEY §2.6. A diff defined per-transition (operation logs)
    * rather than state-vs-state would make it live. */
  final case class Conflicts(tupleConflicts: Map[String, Long], schemaConflicts: Seq[String]) {
    def describe: String =
      (tupleConflicts.map { case (r, n) => s"$n tuple conflict(s) in $r" } ++
        schemaConflicts.map(r => s"schema conflict in $r")).mkString("; ")
  }

  /** First hash in right's ancestry chain present in left's
    * (reference find_lca, merge.ml:31-36). */
  def findLca(left: Database, right: Database): Option[String] = {
    val leftAnc = (left.hash :: left.history).toSet
    (right.hash :: right.history).find(leftAnc.contains)
  }

  private def distinctUnion(a: DataFrame, b: DataFrame): DataFrame =
    Algebra.union(a, b).dropDuplicates()

  private def intersect(a: DataFrame, b: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (a.columns.toSet != b.columns.toSet) a.limit(0)
    else {
      val l = a.alias("l")
      val r = b.select(a.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).alias("r")
      val cond = a.columns.map(c => col(s"l.`$c`") <=> col(s"r.`$c`")).reduce(_ && _)
      l.join(r, cond, "left_semi").dropDuplicates()
    }
  }

  /** Merge two branch tips. Tuple conflicts (same row added on one side,
    * removed on the other) are resolved per strategy, exactly mirroring
    * the reference's hash-set rules (merge.ml:95-171) as row-set algebra.
    * A relation whose schema changed on either side is taken WHOLESALE
    * from the winning side (the reference mixes tuple hashes of two
    * schemas into one tree in the both-changed case — we take the
    * strategy winner's extension instead, recording the conflict). */
  /** Error-shape fidelity: `merge-error` wraps an `Error.t`, never a DCL
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
      val tupleConflicts = mutable.Map[String, Long]()
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
              val bothSchema = lSchema && rMod.exists(_.schemaChanged)
              if (lSchema || rMod.exists(_.schemaChanged)) {
                // wholesale winner (see scaladoc)
                if (bothSchema) schemaConflicts += name
                val winner: StoredRelation =
                  if (!lSchema) rightDb.relations.getOrElse(name, base)
                  else if (bothSchema) strategy match {
                    case PreferLeft       => leftDb.relations.getOrElse(name, base)
                    case PreferRight      => rightDb.relations.getOrElse(name, base)
                    case RevertToAncestor => base
                  }
                  else fromDb.relations.getOrElse(name, base)
                Engine.updateState(db, db.relations.updated(name, winner))
              } else {
                val localInputs = (base.localRows, lAdd.local, lRem.local,
                  rMod.map(m => (m.added.local, m.removed.local)))
                localInputs match {
                  // All row sets driver-local: the reference's hash-set
                  // merge rules verbatim (merge.ml:95-171), zero Spark jobs.
                  case (Some(baseRows), Some(la), Some(lr),
                        rm @ (None | Some((Some(_), Some(_))))) =>
                    var merged = (baseRows ++ la).removedAll(lr.keys)
                    rm match {
                      case Some((Some(ra), Some(rr))) =>
                        val conflictKeys = (la.keySet & rr.keySet) | (lr.keySet & ra.keySet)
                        if (conflictKeys.nonEmpty) {
                          tupleConflicts(name) = conflictKeys.size.toLong
                          strategy match {
                            case PreferLeft =>
                              merged = (merged ++ ra.removedAll(conflictKeys))
                                .removedAll(rr.keySet.diff(conflictKeys))
                            case PreferRight =>
                              merged = (merged.removedAll(conflictKeys) ++ ra)
                                .removedAll(rr.keySet)
                            case RevertToAncestor =>
                              merged = merged.removedAll(conflictKeys)
                          }
                        } else merged = (merged ++ ra).removedAll(rr.keySet)
                      case _ => ()
                    }
                    val root = merged.keysIterator
                      .foldLeft(Hashing.ContentRoot.empty)(_.add(_))
                    // two near-threshold sides can merge past the Local
                    // bound — promote, as every bulk path does
                    val ext: graft.engine.Extension =
                      if (merged.size > Engine.LocalThreshold)
                        graft.engine.Extension.Dist(
                          org.apache.spark.sql.SparkSession.active.createDataFrame(
                            merged.values.toSeq.asJava, base.struct))
                      else graft.engine.Extension.Local(merged)
                    Engine.updateState(db, db.relations.updated(name,
                      base.copy(ext = ext, root = root, chain = 0)))

                  // Any distributed row set: digest-keyed algebra. Every
                  // union/anti below rides the RhCol digest column (guide
                  // §8: decide on the lightweight proxy) — the deltas come
                  // back from Diff.diff WITH digests, the base contributes
                  // its maintained twin, so merge assembly re-hashes
                  // NOTHING, and the merged root is O(delta) limb
                  // arithmetic instead of a full-relation aggregation.
                  case _ =>
                    import org.apache.spark.sql.functions.col
                    val rhc = base.rowHash
                    def digestsOf(w: DataFrame): DataFrame = w.select(col(Engine.RhCol))
                    // MATERIALIZE each delta once (cut): a delta is a lazy
                    // anti-join DAG costing two relation scans, consumed up
                    // to three times below (conflict probe, merged assembly,
                    // root arithmetic). The deltas themselves are diff-sized
                    // — exactly what the reference holds as materialized
                    // hash sets (merge.ml:95-171).
                    val lAddW = graft.operators.Checkpoints.cut(lAdd.wideDf(rhc))
                    val lRemW = graft.operators.Checkpoints.cut(lRem.wideDf(rhc))
                    val baseW = base.wideDf
                    val (mergedW, root) = rMod match {
                      case Some(Diff.RelationModified(_, rAddD, rRemD, _)) =>
                        val rAddW = graft.operators.Checkpoints.cut(rAddD.wideDf(rhc))
                        val rRemW = graft.operators.Checkpoints.cut(rRemD.wideDf(rhc))
                        // conflict probe on digest sets:
                        // (lAdd ∩ rRem) ∪ (lRem ∩ rAdd) — delta-sized
                        val confD = Engine.digestJoin(digestsOf(lAddW), digestsOf(rRemW), "left_semi")
                          .unionAll(Engine.digestJoin(digestsOf(lRemW), digestsOf(rAddW), "left_semi"))
                          .distinct()
                        val nConf = confD.count()
                        if (nConf > 0) {
                          tupleConflicts(name) = nConf
                          // conflict branches are DEAD on reference-shaped
                          // diffs (see the Conflicts scaladoc: lAdd is
                          // ancestor-disjoint while rRem is ancestor-
                          // contained, so both intersections are empty) —
                          // keep the legacy row algebra verbatim rather than
                          // carry an equivalence proof for unreachable code
                          val lAddDf = lAddW.drop(Engine.RhCol)
                          val lRemDf = lRemW.drop(Engine.RhCol)
                          val rAddDf = rAddW.drop(Engine.RhCol)
                          val rRemDf = rRemW.drop(Engine.RhCol)
                          val conflicts = distinctUnion(
                            intersect(lAddDf, rRemDf), intersect(lRemDf, rAddDf))
                          var merged = Algebra.diff(distinctUnion(base.df, lAddDf), lRemDf)
                          strategy match {
                            case PreferLeft =>
                              merged = Algebra.diff(
                                distinctUnion(merged, Algebra.diff(rAddDf, conflicts)),
                                Algebra.diff(rRemDf, conflicts))
                            case PreferRight =>
                              merged = Algebra.diff(
                                distinctUnion(Algebra.diff(merged, conflicts), rAddDf), rRemDf)
                            case RevertToAncestor =>
                              merged = Algebra.diff(merged, conflicts)
                          }
                          (merged.withColumn(Engine.RhCol, rhc),
                            Hashing.contentRootOf(merged, rhc))
                        } else {
                          // merged = (base − lRem − rRem) ∪ lAdd ∪ (rAdd − lAdd)
                          // (adds are ancestor-disjoint; removes are
                          // ancestor-contained; lAdd∩rRem = lRem∩rAdd = ∅ was
                          // just verified, so subtract-then-add commutes and
                          // the add set is duplicate-free after the rAdd−lAdd
                          // dedup — the one overlap two honest diffs can have)
                          val remsD = digestsOf(lRemW).unionAll(digestsOf(rRemW))
                          val adds = lAddW.unionAll(
                            Engine.digestJoin(rAddW, digestsOf(lAddW), "left_anti"))
                          val mw = Engine.digestJoin(baseW, remsD, "left_anti").unionAll(adds)
                          // root = base.root − root(lRem ∪ rRem) + root(adds):
                          // exact limb arithmetic over delta-sized digest
                          // aggregations (the remove union is deduped —
                          // both sides may remove the same base row)
                          val remRoot = Hashing.contentRootOf(remsD.distinct(), col(Engine.RhCol))
                          val addRoot = Hashing.contentRootOf(adds, col(Engine.RhCol))
                          (mw, base.root.subtract(remRoot).merge(addRoot))
                        }
                      case _ =>
                        // left-only change: merged = (base − lRem) ∪ lAdd
                        val mw = Engine.digestJoin(baseW, digestsOf(lRemW), "left_anti").unionAll(lAddW)
                        val remRoot = Hashing.contentRootOf(lRemW, col(Engine.RhCol))
                        val addRoot = Hashing.contentRootOf(lAddW, col(Engine.RhCol))
                        (mw, base.root.subtract(remRoot).merge(addRoot))
                    }
                    // a merge stacks several union/anti nodes — bound the
                    // plan chain (the digest column rides the checkpoint)
                    val (ext, chain) = Engine.boundedDistWide(mergedW, base.chain, cost = 4)
                    Engine.updateState(db, db.relations.updated(name,
                      base.copy(ext = ext, root = root, chain = chain)))
                }
              }
          }
      }

      var db = ancestor
      val leftNames = leftDiffs.map(_.name).toSet
      for (ld <- leftDiffs) db = applyOne(db, ld, rightDiffs.get(ld.name), leftDb)
      for ((n, rdOnly) <- rightDiffs if !leftNames.contains(n))
        db = applyOne(db, rdOnly, None, rightDb)
      (db, Conflicts(tupleConflicts.toMap, schemaConflicts.toSeq))
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
          if (conflicts.tupleConflicts.isEmpty && conflicts.schemaConflicts.isEmpty) ""
          else s" [conflicts: ${conflicts.describe}]"
        (merged, s"Merged:$right->$left$suffix")
      }
  }
}
