package graft.dcl

import graft.SparkTestBase
import graft.engine.{Database, Engine, Extension, StoredRelation}
import graft.hashing.Hashing
import graft.types.{RelSchema, Value}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Model check of the DCL merge equation. Two branches fork from one
  * base state and run random edit scripts (InsertTuple, DeleteTuple,
  * InsertFrom, DeleteWhere) over key ranges that overlap in the middle,
  * so both branches sometimes add or remove the same row. Each branch
  * first inserts its own marker row, which keeps every branch state
  * unique and makes the LCA the true fork point. For each relation
  * representation (Local, Dist with materialized digests as the engine
  * builds it, Dist with lazy digests as restored from disk) and every
  * strategy, the merged relation must hold exactly
  * `(base − (lRem ∪ rRem)) ∪ lAdd ∪ rAdd` computed on the driver from the
  * three states' rows, its root must equal a recomputed one, and no
  * conflict may be reported. */
class MergeModelSpec extends SparkTestBase {
  import MergeModelSpec._

  private val schema = RelSchema(List("k" -> "integer", "v" -> "string"))
  private val baseRows: Set[(Long, String)] = (0L until 12L).map(k => k -> s"a$k").toSet

  private def attrs(r: (Long, String)): Seq[(String, Value)] =
    Seq("k" -> Value.IntV(r._1), "v" -> Value.StrV(r._2))

  private def rowsOf(rel: StoredRelation): Seq[(Long, String)] =
    rel.df.collect().toSeq.map(r => r.getLong(0) -> r.getString(1))

  private lazy val localBase: Database = {
    val db = Engine.createRelation(spark, Engine.createDatabase(spark, "mergemodel"), "t", schema)
      .fold(e => fail(e.message), identity)
    Engine.createTuples(spark, db, "t", baseRows.toSeq.sorted.map(attrs))
      .fold(e => fail(e.message), identity)
  }

  private def baseFor(shape: Shape): Database = {
    val rel = localBase.relations("t")
    val ext = shape match {
      case LocalShape => rel.ext
      case TwinDist     => Extension.Dist(rel.wideDf)
      case RestoredDist => Extension.Dist(rel.df.withColumn(Engine.RhCol, rel.rowHash))
    }
    Engine.updateState(localBase, localBase.relations.updated("t", rel.copy(ext = ext)))
  }

  /** Apply `script` to `base`; edits that would fail (a duplicate insert,
    * a missing delete) are skipped, so every applied edit commits. Returns
    * the branch tip and the row set the applied edits imply. */
  private def run(base: Database, marker: (Long, String),
      script: List[Edit]): (Database, Set[(Long, String)]) = {
    var db = Engine.createTuple(spark, base, "t", attrs(marker)).fold(e => fail(e.message), identity)
    var model = baseRows + marker
    def commit(next: Either[graft.Err, Database]): Unit =
      db = next.fold(e => fail(e.message), identity)
    script.foreach {
      case InsertTuple(r) if !model.contains(r) =>
        commit(Engine.createTuple(spark, db, "t", attrs(r))); model += r
      case DeleteTuple(pick) =>
        val present = (model - marker).toSeq.sorted
        if (present.nonEmpty) {
          val r = present(pick % present.size)
          commit(Engine.retractTuple(spark, db, "t", attrs(r))); model -= r
        }
      case InsertFrom(rs) =>
        val fresh = rs.distinct.filterNot(model.contains)
        if (fresh.nonEmpty) {
          commit(Engine.insertFrom(spark, db, "t", spark.createDataFrame(
            java.util.Arrays.asList(fresh.map { case (k, v) => Row(k, v) }: _*),
            db.relations("t").struct)))
          model ++= fresh
        }
      case DeleteWhere(ks) =>
        import spark.implicits._
        commit(Engine.deleteWhere(spark, db, "t", ks.toDF("k")))
        model = model.filterNot(r => ks.contains(r._1))
      case _ => ()
    }
    (db, model)
  }

  private def checkScenario(shape: Shape, l: List[Edit], r: List[Edit], tag: Int): Boolean = {
    val base = baseFor(shape)
    val (left, lModel) = run(base, 1000L -> "Lmark", l)
    val (right, rModel) = run(base, 1001L -> "Rmark", r)
    assert(Merge.findLca(left, right).contains(base.hash), "the LCA must be the fork point")
    val store = new Store
    Seq(base, left, right).foreach(store.save)
    store.createBranch("l", left.hash)
    store.createBranch("r", right.hash)

    val b = rowsOf(base.relations("t")).toSet
    val lRows = rowsOf(left.relations("t")).toSet
    val rRows = rowsOf(right.relations("t")).toSet
    assert(lRows == lModel && rRows == rModel, "a branch state diverged from its edits")
    val expected = (b -- ((b -- lRows) ++ (b -- rRows))) ++ (lRows -- b) ++ (rRows -- b)

    // every strategy merges; one of them (rotating across scenarios) goes
    // through the executor, whose response must carry no conflict report
    val strategies = Seq(Merge.PreferLeft, Merge.PreferRight, Merge.RevertToAncestor)
    strategies.zipWithIndex.foreach { case (strategy, i) =>
      val what = s"$shape/$strategy"
      val merged =
        if (i == tag % 3) {
          val (db, msg) = Executor.execute(spark, store, left, Statement.MergeStmt("l", "r", strategy))
            .fold(e => fail(e.message), identity)
          assert(msg == "Merged:r->l", s"$what via the executor: $msg")
          store.updateTip("l", left.hash)
          db
        } else {
          val (db, conflicts) = Merge.merge(spark, store, strategy, left.hash, right.hash)
            .fold(e => fail(e.message), identity)
          assert(conflicts.schemaConflicts.isEmpty, s"$what reported $conflicts")
          db
        }
      val rel = merged.relations("t")
      val got = rowsOf(rel)
      assert(got.size == got.toSet.size, s"$what: merged relation holds duplicate rows")
      assert(got.toSet == expected, s"$what: merged rows differ\n  l=$l\n  r=$r")
      assert(rel.root == Hashing.contentRootOf(rel.df, rel.rowHash), s"$what: merged root is not exact")
      if (i == 0) rel.ext match {
        case Extension.Dist(w) =>
          assert(w.filter(!(col(Engine.RhCol) <=> rel.rowHash)).isEmpty,
            s"$what: merged digests must equal the row digests")
        case _ => ()
      }
    }
    true
  }

  /** Both branches add the same rows and remove the same base rows: the
    * overlap the equation's `rAdd − lAdd` and deduplicated removes cover,
    * pinned in case the random scripts miss it. */
  private val sharedEdits: List[Edit] =
    List(InsertTuple(9L -> "b9"), DeleteWhere(List(3L)), InsertFrom(List(10L -> "b10", 12L -> "a12")))

  private def sweep(shape: Shape, scenarios: Int, seed: Long): Unit = {
    checkScenario(shape, sharedEdits, sharedEdits.reverse, 0)
    var tag = 0
    val prop = Prop.forAllNoShrink(genScript(0L, 16L), genScript(8L, 24L)) { (l, r) =>
      tag += 1
      checkScenario(shape, l, r, tag)
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(scenarios).withWorkers(1)
        .withInitialSeed(Seed(seed)), prop)
    assert(res.passed, res.status.toString)
  }

  test("random branch edits merge by the set equation on Local relations") {
    sweep(LocalShape, scenarios = 12, seed = 41L)
  }

  test("random branch edits merge by the set equation on Dist relations with a digest twin") {
    sweep(TwinDist, scenarios = 2, seed = 42L)
  }

  test("random branch edits merge by the set equation on restored Dist relations") {
    sweep(RestoredDist, scenarios = 2, seed = 43L)
  }
}

object MergeModelSpec {
  sealed trait Shape
  case object LocalShape extends Shape
  case object TwinDist extends Shape
  case object RestoredDist extends Shape

  sealed trait Edit
  final case class InsertTuple(row: (Long, String)) extends Edit
  /** Deletes the `pick`-th present non-marker row, if any. */
  final case class DeleteTuple(pick: Int) extends Edit
  final case class InsertFrom(rows: List[(Long, String)]) extends Edit
  final case class DeleteWhere(keys: List[Long]) extends Edit

  /** Rows over keys `[lo, hi)`; each key has two variants, so a branch
    * can replace a base row's value as well as add or remove keys. */
  private def genRow(lo: Long, hi: Long): Gen[(Long, String)] =
    for { k <- Gen.choose(lo, hi - 1); p <- Gen.oneOf("a", "b") } yield k -> s"$p$k"

  def genScript(lo: Long, hi: Long): Gen[List[Edit]] = {
    val edit = Gen.frequency(
      3 -> genRow(lo, hi).map(InsertTuple(_)),
      3 -> Gen.choose(0, 1000).map(DeleteTuple(_)),
      2 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, genRow(lo, hi))).map(InsertFrom(_)),
      2 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.choose(lo, hi - 1))).map(DeleteWhere(_)))
    Gen.choose(1, 4).flatMap(Gen.listOfN(_, edit))
  }
}
