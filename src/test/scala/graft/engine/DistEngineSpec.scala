package graft.engine

import graft.SparkTestBase
import graft.hashing.Hashing
import graft.types.{RelSchema, Value}
import org.apache.spark.sql.functions._

/** The DISTRIBUTED engine paths — what runs when a relation outgrows the
  * Local threshold: set-wise bulk insert (aggregation dup-check,
  * anti-join clash check, distributed content-root), single-tuple ops as
  * filtered scans, anti-join DeleteWhere, and the DataFrame DCL
  * diff/merge. Every other suite stays under the threshold; this one
  * forces relations past it with generated data. */
class DistEngineSpec extends SparkTestBase {
  import spark.implicits._

  private val n = Engine.LocalThreshold + 20000 // safely past the threshold

  private def bigDf(rows: Long, tag: String = "v") =
    spark.range(rows).select(col("id").as("k"), concat(lit(tag), col("id")).as("v"))

  private def freshBig: Database = {
    val db = Engine.createRelation(spark, Engine.createDatabase(spark, "dist"),
      "big", RelSchema(List("k" -> "integer", "v" -> "string"))).fold(e => fail(e.message), identity)
    Engine.insertFrom(spark, db, "big", bigDf(n)).fold(e => fail(e.message), identity)
  }

  test("bulk insert past the threshold promotes to a Dist extension with a correct root") {
    val db = freshBig
    val rel = db.relations("big")
    assert(rel.localRows.isEmpty, "should have promoted to Dist")
    assert(rel.cardinality == n)
    assert(rel.df.count() == n)
    // incremental root equals a from-scratch distributed recompute
    assert(rel.root == Hashing.contentRootOf(rel.df, rel.rowHash))
  }

  test("Dist single-tuple ops: duplicate rejection, insert, retract") {
    val db = freshBig
    // duplicate of an existing row is caught by the filtered scan
    assert(Engine.createTuple(spark, db, "big",
      Seq("k" -> Value.IntV(7), "v" -> Value.StrV("v7"))).left.exists(_.message.startsWith("DuplicateTuple")))
    val db2 = Engine.createTuple(spark, db, "big",
      Seq("k" -> Value.IntV(-1), "v" -> Value.StrV("new"))).fold(e => fail(e.message), identity)
    assert(db2.relations("big").cardinality == n + 1)
    val db3 = Engine.retractTuple(spark, db2, "big",
      Seq("k" -> Value.IntV(-1), "v" -> Value.StrV("new"))).fold(e => fail(e.message), identity)
    // insert+retract restores the content root exactly
    assert(db3.relations("big").root == db.relations("big").root)
    assert(Engine.retractTuple(spark, db3, "big",
      Seq("k" -> Value.IntV(-1), "v" -> Value.StrV("new"))).left.exists(_.message.startsWith("TupleNotFound")))
  }

  test("Dist bulk insert rejects in-batch and against-table duplicates set-wise") {
    val db = freshBig
    // against-table clash (overlapping keys)
    assert(Engine.insertFrom(spark, db, "big", bigDf(5)).isLeft)
    // in-batch duplicate
    val dup = bigDf(Engine.LocalThreshold + 1, "x").unionAll(bigDf(1, "x"))
    val fresh = Engine.createRelation(spark, Engine.createDatabase(spark, "d2"),
      "t", RelSchema(List("k" -> "integer", "v" -> "string"))).fold(e => fail(e.message), identity)
    assert(Engine.insertFrom(spark, fresh, "t", dup).left.exists(_.message.startsWith("DuplicateTuple")))
  }

  /** The digest twin is exact after a mutation, or absent — never stale
    * (Extension.Dist scaladoc). Checks both halves of the invariant:
    * twin rows ≡ extension rows, and the STORED digest column equals a
    * from-scratch recompute of every row's digest. */
  private def twinExact(rel: StoredRelation): Unit = rel.ext match {
    case Extension.Dist(_, Some(w)) =>
      assert(w.filter(!(col(Engine.RhCol) <=> rel.rowHash)).isEmpty,
        "stored digest must equal the recomputed row digest")
      val raw = w.drop(Engine.RhCol)
      assert(raw.exceptAll(rel.df).isEmpty && rel.df.exceptAll(raw).isEmpty,
        "twin rows must equal the extension rows")
    case other => fail(s"expected a twin-bearing Dist extension, got: $other")
  }

  test("digest twin stays exact through bulk insert, append, single ops, and delete") {
    var db = freshBig
    twinExact(db.relations("big")) // installed by the promoting bulk insert
    // bulk APPEND into the non-empty Dist relation (clash probe reads the twin)
    db = Engine.insertFrom(spark, db, "big",
      spark.range(n, n + 2000L).select(col("id").as("k"), concat(lit("v"), col("id")).as("v")))
      .fold(e => fail(e.message), identity)
    twinExact(db.relations("big"))
    // small batch into the big relation (insertRowsLocal Dist path)
    db = Engine.insertFrom(spark, db, "big",
      spark.range(-5L, 0L).select(col("id").as("k"), concat(lit("s"), col("id")).as("v")))
      .fold(e => fail(e.message), identity)
    twinExact(db.relations("big"))
    // single-tuple insert + retract
    db = Engine.createTuple(spark, db, "big",
      Seq("k" -> Value.IntV(-99), "v" -> Value.StrV("one"))).fold(e => fail(e.message), identity)
    twinExact(db.relations("big"))
    db = Engine.retractTuple(spark, db, "big",
      Seq("k" -> Value.IntV(-99), "v" -> Value.StrV("one"))).fold(e => fail(e.message), identity)
    twinExact(db.relations("big"))
    // bulk delete (digest-keyed anti against the twin)
    db = Engine.deleteWhere(spark, db, "big",
      spark.range(500).select(col("id").as("k"))).fold(e => fail(e.message), identity)
    twinExact(db.relations("big"))
    assert(db.relations("big").cardinality == n + 2000 + 5 - 500)
    assert(db.relations("big").root ==
      Hashing.contentRootOf(db.relations("big").df, db.relations("big").rowHash))
  }

  test("Dist DeleteWhere removes the matched set via anti-join and updates the root") {
    val db = freshBig
    val pred = spark.range(1000).select(col("id").as("k")) // delete k < 1000
    val db2 = Engine.deleteWhere(spark, db, "big", pred).fold(e => fail(e.message), identity)
    val rel = db2.relations("big")
    assert(rel.cardinality == n - 1000)
    assert(rel.df.filter(col("k") < 1000).isEmpty)
    assert(rel.root == Hashing.contentRootOf(rel.df, rel.rowHash))
  }

  test("constrained bulk insert past the threshold is set-wise: compiled FK validation, no per-row fold") {
    import graft.icl.{Binding, Body, Compile}
    val fk = Body.MemberOf("keys", List("k" -> Binding.Var("k")))
    var db = Engine.createDatabase(spark, "fkd")
    db = Engine.createRelation(spark, db, "keys", RelSchema(List("k" -> "integer")))
      .fold(e => fail(e.message), identity)
    db = Engine.insertFrom(spark, db, "keys",
      spark.range(n).select(col("id").as("k"))).fold(e => fail(e.message), identity)
    assert(db.relations("keys").localRows.isEmpty) // the FK target itself is Dist
    db = Engine.createRelation(spark, db, "fact",
      RelSchema(List("k" -> "integer", "v" -> "string"))).fold(e => fail(e.message), identity)
    db = Engine.registerConstraint(spark, db, "fk_k", "fact", fk).fold(e => fail(e.message), identity)

    // the validation is ONE lazy anti-join plan — the no-collect contract:
    // nothing about it touches the driver until the emptiness probe
    val viol = Compile.violations(db, fk, bigDf(n)).getOrElse(fail("FK must compile"))
    val plan = viol.queryExecution.sparkPlan.toString
    assert(plan.contains("LeftAnti"), s"expected an anti-join validation plan, got:\n$plan")

    // valid ingest: every k present in keys — passes, promotes to Dist
    val db2 = Engine.insertFrom(spark, db, "fact", bigDf(n)).fold(e => fail(e.message), identity)
    assert(db2.relations("fact").localRows.isEmpty)
    assert(db2.relations("fact").cardinality == n)
    assert(db2.relations("fact").root ==
      Hashing.contentRootOf(db2.relations("fact").df, db2.relations("fact").rowHash))
    // violating ingest: keys beyond the target — rejected set-wise
    assert(Engine.insertFrom(spark, db, "fact", bigDf(n.toLong + 5))
      .left.exists(_.message.startsWith("ConstraintViolation")))
    // delete cascade: removing a referenced key is caught by the compiled
    // batch re-check (fact is Dist — the per-row path would collect)
    assert(Engine.deleteWhere(spark, db2, "keys",
      spark.range(1).select(col("id").as("k")))
      .left.exists(_.message.startsWith("ConstraintViolation")))
    // deleting an unreferenced key from a fresh target is fine
    val db3 = Engine.insertFrom(spark, db2, "keys",
      spark.range(n, n.toLong + 1).select(col("id").as("k"))).fold(e => fail(e.message), identity)
    assert(Engine.deleteWhere(spark, db3, "keys",
      spark.range(n, n.toLong + 1).select(col("id").as("k"))).isRight)
  }

  test("a null in a constrained bulk batch reports the membership error, not a constraint name") {
    import graft.icl.{Binding, Body}
    val fk = Body.MemberOf("keys2", List("k" -> Binding.Var("k")))
    var db = Engine.createDatabase(spark, "nullfirst")
    db = Engine.createRelation(spark, db, "keys2", RelSchema(List("k" -> "integer")))
      .fold(e => fail(e.message), identity)
    db = Engine.insertFrom(spark, db, "keys2",
      spark.range(10).select(col("id").as("k"))).fold(e => fail(e.message), identity)
    db = Engine.createRelation(spark, db, "fact2",
      RelSchema(List("k" -> "integer", "v" -> "string"))).fold(e => fail(e.message), identity)
    db = Engine.registerConstraint(spark, db, "fk_k2", "fact2", fk).fold(e => fail(e.message), identity)
    // k = NULL fails membership criteria AND the FK anti-join; the
    // reference's per-row fold reports the membership error — so must
    // the set-wise path (precedence, reference lib/manipulation.ml)
    val withNull = spark.range(5).select(
      when(col("id") === 3, lit(null)).otherwise(col("id")).cast("long").as("k"),
      concat(lit("v"), col("id")).as("v"))
    val err = Engine.insertFrom(spark, db, "fact2", withNull)
    assert(err.left.exists(_.message.contains("membership criteria")), s"got $err")
    assert(!err.left.exists(_.message.contains("fk_k2")), s"constraint name leaked: $err")
  }

  test("quantified stored membership validates set-wise on the Dist path via pair-set joins") {
    import graft.icl.{Binding, Body, Compile}
    // ∃ d ∈ whitelist: (k, d.w) ∈ edges — a stored-membership body that
    // references the quantifier variable, i.e. the storedQuant shape
    val body = Body.Exists("d", "whitelist",
      Body.MemberOf("edges", List("k" -> Binding.Var("k"), "w" -> Binding.Var("d.w"))))
    var db = Engine.createDatabase(spark, "qsm")
    db = Engine.createRelation(spark, db, "whitelist", RelSchema(List("w" -> "integer")))
      .fold(e => fail(e.message), identity)
    db = Engine.createTuples(spark, db, "whitelist",
      Seq(Seq("w" -> Value.IntV(0)), Seq("w" -> Value.IntV(1)))).fold(e => fail(e.message), identity)
    db = Engine.createRelation(spark, db, "edges",
      RelSchema(List("k" -> "integer", "w" -> "integer"))).fold(e => fail(e.message), identity)
    db = Engine.insertFrom(spark, db, "edges",
      spark.range(n).select(col("id").as("k"), (col("id") % 2).as("w")))
      .fold(e => fail(e.message), identity)
    assert(db.relations("edges").localRows.isEmpty) // the membership target is Dist
    db = Engine.createRelation(spark, db, "fact",
      RelSchema(List("k" -> "integer", "v" -> "string"))).fold(e => fail(e.message), identity)
    db = Engine.registerConstraint(spark, db, "k_has_edge", "fact", body)
      .fold(e => fail(e.message), identity)

    // compiled form: anti join against the whitelist ⋈ edges pair set —
    // lazy, no cross product, no driver collect
    val viol = Compile.violations(db, body, bigDf(n)).getOrElse(fail("must compile"))
    val plan = viol.queryExecution.sparkPlan.toString
    assert(plan.contains("LeftAnti"), s"expected anti-join, got:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      s"cross join in quantified-membership plan:\n$plan")

    // every k < n has an edge with w ∈ {0,1} → bulk ingest passes, Dist
    val db2 = Engine.insertFrom(spark, db, "fact", bigDf(n)).fold(e => fail(e.message), identity)
    assert(db2.relations("fact").localRows.isEmpty)
    assert(db2.relations("fact").cardinality == n)
    // ks beyond the edge table violate the quantified constraint set-wise
    assert(Engine.insertFrom(spark, db, "fact", bigDf(n.toLong + 5))
      .left.exists(_.message.startsWith("ConstraintViolation")))
  }

  test("self-referencing FK falls back to the sequential fold: within-batch visibility preserved") {
    import graft.icl.{Binding, Body}
    // parent must already be a row id — only row-at-a-time evaluation can
    // admit a batch whose later rows reference earlier ones
    val selfFk = Body.MemberOf("t", List("id" -> Binding.Var("parent")))
    var db = Engine.createDatabase(spark, "selfref")
    db = Engine.createRelation(spark, db, "t",
      RelSchema(List("id" -> "integer", "parent" -> "integer"))).fold(e => fail(e.message), identity)
    db = Engine.createTuple(spark, db, "t",
      Seq("id" -> Value.IntV(0), "parent" -> Value.IntV(0))).fold(e => fail(e.message), identity)
    db = Engine.registerConstraint(spark, db, "parent_exists", "t", selfFk).fold(e => fail(e.message), identity)
    val batch = Seq((1L, 0L), (2L, 1L)).toDF("id", "parent") // 2 depends on 1: batch-internal
    val db2 = Engine.insertFrom(spark, db, "t", batch).fold(e => fail(e.message), identity)
    assert(db2.relations("t").cardinality == 3)
    // an actual orphan still aborts the whole statement
    assert(Engine.insertFrom(spark, db2, "t", Seq((5L, 99L)).toDF("id", "parent"))
      .left.exists(_.message.startsWith("ConstraintViolation")))
  }

  test("batch delete cascade stays focused: pre-existing violations are not surfaced") {
    import graft.icl.{Binding, Body}
    val fk = Body.MemberOf("keys", List("k" -> Binding.Var("k")))
    var db = Engine.createDatabase(spark, "latent")
    db = Engine.createRelation(spark, db, "keys", RelSchema(List("k" -> "integer")))
      .fold(e => fail(e.message), identity)
    db = Engine.insertFrom(spark, db, "keys",
      spark.range(n).select(col("id").as("k"))).fold(e => fail(e.message), identity)
    db = Engine.createRelation(spark, db, "fact",
      RelSchema(List("k" -> "integer", "v" -> "string"))).fold(e => fail(e.message), identity)
    // fact holds an ORPHAN (k = -1) inserted before the FK existed —
    // a latent violation the reference's focused cascade never revisits
    db = Engine.insertFrom(spark, db, "fact",
      bigDf(n).unionAll(Seq((-1L, "orphan")).toDF("k", "v"))).fold(e => fail(e.message), identity)
    assert(db.relations("fact").localRows.isEmpty)
    db = Engine.registerConstraint(spark, db, "fk_k", "fact", fk).fold(e => fail(e.message), identity)
    // deleting a key NO fact row references: the focus semi-join narrows
    // the re-check to rows with that key — the orphan must stay latent
    val extra = Engine.insertFrom(spark, db, "keys",
      spark.range(n, n.toLong + 1).select(col("id").as("k"))).fold(e => fail(e.message), identity)
    assert(Engine.deleteWhere(spark, extra, "keys",
      spark.range(n, n.toLong + 1).select(col("id").as("k"))).isRight)
    // deleting a REFERENCED key is still caught
    assert(Engine.deleteWhere(spark, db, "keys",
      spark.range(1).select(col("id").as("k")))
      .left.exists(_.message.startsWith("ConstraintViolation")))
  }

  test("Dist plan lineage is bounded: long mutation chains checkpoint, state hash unaffected") {
    var db = Engine.createDatabase(spark, "chain")
    db = Engine.createRelation(spark, db, "t",
      RelSchema(List("k" -> "integer", "v" -> "string"))).fold(e => fail(e.message), identity)
    // force a small Dist extension directly (the regime under test)
    val rel0 = db.relations("t")
    db = Engine.updateState(db,
      db.relations.updated("t", rel0.copy(ext = Extension.Dist(rel0.df), chain = 0)))
    val mutations = 200
    for (i <- 0 until mutations) {
      db = Engine.createTuple(spark, db, "t",
        Seq("k" -> graft.types.Value.IntV(i.toLong),
            "v" -> graft.types.Value.StrV(s"v$i"))).fold(e => fail(e.message), identity)
      assert(db.relations("t").chain < Engine.MaxPlanChain)
    }
    // a couple of deletes keep the chain accounting honest
    db = Engine.retractTuple(spark, db, "t",
      Seq("k" -> graft.types.Value.IntV(0L), "v" -> graft.types.Value.StrV("v0")))
      .fold(e => fail(e.message), identity)
    val rel = db.relations("t")
    val planLines = rel.df.queryExecution.logical.numberedTreeString.linesIterator.size
    assert(planLines < 6 * Engine.MaxPlanChain,
      s"plan depth should be bounded by the checkpoint cadence, got $planLines lines")
    assert(rel.cardinality == mutations - 1)
    assert(rel.df.count() == mutations - 1)
    // the incremental root — and hence the relation/database state hash —
    // is unaffected by where checkpoints landed
    assert(rel.root == Hashing.contentRootOf(rel.df, rel.rowHash))
  }

  test("DCL merge takes the DataFrame path for Dist relations") {
    val db0 = freshBig
    // left adds one row; right deletes k=0 — disjoint edits must both land
    val left = Engine.createTuple(spark, db0, "big",
      Seq("k" -> Value.IntV(-5), "v" -> Value.StrV("left"))).fold(e => fail(e.message), identity)
    val right = Engine.retractTuple(spark, db0, "big",
      Seq("k" -> Value.IntV(0), "v" -> Value.StrV("v0"))).fold(e => fail(e.message), identity)
    val store = new graft.dcl.Store
    store.save(db0); store.save(left); store.save(right)
    store.createBranch("l", left.hash); store.createBranch("r", right.hash)
    val (merged, conflicts) = graft.dcl.Merge.merge(spark, store, graft.dcl.Merge.PreferLeft,
      left.hash, right.hash).fold(e => fail(e.message), identity)
    assert(conflicts.tupleConflicts.isEmpty && conflicts.schemaConflicts.isEmpty)
    val rel = merged.relations("big")
    assert(rel.cardinality == n) // +1 −1
    assert(rel.df.filter(col("k") === -5).count() == 1)
    assert(rel.df.filter(col("k") === 0).isEmpty)
    assert(rel.root == Hashing.contentRootOf(rel.df, rel.rowHash))
  }

  test("DCL merge of two branches that each DeleteWhere then InsertFrom keeps the digest column last") {
    // each branch's delete leaves a digest-keyed anti-join as the twin; the
    // insert then unions it with a batch by position, and the merge unions
    // both deltas again — every wide frame must keep RhCol trailing
    val db0 = freshBig
    def branch(from: Long, tag: String): Database = {
      val del = Engine.deleteWhere(spark, db0, "big",
        spark.range(from, from + 100).select(col("id").as("k"))).fold(e => fail(e.message), identity)
      Engine.insertFrom(spark, del, "big",
        spark.range(-3000L, 0L).select((col("id") * 2 + (if (tag == "l") 0 else 1)).as("k"),
          concat(lit(tag), col("id")).as("v"))).fold(e => fail(e.message), identity)
    }
    val left = branch(0, "l")
    val right = branch(1000, "r")
    val store = new graft.dcl.Store
    store.save(db0); store.save(left); store.save(right)
    val (merged, conflicts) = graft.dcl.Merge.merge(spark, store, graft.dcl.Merge.PreferLeft,
      left.hash, right.hash).fold(e => fail(e.message), identity)
    assert(conflicts.tupleConflicts.isEmpty && conflicts.schemaConflicts.isEmpty)
    val rel = merged.relations("big")
    rel.ext match {
      case Extension.Dist(_, Some(w)) => assert(w.columns.last == Engine.RhCol)
      case other => fail(s"expected a twin-bearing Dist extension, got: $other")
    }
    twinExact(rel)
    assert(rel.cardinality == n - 200 + 6000)
    assert(rel.df.count() == rel.cardinality)
    assert(rel.df.filter(col("k").between(0, 99) || col("k").between(1000, 1099)).isEmpty)
    assert(rel.df.filter(col("k") < 0).count() == 6000)
    assert(rel.root == Hashing.contentRootOf(rel.df, rel.rowHash))
  }
}
