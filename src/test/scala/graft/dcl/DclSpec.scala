package graft.dcl

import graft.SparkTestBase
import graft.engine.Engine
import graft.server.EngineSession
import graft.types.Value
import org.apache.spark.sql.Row

/** Mirrors the reference's branch registry + diff/merge + time-travel
  * blocks (reference test/test_relational_engine.ml:1005-1283, 3164-3485). */
class DclSpec extends SparkTestBase {

  private def session: EngineSession = {
    val s = new EngineSession(spark)
    def run(t: String) = s.execute(t).fold(e => fail(s"$t -> $e"), identity)
    run("(CreateDatabase dcltest)")
    run("(CreateRelation (name scores) (schema ((player string) (pts integer))))")
    run("(InsertTuple (relation scores) (attributes ((player (Str Alice)) (pts (Int 10)))))")
    s
  }

  private def scores(s: EngineSession): Set[Row] =
    s.db.relations("scores").df.collect().toSet

  test("branch registry: create / get_tip / checkout / head / update_tip (reference test:3164-3243)") {
    val s = session
    assert(s.execute("(GetHead)").exists(_ == graft.server.Transition("HEAD is unset")))
    s.execute("(CreateBranch (name main))").fold(e => fail(e.message), identity)
    assert(s.store.tip("main").contains(s.db.hash))
    s.execute("(Checkout main)").fold(e => fail(e.message), identity)
    assert(s.store.head.contains("main"))
    s.execute("(UpdateBranchTip (name main) (hash deadbeef))").fold(e => fail(e.message), identity)
    assert(s.store.tip("main").contains("deadbeef"))
    assert(s.execute("(Checkout nope)").isLeft)
    assert(s.execute("(GetBranchTip nope)").isLeft)
  }

  test("mutations advance the HEAD branch tip (reference listener.ml:47-51)") {
    val s = session
    s.execute("(CreateBranch (name main))")
    s.execute("(Checkout main)")
    s.execute("(InsertTuple (relation scores) (attributes ((player (Str Bob)) (pts (Int 25)))))")
      .fold(e => fail(e.message), identity)
    assert(s.store.tip("main").contains(s.db.hash))
  }

  test("time travel: checkout restores a historical state (reference test:1005-1283)") {
    val s = session
    s.execute("(CreateBranch (name before))")
    s.execute("(InsertTuple (relation scores) (attributes ((player (Str Bob)) (pts (Int 25)))))")
    assert(scores(s) == Set(Row("Alice", 10L), Row("Bob", 25L)))
    s.execute("(Checkout before)").fold(e => fail(e.message), identity)
    assert(scores(s) == Set(Row("Alice", 10L)))
  }

  test("diff: added / removed / modified relations (reference test:3245-3330)") {
    val db0 = session.db
    val db1 = Engine.createTuple(spark, db0, "scores",
      Seq("player" -> Value.StrV("Bob"), "pts" -> Value.IntV(25))).fold(e => fail(e.message), identity)
    val ds = Diff.diff(db0, db1)
    assert(ds.length == 1)
    ds.head match {
      case Diff.RelationModified("scores", added, removed, false) =>
        assert(added.df.collect().toSeq == Seq(Row("Bob", 25L)))
        assert(removed.df.collect().isEmpty)
      case other => fail(s"unexpected diff: $other")
    }
    val db2 = Engine.createRelation(spark, db1, "extra",
      graft.types.RelSchema(List("x" -> "integer"))).fold(e => fail(e.message), identity)
    val names = Diff.diff(db0, db2).map(_.name).toSet
    assert(names.contains("extra")) // added (plus catalog-maintenance rows)
    assert(Diff.diff(db2, db0).exists {
      case Diff.RelationRemoved("extra") => true; case _ => false
    })
    assert(Diff.diff(db0, db0).isEmpty)
  }

  test("merge: disjoint inserts union cleanly (reference test:3331-3485)") {
    val s = session
    def run(t: String) = s.execute(t).fold(e => fail(s"$t -> $e"), identity)
    run("(CreateBranch (name main))")
    run("(Checkout main)")
    run("(CreateBranch (name feature))")
    run("(Checkout feature)")
    run("(InsertTuple (relation scores) (attributes ((player (Str Bob)) (pts (Int 25)))))")
    run("(Checkout main)")
    run("(InsertTuple (relation scores) (attributes ((player (Str Carol)) (pts (Int 7)))))")
    run("(Merge (left main) (right feature) (strategy PreferLeft))")
    assert(scores(s) == Set(Row("Alice", 10L), Row("Bob", 25L), Row("Carol", 7L)))
    // winner's tip advanced to the merged state
    assert(s.store.tip("main").contains(s.db.hash))
  }

  test("merge: no-op merge of identical branches returns the same content") {
    val s = session
    s.execute("(CreateBranch (name a))")
    s.execute("(CreateBranch (name b))")
    s.execute("(Merge (left a) (right b) (strategy PreferLeft))").fold(e => fail(e.message), identity)
    assert(scores(s) == Set(Row("Alice", 10L)))
  }

  test("merge: one side removes a tuple; removal survives the merge") {
    // Content addressing makes states identical-by-content share hashes:
    // a plain delete restores the pre-insert state hash, which would make
    // the LCA resolve INTO the deleting branch. A marker row keeps the
    // branch's states unique — then ancestor is the true fork point and
    // the removal propagates.
    val s = session
    def run(t: String) = s.execute(t).fold(e => fail(s"$t -> $e"), identity)
    run("(InsertTuple (relation scores) (attributes ((player (Str Bob)) (pts (Int 25)))))")
    run("(CreateBranch (name main))")
    run("(Checkout main)")
    run("(CreateBranch (name feature))")
    run("(Checkout feature)")
    run("(InsertTuple (relation scores) (attributes ((player (Str Marker)) (pts (Int 1)))))")
    run("(DeleteTuple (relation scores) (attributes ((player (Str Bob)) (pts (Int 25)))))")
    run("(Checkout main)")
    run("(Merge (left main) (right feature) (strategy PreferLeft))")
    assert(scores(s) == Set(Row("Alice", 10L), Row("Marker", 1L)))
  }

  test("merge: delete-then-reinsert nets out by content (git-like resurrect)") {
    // Mirror of the content-addressed quirk: feature deletes Bob with NO
    // other change, so its tip state equals the historical pre-Bob state,
    // the LCA resolves to feature's tip, and the merge sees main as
    // 'adding Bob' — Bob survives. The reference's hash-set machinery
    // behaves identically; this pins that semantics.
    val s = session
    def run(t: String) = s.execute(t).fold(e => fail(s"$t -> $e"), identity)
    run("(InsertTuple (relation scores) (attributes ((player (Str Bob)) (pts (Int 25)))))")
    run("(CreateBranch (name main))")
    run("(Checkout main)")
    run("(CreateBranch (name feature))")
    run("(Checkout feature)")
    run("(DeleteTuple (relation scores) (attributes ((player (Str Bob)) (pts (Int 25)))))")
    run("(Checkout main)")
    run("(Merge (left main) (right feature) (strategy PreferLeft))")
    assert(scores(s) == Set(Row("Alice", 10L), Row("Bob", 25L)))
  }

  test("merge: both sides changing a relation's schema is a strategy-resolved conflict") {
    def scenario(strategy: Merge.Strategy): (Set[Row], Merge.Conflicts) = {
      val s = session
      def run(t: String) = s.execute(t).fold(e => fail(s"$t -> $e"), identity)
      run("(CreateBranch (name main))")
      run("(Checkout main)")
      run("(CreateBranch (name feature))")
      // marker RELATIONS keep each branch's intermediate states unique —
      // otherwise both pass through an identical no-scores state and the
      // LCA resolves there (content addressing), turning the recreation
      // into RelationAdded instead of a schema change
      run("(Checkout feature)")
      run("(CreateRelation (name rmark) (schema ((x integer))))")
      run("(RetractRelation scores)")
      run("(CreateRelation (name scores) (schema ((player string) (level integer))))")
      run("(InsertTuple (relation scores) (attributes ((player (Str R)) (level (Int 2)))))")
      run("(Checkout main)")
      run("(CreateRelation (name lmark) (schema ((y integer))))")
      run("(RetractRelation scores)")
      run("(CreateRelation (name scores) (schema ((player string) (rank integer))))")
      run("(InsertTuple (relation scores) (attributes ((player (Str L)) (rank (Int 1)))))")
      val (merged, conflicts) = Merge.merge(spark, s.store, strategy,
        s.store.tip("main").get, s.store.tip("feature").get).fold(e => fail(e.message), identity)
      (merged.relations("scores").df.collect().toSet, conflicts)
    }
    val (l, cl) = scenario(Merge.PreferLeft)
    assert(l == Set(Row("L", 1L)) && cl.schemaConflicts.contains("scores"))
    val (r, _) = scenario(Merge.PreferRight)
    assert(r == Set(Row("R", 2L)))
    val (a, _) = scenario(Merge.RevertToAncestor)
    assert(a == Set(Row("Alice", 10L)))
  }

  test("merge: diverging edits with markers merge cleanly, zero conflicts") {
    // NOTE: the reference's TupleConflict (same hash added one side,
    // removed the other) is unreachable from state-derived diffs: an added
    // row lies OUTSIDE the ancestor while a removed row lies INSIDE it, so
    // leftAdd ∩ rightRem is empty by construction. Only schema conflicts
    // are reachable; this pins the clean-path algebra.
    val s = session
    def run(t: String) = s.execute(t).fold(e => fail(s"$t -> $e"), identity)
    run("(InsertTuple (relation scores) (attributes ((player (Str Bob)) (pts (Int 25)))))")
    run("(CreateBranch (name main))")
    run("(Checkout main)")
    run("(CreateBranch (name feature))")
    run("(Checkout feature)")
    run("(InsertTuple (relation scores) (attributes ((player (Str FMark)) (pts (Int 2)))))")
    run("(DeleteTuple (relation scores) (attributes ((player (Str Bob)) (pts (Int 25)))))")
    run("(Checkout main)")
    run("(DeleteTuple (relation scores) (attributes ((player (Str Bob)) (pts (Int 25)))))")
    run("(InsertTuple (relation scores) (attributes ((player (Str Bob)) (pts (Int 26)))))")
    val (merged, conflicts) = Merge.merge(spark, s.store, Merge.PreferLeft,
      s.store.tip("main").get, s.store.tip("feature").get).fold(e => fail(e.message), identity)
    assert(conflicts.schemaConflicts.isEmpty)
    // left: -Bob25 +Bob26; right: +FMark -Bob25; merged: union of edits
    assert(merged.relations("scores").df.collect().toSet ==
      Set(Row("Alice", 10L), Row("Bob", 26L), Row("FMark", 2L)))
  }

  test("merging two Local branches through the executor runs no Spark job") {
    val s = session
    def run(t: String) = s.execute(t).fold(e => fail(s"$t -> $e"), identity)
    run("(InsertTuple (relation scores) (attributes ((player (Str Bob)) (pts (Int 25)))))")
    run("(CreateBranch (name main))")
    run("(Checkout main)")
    run("(CreateBranch (name feature))")
    run("(Checkout feature)")
    run("(InsertTuple (relation scores) (attributes ((player (Str FMark)) (pts (Int 2)))))")
    run("(DeleteTuple (relation scores) (attributes ((player (Str Bob)) (pts (Int 25)))))")
    run("(Checkout main)")
    run("(InsertTuple (relation scores) (attributes ((player (Str Carol)) (pts (Int 7)))))")
    val stmt = Statement.MergeStmt("main", "feature", Merge.PreferLeft)
    val (res, jobs) = graft.JobCounter.count(spark)(Executor.execute(spark, s.store, s.db, stmt))
    val (merged, msg) = res.fold(e => fail(e.message), identity)
    assert(jobs == 0, s"a Local merge ran $jobs Spark job(s)")
    assert(msg == "Merged:feature->main")
    assert(merged.relations("scores").localRows.map(_.values.toSet).contains(
      Set(Row("Alice", 10L), Row("FMark", 2L), Row("Carol", 7L))))
  }

  test("sakura:branch and sakura:head are queryable via DRL") {
    val s = session
    s.execute("(CreateBranch (name main))")
    s.execute("(Checkout main)")
    val branches = s.execute("(drl (Base sakura:branch))")
      .fold(e => fail(e.message), { case graft.server.QueryResult(df) => df.collect(); case o => fail(s"$o") })
    assert(branches.map(_.getString(0)).toSeq == Seq("main"))
    assert(branches.head.getString(1).length == 8)
    val head = s.execute("(drl (Base sakura:head))")
      .fold(e => fail(e.message), { case graft.server.QueryResult(df) => df.collect(); case o => fail(s"$o") })
    assert(head.map(_.getString(0)).toSeq == Seq("main"))
  }

  test("dclmerge scale probe's merge identity: base + both inserts - both deletes, no conflicts") {
    // the bench-only scaleprobe_dclmerge_x* rows measure diff+merge cost;
    // this pins that the SCENARIO they time is the clean disjoint-key
    // 3-way merge it claims to be (result = base ∪ trunk_ins ∪ feat_ins
    // − trunk_del − feat_del, all five sets pairwise disjoint where it
    // matters)
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/lineitem.parquet").exists(), s"$sfDir not present")
    val m = 1
    val merged = graft.SparkEntry.scaleProbes(s"scaleprobe_dclmerge_x$m")(spark, sfDir)
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select((col("l_orderkey") * 8 + col("l_linenumber")).cast("int").as("k"))
      .dropDuplicates("k")
    val nBase = base.count()
    val delTrunk = base.filter(pmod(col("k"), lit(2048)) < 2 * m).count()
    val delFeat = base.filter(
      pmod(col("k"), lit(2048)) >= 1024 && pmod(col("k"), lit(2048)) < 1024 + 2 * m).count()
    assert(delTrunk > 0 && delFeat > 0, "degenerate fixture: a delete slice is empty")
    val expected = nBase + 2 * 2000L * m - delTrunk - delFeat
    assert(merged.count() == expected,
      s"merged fact has ${merged.count()} rows; expected $expected " +
        s"(base $nBase + inserts ${2 * 2000L * m} - deletes ${delTrunk + delFeat})")
  }

  test("no common ancestor is an error") {
    // NOTE: database hashes are content-derived (no name), so two freshly
    // created databases share their bootstrap states and thus an ancestor.
    // A genuinely disjoint chain needs fabricated history.
    val s1 = session
    val fake = "f" * 64
    val orphan = Engine.createDatabase(spark, "unrelated").copy(hash = fake, history = Nil)
    s1.store.save(orphan)
    s1.store.createBranch("orphan", fake)
    s1.store.createBranch("main", s1.db.hash)
    assert(s1.execute("(Merge (left main) (right orphan) (strategy PreferLeft))").isLeft)
  }
}
