package graft.engine

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.SparkTestBase
import graft.catalog.Catalog
import graft.types.{RelSchema, Value}

/** The frame cache behind `StoredRelation.df` for Local relations
  * ([[LocalFrames]]): one analyzed frame per relation version, safe to
  * name twice in one query, a bounded row total, one entry set per
  * SparkSession. */
class LocalFramesSpec extends SparkTestBase {

  private def ok[A](e: Either[graft.Err, A]): A = e.fold(err => fail(err.message), identity)

  private def rowsOf(n: Int): Seq[Seq[(String, Value)]] =
    (1 to n).map(i => Seq("a" -> Value.IntV(i), "b" -> Value.IntV(i % 3)))

  private def dbWith(name: String, n: Int): Database = {
    val db = ok(Engine.createRelation(spark, Engine.createDatabase(spark, s"lf_$name"), name,
      RelSchema(List("a" -> "integer", "b" -> "integer"))))
    ok(Engine.createTuples(spark, db, name, rowsOf(n)))
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  test("a repeated read is served one analyzed frame") {
    val rel = dbWith("rep", 20).relations("rep")
    assert(rel.df eq rel.df)
    assert(rel.df.queryExecution.logical.analyzed)
  }

  test("a read after InsertTuple or DeleteTuple sees the new version") {
    var db = dbWith("ver", 5)
    def read: Seq[Long] = db.relations("ver").df.collect().toSeq.map(_.getLong(0))
    assert(read == (1L to 5L))
    db = ok(Engine.createTuple(spark, db, "ver", Seq("a" -> Value.IntV(6), "b" -> Value.IntV(0))))
    assert(read == (1L to 6L))
    db = ok(Engine.retractTuple(spark, db, "ver", Seq("a" -> Value.IntV(2), "b" -> Value.IntV(2))))
    assert(read == Seq(1L, 3L, 4L, 5L, 6L))
    // re-inserting reaches the content of an earlier version by another path
    db = ok(Engine.createTuple(spark, db, "ver", Seq("a" -> Value.IntV(2), "b" -> Value.IntV(2))))
    assert(read.sorted == (1L to 6L))
  }

  test("self-referencing queries answer as over separately built frames") {
    val db = dbWith("e", 12)
    val rel = db.relations("e")
    // the frames every read built before the cache: one fresh encoding per name
    val uncached = new Catalog {
      def resolve(name: String) =
        if (name == "e") Right(spark.createDataFrame(rel.localRows.get.values.toSeq.asJava, rel.struct))
        else Left(graft.Err.RelationNotFoundBare(name))
    }
    val cached = new DbCatalog(db)
    val queries = Seq(
      "(Join (a b) (Base e) (Base e))",
      "(Join (b) (Base e) (Rename ((a c)) (Base e)))",
      "(Diff (Base e) (Base e))",
      "(Diff (Base e) (Select (Const ((b (Int 1)))) (Base e)))",
      "(Union (Base e) (Base e))",
      "(Select (Base e) (Base e))",
      "(Select (Project (b) (Base e)) (Base e))",
      "(ThetaJoin ((lt a c) (eq b d)) (Base e) (Rename ((a c) (b d)) (Base e)))",
      "(Cartesian (Base e) (Rename ((a c) (b d)) (Base e)))")
    for (q <- queries) {
      val want = ok(graft.drl.Compiler.run(spark, uncached, q))
      val got = ok(graft.drl.Compiler.run(spark, cached, q))
      assert(got.columns.toSeq == want.columns.toSeq, q)
      assert(sorted(got) == sorted(want), q)
      assert(!want.isEmpty || q.startsWith("(Diff (Base e) (Base e))"), s"vacuous: $q")
    }
  }

  test("set-wise ICL validation over Local relations reads their cached frames") {
    import graft.icl.Binding.{Const, Var}
    import graft.icl.Body.{Exists, Forall, MemberOf}
    import graft.icl.Compile
    var db = dbWith("emp", 9)
    db = ok(Engine.createRelation(spark, db, "dept", RelSchema(List("b" -> "integer"))))
    db = ok(Engine.createTuples(spark, db, "dept", Seq(0, 1).map(i => Seq("b" -> Value.IntV(i)))))
    val emp = db.relations("emp")
    def violations(body: graft.icl.Body): Seq[Long] =
      Compile.violations(db, body, emp.df).getOrElse(fail(s"incompilable: $body"))
        .collect().toSeq.map(_.getLong(0)).sorted
    // foreign key into another Local relation: b = 2 rows are orphans
    assert(violations(MemberOf("dept", List("b" -> Var("b")))) == Seq(2L, 5L, 8L))
    // quantified over the candidates' own relation (a self-join)
    assert(violations(Exists("x", "emp",
      MemberOf("natural_natural_equal", List("left" -> Var("a"), "right" -> Var("x.a"))))).isEmpty)
    assert(violations(Forall("x", "emp",
      MemberOf("natural_natural_less_than_or_equal",
        List("left" -> Var("x.a"), "right" -> Var("a"))))) == (1L to 8L))
    assert(violations(MemberOf("natural_natural_less_than",
      List("left" -> Var("a"), "right" -> Const(Value.IntV(5))))) == (5L to 9L))
  }

  test("write-then-read cycles keep the cached row total within the bound") {
    var db = {
      val d = ok(Engine.createRelation(spark, Engine.createDatabase(spark, "lf_cycles"), "big",
        RelSchema(List("a" -> "integer", "b" -> "integer"))))
      ok(Engine.insertFrom(spark, d, "big",
        spark.range(5000).select(col("id").as("a"), (col("id") % 7).as("b"))))
    }
    assert(db.relations("big").localRows.isDefined)
    for (i <- 0 until 50) {
      db = ok(Engine.createTuple(spark, db, "big",
        Seq("a" -> Value.IntV(-1L - i), "b" -> Value.IntV(0))))
      assert(db.relations("big").df.collect().length == 5001 + i)
      assert(LocalFrames.cachedRows <= LocalFrames.MaxRows)
    }
    // the newest version survived eviction
    val rel = db.relations("big")
    assert(rel.df eq rel.df)
  }

  test("a frame is never returned to a different SparkSession") {
    val rel = dbWith("sess", 8).relations("sess")
    val other = spark.newSession()
    SparkSession.setActiveSession(spark)
    val mine = rel.df
    try {
      SparkSession.setActiveSession(other)
      val theirs = rel.df
      assert(theirs.sparkSession eq other)
      assert(!(theirs eq mine))
      assert(sorted(theirs) == sorted(mine))
    } finally SparkSession.setActiveSession(spark)
    assert(rel.df.sparkSession eq spark)
    assert(rel.df eq mine)
  }
}
