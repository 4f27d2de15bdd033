package graft.icl

import graft.SparkTestBase
import graft.engine.{Database, Engine, Extension, StoredRelation}
import graft.types.{RelSchema, Value}
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean

/** RANDOMIZED parity between the set-wise compiler and the per-row
  * evaluator: generate constraint bodies of every shape (stored/virtual
  * membership, Not/And/Or, nested quantifiers with namespaced variable
  * references, constant and out-of-scope bindings), and for every
  * COMPILABLE body assert the compiled violation set equals the per-row
  * verdict set on both Local and Dist extensions. The fixed battery in
  * CompileSpec pins the known shapes; this sweeps the space between
  * them. */
class CompilePropSpec extends SparkTestBase {
  import Binding.{Const, Var}
  import Body._

  private def iv(i: Long) = Value.IntV(i)

  private lazy val localDb: Database = {
    var db = Engine.createDatabase(spark, "cmpprop")
    def mk(name: String, schema: RelSchema, rows: Seq[Seq[(String, Value)]]): Unit = {
      db = Engine.createRelation(spark, db, name, schema).fold(e => fail(e.message), identity)
      if (rows.nonEmpty)
        db = Engine.createTuples(spark, db, name, rows).fold(e => fail(e.message), identity)
    }
    mk("Department", RelSchema(List("dept_id" -> "natural")),
      Seq(Seq("dept_id" -> iv(1)), Seq("dept_id" -> iv(2))))
    mk("Employee", RelSchema(List("emp_id" -> "natural", "dept_id" -> "natural")),
      Seq(Seq("emp_id" -> iv(10), "dept_id" -> iv(1)),
        Seq("emp_id" -> iv(20), "dept_id" -> iv(2)),
        Seq("emp_id" -> iv(30), "dept_id" -> iv(7)),
        Seq("emp_id" -> iv(40), "dept_id" -> iv(1)),
        Seq("emp_id" -> iv(40), "dept_id" -> iv(2))))
    mk("Proj", RelSchema(List("proj_id" -> "natural", "dept_id" -> "natural")),
      Seq(Seq("proj_id" -> iv(5), "dept_id" -> iv(2))))
    mk("EmptyRel", RelSchema(List("x" -> "natural")), Nil)
    db
  }

  private lazy val distDb: Database = {
    val rels = localDb.relations.map { case (n, r) =>
      n -> (if (r.root.count == 0) r else r.copy(ext = Extension.Dist(r.df.withColumn(Engine.RhCol, r.rowHash))))
    }
    localDb.copy(relations = rels)
  }

  // ---- body generator, scoped to the variables visible at each node ----

  private val quantifiers = Map(
    "Department" -> List("dept_id"),
    "Proj"       -> List("proj_id", "dept_id"),
    "EmptyRel"   -> List("x"))
  private val virtuals = Seq(
    "natural_natural_less_than", "natural_natural_less_than_or_equal",
    "natural_natural_equal", "natural_natural_not_equal")

  private def genBinding(vars: List[String]): Gen[Binding] =
    Gen.frequency(
      3 -> Gen.oneOf(vars).map(Var(_)),
      2 -> Gen.oneOf(Seq(0L, 1L, 2L, 7L, 25L, 40L)).map(v => Const(iv(v))))

  private def genMemberOf(vars: List[String]): Gen[Body] = Gen.frequency(
    // virtual comparison on two bound values
    3 -> (for {
      rel <- Gen.oneOf(virtuals)
      l <- genBinding(vars); r <- genBinding(vars)
    } yield MemberOf(rel, List("left" -> l, "right" -> r))),
    // stored membership: Department / EmptyRel keyed by one binding
    2 -> genBinding(vars).map(b => MemberOf("Department", List("dept_id" -> b))),
    1 -> genBinding(vars).map(b => MemberOf("EmptyRel", List("x" -> b))),
    // two-attribute stored membership on Proj
    1 -> (for {
      p <- genBinding(vars); d <- genBinding(vars)
    } yield MemberOf("Proj", List("proj_id" -> p, "dept_id" -> d))))

  private def genBody(vars: List[String], depth: Int): Gen[Body] =
    if (depth <= 0) genMemberOf(vars)
    else Gen.frequency(
      4 -> genMemberOf(vars),
      1 -> genBody(vars, depth - 1).map(Not(_, "Department")),
      1 -> Gen.listOfN(2, genBody(vars, depth - 1)).map(And(_)),
      1 -> Gen.listOfN(2, genBody(vars, depth - 1)).map(Or(_)),
      2 -> (for {
        q <- Gen.oneOf(quantifiers.keys.toSeq)
        v <- Gen.oneOf("q1", "q2")
        inner <- genBody(vars ++ quantifiers(q).map(a => s"$v.$a"), depth - 1)
        mk <- Gen.oneOf(Seq[(String, String, Body) => Body](Exists.apply, Forall.apply))
      } yield mk(v, q, inner)))

  private def rowsOf(rel: StoredRelation): Seq[Seq[(String, Value)]] =
    rel.df.collect().toIndexedSeq.map(r => graft.engine.Engine.rowToAttrs(rel, r))

  test("And(stored MemberOf, virtual equality) under a quantifier: theta-join plan, no cartesian") {
    // The round-4 design debt: this shape misses both quantifier fast
    // paths (body is neither a pure predicate nor a single stored
    // MemberOf), so it used to cross-join candidates × quantifier rows.
    // The equality conjunct must now ride the extend join as a hash key.
    for (mk <- Seq[(String, String, Body) => Body](Exists.apply, Forall.apply)) {
      val body = mk("q1", "Proj", And(List(
        MemberOf("Department", List("dept_id" -> Var("q1.dept_id"))),
        MemberOf("natural_natural_equal",
          List("left" -> Var("q1.dept_id"), "right" -> Var("dept_id"))))))
      assert(Compile.compilable(distDb, body))
      val rel = distDb.relations("Employee")
      val viol = Compile.violations(distDb, body, rel.df)
        .getOrElse(fail(s"violations None for $body"))
      val plan = viol.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"quantifier body still plans a product for $mk:\n$plan")
      // parity with the per-row evaluator on the same Dist state
      val ctx = Runtime.context(spark, distDb)
      val want = rowsOf(rel).filter(t => Eval.evaluate(ctx, t.toMap, body) != Right(true)).toSet
      val got = viol.collect().toIndexedSeq.map(r => graft.engine.Engine.rowToAttrs(rel, r)).toSet
      assert(got === want)
    }
  }

  test("quantifier distribution: ∃ over ∨ and ∀ over ∧ plan without a cartesian") {
    val cases = Seq[Body](
      // ∃ r (r∈Proj[dept] ∨ r.dept=dept): branches hit storedQuant/quantJoin
      Exists("q1", "Proj", Or(List(
        MemberOf("Department", List("dept_id" -> Var("q1.dept_id"))),
        MemberOf("natural_natural_equal",
          List("left" -> Var("q1.dept_id"), "right" -> Var("dept_id")))))),
      // ∀ r (two stored memberships): two count shapes, no extend join
      Forall("q1", "Proj", And(List(
        MemberOf("Department", List("dept_id" -> Var("q1.dept_id"))),
        MemberOf("Proj", List("proj_id" -> Var("q1.proj_id"), "dept_id" -> Var("dept_id")))))))
    for (body <- cases) {
      assert(Compile.compilable(distDb, body))
      val rel = distDb.relations("Employee")
      val viol = Compile.violations(distDb, body, rel.df)
        .getOrElse(fail(s"violations None for $body"))
      val plan = viol.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"distribution failed to avoid a product for $body:\n$plan")
      val ctx = Runtime.context(spark, distDb)
      val want = rowsOf(rel).filter(t => Eval.evaluate(ctx, t.toMap, body) != Right(true)).toSet
      val got = viol.collect().toIndexedSeq.map(r => graft.engine.Engine.rowToAttrs(rel, r)).toSet
      assert(got === want, s"parity broken for $body")
    }
  }

  test("compiled violations equal per-row verdicts for random bodies (Local and Dist)") {
    val prop = Prop.forAll(genBody(List("emp_id", "dept_id"), 2)) { body =>
      Compile.compilable(localDb, body) ==> {
        Seq(localDb, distDb).forall { db =>
          val rel = db.relations("Employee")
          val ctx = Runtime.context(spark, db)
          val want = rowsOf(rel)
            .filter(t => Eval.evaluate(ctx, t.toMap, body) != Right(true)).toSet
          Compile.violations(db, body, rel.df) match {
            case Some(viol) =>
              val got = viol.collect().toIndexedSeq
                .map(r => graft.engine.Engine.rowToAttrs(rel, r)).toSet
              if (got != want)
                fail(s"parity broken for $body\n  compiled: $got\n  per-row:  $want")
              true
            case None => fail(s"violations None for compilable body $body")
          }
        }
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }
}
