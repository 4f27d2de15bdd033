package graft.icl

import graft.SparkTestBase
import graft.engine.{Database, Engine, Extension, StoredRelation}
import graft.types.{RelSchema, Value}

/** Parity between the set-wise compiler ([[Compile]]) and the per-row
  * evaluator ([[Eval]]): for a battery of constraint bodies — every
  * connective, the binding quirks, the membership edge cases — the
  * compiled violation query must select exactly the candidate rows whose
  * per-row verdict is not Right(true). Run against both Local and Dist
  * extensions (the compiler is the Dist path's engine). */
class CompileSpec extends SparkTestBase {
  import Binding.{Const, Var}
  import Body._

  private def iv(i: Long) = Value.IntV(i)

  /** Department {1,2}; Employee {(10,1),(20,2),(30,7),(2000,1),(40,1),
    * (40,2)}; Proj {(5,2)}; EmptyRel {}. Employee 30 is an FK orphan;
    * 2000 breaks small-id checks; 40 is the only emp_id present in every
    * department (the ∀-membership witness). */
  private lazy val localDb: Database = {
    var db = Engine.createDatabase(spark, "cmp")
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
        Seq("emp_id" -> iv(2000), "dept_id" -> iv(1)),
        Seq("emp_id" -> iv(40), "dept_id" -> iv(1)),
        Seq("emp_id" -> iv(40), "dept_id" -> iv(2))))
    mk("Proj", RelSchema(List("proj_id" -> "natural", "dept_id" -> "natural")),
      Seq(Seq("proj_id" -> iv(5), "dept_id" -> iv(2))))
    mk("EmptyRel", RelSchema(List("x" -> "natural")), Nil)
    db
  }

  /** The same database with every relation forced to a Dist extension. */
  private lazy val distDb: Database = {
    val rels = localDb.relations.map { case (n, r) =>
      n -> (if (r.root.count == 0) r else r.copy(ext = Extension.Dist(r.df.withColumn(Engine.RhCol, r.rowHash))))
    }
    localDb.copy(relations = rels)
  }

  private def rowsOf(rel: StoredRelation): Seq[Seq[(String, Value)]] =
    rel.df.collect().toIndexedSeq.map(r => graft.engine.Engine.rowToAttrs(rel, r))

  /** Per-row oracle: candidate rows whose verdict is not Right(true). */
  private def evalViolations(db: Database, rel: StoredRelation, body: Body): Set[Seq[(String, Value)]] = {
    val ctx = Runtime.context(spark, db)
    rowsOf(rel).filter(t => Eval.evaluate(ctx, t.toMap, body) != Right(true)).toSet
  }

  private def compiledViolations(db: Database, rel: StoredRelation, body: Body): Option[Set[Seq[(String, Value)]]] =
    Compile.violations(db, body, rel.df).map(
      _.collect().toIndexedSeq.map(r => graft.engine.Engine.rowToAttrs(rel, r)).toSet)

  private def checkParity(body: Body, relName: String = "Employee"): Unit =
    for (db <- Seq(localDb, distDb)) {
      val rel = db.relations(relName)
      assert(Compile.compilable(db, body), s"should be compilable: $body")
      compiledViolations(db, rel, body) match {
        case Some(got) => assert(got == evalViolations(db, rel, body), s"parity for $body")
        case None      => fail(s"violations returned None for compilable $body")
      }
    }

  private val fk = MemberOf("Department", List("dept_id" -> Var("dept_id")))
  private val smallId = MemberOf("natural_natural_less_than_or_equal",
    List("left" -> Var("emp_id"), "right" -> Const(iv(100))))

  test("FK MemberOf over a stored relation (anti-join fast path)") { checkParity(fk) }

  test("MemberOf over a virtual relation compiles to a predicate") { checkParity(smallId) }

  test("Not over stored membership (mutual-exclusion fast path)") {
    checkParity(Not(fk, "Department"))
  }

  test("And unions per-conjunct violations") { checkParity(And(List(fk, smallId))) }

  test("Or holds when any branch holds") {
    checkParity(Or(List(
      MemberOf("natural_natural_less_than", List("left" -> Var("dept_id"), "right" -> Const(iv(2)))),
      smallId)))
  }

  test("Exists joins the quantifier in under namespaced columns") {
    checkParity(Exists("d", "Department",
      MemberOf("natural_natural_equal",
        List("left" -> Var("dept_id"), "right" -> Var("d.dept_id")))))
  }

  test("Forall fails a parent iff some quantifier row fails the body") {
    checkParity(Forall("e", "Employee", Or(List(
      MemberOf("natural_natural_not_equal",
        List("left" -> Var("dept_id"), "right" -> Var("e.dept_id"))),
      MemberOf("natural_natural_less_than_or_equal",
        List("left" -> Var("e.emp_id"), "right" -> Const(iv(100))))))),
      relName = "Department")
  }

  test("nested quantifiers with shadowing-safe keys") {
    checkParity(Exists("d", "Department",
      Exists("p", "Proj",
        MemberOf("natural_natural_equal",
          List("left" -> Var("d.dept_id"), "right" -> Var("p.dept_id"))))))
  }

  test("membership edge cases: empty/foreign/unknown bindings and empty targets never match") {
    checkParity(MemberOf("Department", Nil)) // empty binding
    checkParity(MemberOf("NoSuchRel", List("dept_id" -> Var("dept_id")))) // unknown target
    checkParity(MemberOf("Department", List("dept_id" -> Var("no_such_attr")))) // Var dropped → empty
    checkParity(MemberOf("Department", List("wrong_attr" -> Var("dept_id")))) // foreign target attr
    checkParity(MemberOf("EmptyRel", List("x" -> Var("dept_id")))) // empty stored target
    checkParity(Exists("q", "EmptyRel", MemberOf("Department", List("dept_id" -> Var("dept_id"))))) // ∃ over ∅
    checkParity(Forall("q", "EmptyRel", MemberOf("NoSuchRel", List("x" -> Var("q.x"))))) // ∀ over ∅: vacuous
  }

  test("unbounded quantifiers: Forall is incompilable, Exists folds to never-true, Or skips") {
    val unboundedForall = Forall("x", "natural_plus", fk)
    assert(!Compile.compilable(localDb, unboundedForall))
    assert(Compile.violations(localDb, unboundedForall,
      localDb.relations("Employee").df).isEmpty)
    // Exists over an unbounded quantifier always errors per-row — never
    // Right(true) — and Eval's Exists-absorb makes ∃ itself Right(false):
    // wrapped in Or with a real branch, parity must still hold
    checkParity(Or(List(Exists("x", "natural_plus", fk), smallId)))
    // and compilable reflects the Exists-absorb rule
    assert(Compile.compilable(localDb, Or(List(Forall("x", "natural_plus", fk)))))
  }

  test("degenerate quantifiers (body ignores the variable): FK-via-Exists idiom") {
    // the reference's FK form: ∃ d ∈ Department. MemberOf(Department, dept_id = Var dept_id)
    checkParity(Exists("d", "Department", fk))
    checkParity(Forall("d", "Department", fk))
    checkParity(Not(Exists("d", "Department", fk), "Department"))
    // ∃/∀ over an EMPTY quantifier with an ignored variable
    checkParity(Exists("e", "EmptyRel", smallId))
    checkParity(Forall("e", "EmptyRel", smallId))
    // ∃ with an ignored variable and an incompilable (never-true) body
    checkParity(Or(List(Exists("d", "Department", Forall("x", "natural_plus", fk)), smallId)))
  }

  // ---- quantified STORED membership (the storedQuant join compilation) ----

  /** emp_id appears under d's department: binding mixes a parent column
    * (emp_id), a quantifier column (d.dept_id), and a self-referencing
    * stored target. */
  private val empUnderD = MemberOf("Employee",
    List("emp_id" -> Var("emp_id"), "dept_id" -> Var("d.dept_id")))

  test("∃ over stored membership: semi join on the pair set") {
    // holds unless emp_id appears in NO department (orphan 30 violates)
    checkParity(Exists("d", "Department", empUnderD))
  }

  test("∃ over negated stored membership: count dual") {
    // holds unless emp_id appears in EVERY department (only 40 violates)
    checkParity(Exists("d", "Department", Not(empUnderD, "Employee")))
  }

  test("∀ over stored membership: matched-count equality") {
    // holds only for emp_ids present in every department (only 40)
    checkParity(Forall("d", "Department", empUnderD))
  }

  test("∀ over negated stored membership: anti join on the pair set") {
    // holds only for emp_ids in no department at all (only orphan 30)
    checkParity(Forall("d", "Department", Not(empUnderD, "Employee")))
  }

  test("quantified stored membership with no parent column: uniform verdict") {
    // Proj parents are never referenced; one bounded aggregate decides all
    checkParity(Exists("d", "Department",
      MemberOf("Employee", List("dept_id" -> Var("d.dept_id"), "emp_id" -> Const(iv(10))))),
      relName = "Proj") // (10, 1) ∈ Employee → every Proj row holds
    checkParity(Forall("d", "Department",
      MemberOf("Employee", List("dept_id" -> Var("d.dept_id"), "emp_id" -> Const(iv(10))))),
      relName = "Proj") // (10, 2) ∉ Employee → every Proj row violates
    checkParity(Forall("d", "Department",
      MemberOf("Employee", List("dept_id" -> Var("d.dept_id"), "emp_id" -> Const(iv(40))))),
      relName = "Proj") // 40 in every department → every Proj row holds
  }

  test("quantified stored membership: constant-false membership edge cases") {
    checkParity(Exists("d", "Department", MemberOf("EmptyRel", List("x" -> Var("d.dept_id")))))
    checkParity(Forall("d", "Department", MemberOf("NoSuchRel", List("x" -> Var("d.dept_id")))))
    checkParity(Forall("d", "Department",
      Not(MemberOf("EmptyRel", List("x" -> Var("d.dept_id"))), "EmptyRel")))
  }

  test("nested quantifier with stored membership referencing both variables") {
    checkParity(Exists("d", "Department", Exists("e2", "Employee",
      MemberOf("Employee",
        List("emp_id" -> Var("e2.emp_id"), "dept_id" -> Var("d.dept_id"))))))
  }

  test("quantified stored membership compiles without a cross join") {
    for (body <- Seq(
        Exists("d", "Department", empUnderD),
        Forall("d", "Department", empUnderD),
        Exists("d", "Department", Not(empUnderD, "Employee")),
        Forall("d", "Department", Not(empUnderD, "Employee")))) {
      val viol = Compile.violations(distDb, body, distDb.relations("Employee").df)
        .getOrElse(fail(s"not compiled: $body"))
      val plan = viol.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
        s"cross join in plan for $body:\n$plan")
    }
  }

  test("quantifiesOver sees quantifiers at any depth") {
    assert(Compile.quantifiesOver(Exists("e", "Employee", fk), "Employee"))
    assert(Compile.quantifiesOver(Not(Forall("e", "Employee", fk), "u"), "Employee"))
    assert(!Compile.quantifiesOver(fk, "Employee"))
    assert(!Compile.quantifiesOver(Exists("d", "Department", fk), "Employee"))
  }
}
