package graft.server

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.catalog.ParquetCatalog
import graft.QuerySpec
import graft.QueryHarness._

/** The driver-contract rows for the paper's six sublanguages and the
  * engine's surfaces: `drl_*` (sexp text → parser → finiteness gate →
  * compiler → DataFrame), `dml_*`/`ddl_*`/`icl_*`/`dcl_*`/`scl_*` (the
  * mutation, constraint, branch and cursor sublanguages through an
  * [[EngineSession]]), `tcp_*` (the wire through a real [[Listener]])
  * and `persist_*` (write-through storage and its restore). Each row's
  * build sits beside the DuckDB SQL that checks it. */
private[graft] object SublanguageQueries {

  /** Wire schemas of the `tcp_*` rows: the wire decodes every integer as
    * a Long. */
  private val NationWire = "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
  private val KvWire = "k BIGINT, v STRING"

  val specs: Seq[QuerySpec] = Seq(
    // ---- DRL core: one per AST node (reference lib/drl/ast.ml:16-28) ----
    QuerySpec("drl_base_scan", drl("(Base region)"),
      "SELECT * FROM region"),
    QuerySpec("drl_const", drl("(Const ((k (Int 1)) (label (Str graft))))"),
      "SELECT CAST(1 AS BIGINT) AS k, CAST('graft' AS VARCHAR) AS label"),
    QuerySpec("drl_project", drl("(Project (n_name n_regionkey) (Base nation))"),
      "SELECT n_name, n_regionkey FROM nation"),
    QuerySpec("drl_rename", drl("(Rename ((n_name nation_name)) (Project (n_name) (Base nation)))"),
      "SELECT n_name AS nation_name FROM nation"),
    QuerySpec("drl_select_const", drl("(Select (Const ((n_regionkey (Int 2)))) (Base nation))"),
      "SELECT * FROM nation WHERE n_regionkey = 2"),
    QuerySpec("drl_select_semijoin", drl(
      """(Select (Rename ((c_custkey o_custkey))
        |          (Project (c_custkey)
        |            (Select (Const ((c_mktsegment (Str BUILDING)))) (Base customer))))
        |  (Base orders))""".stripMargin),
      "SELECT o.* FROM orders o WHERE o.o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')"),
    QuerySpec("drl_join", drl("(Join (c_custkey) (Base customer) (Rename ((o_custkey c_custkey)) (Base orders)))"),
      ("SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment, " +
        "o.o_orderkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority " +
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey")),
    QuerySpec("drl_join3", drl(
      """(Project (l_orderkey l_linenumber l_quantity o_totalprice c_name)
        |  (Join (o_custkey)
        |    (Join (l_orderkey) (Base lineitem) (Rename ((o_orderkey l_orderkey)) (Base orders)))
        |    (Rename ((c_custkey o_custkey)) (Base customer))))""".stripMargin),
      ("SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice, c.c_name " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "JOIN customer c ON o.o_custkey = c.c_custkey")),
    QuerySpec("drl_cartesian", drl("(Cartesian (Base region) (Base nation))"),
      "SELECT * FROM region CROSS JOIN nation"),
    QuerySpec("drl_union", drl(
      """(Union (Project (n_regionkey) (Base nation))
        |  (Rename ((r_regionkey n_regionkey)) (Project (r_regionkey) (Base region))))""".stripMargin),
      "SELECT n_regionkey FROM nation UNION ALL SELECT r_regionkey AS n_regionkey FROM region"),
    QuerySpec("drl_diff", drl("(Diff (Project (l_returnflag) (Base lineitem)) (Const ((l_returnflag (Str A)))))"),
      "SELECT l_returnflag FROM lineitem WHERE l_returnflag IS DISTINCT FROM 'A'"),
    QuerySpec("drl_take", drl("(Take 5 (Base region))"),
      "SELECT * FROM region LIMIT 5"),
    QuerySpec("drl_virtual_lt", drl(
      """(Select (Base natural_natural_less_than)
        |  (Rename ((o_custkey left) (o_orderkey right))
        |    (Project (o_custkey o_orderkey) (Base orders))))""".stripMargin),
      ("SELECT o_custkey AS \"left\", o_orderkey AS \"right\" FROM orders " +
        "WHERE o_custkey >= 0 AND o_orderkey >= 0 AND o_custkey < o_orderkey")),
    QuerySpec("drl_virtual_plus", drl(
      """(Select (Base natural_plus)
        |  (Rename ((l_orderkey a) (l_linenumber b) (l_suppkey sum))
        |    (Project (l_orderkey l_linenumber l_suppkey) (Base lineitem))))""".stripMargin),
      ("SELECT l_orderkey AS a, l_linenumber AS b, l_suppkey AS \"sum\" FROM lineitem " +
        "WHERE l_orderkey >= 0 AND l_linenumber >= 0 AND l_suppkey >= 0 " +
        "AND l_orderkey + l_linenumber = l_suppkey")),
    // extension nodes (SURVEY.md §7.2 step 7): sort/top-k, aggregation,
    // theta join — the reference's declared-but-unbuilt Lineage surface
    QuerySpec("drl_sort_topk", drl(
      "(Take 10 (Sort ((o_totalprice Desc) (o_orderkey Asc)) (Project (o_orderkey o_totalprice) (Base orders))))"),
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    // integer-typed aggregates only: a double sum is partial-order
    // dependent and cannot hash-match a sequential oracle
    QuerySpec("drl_aggregate", drl(
      """(Aggregate (group (l_returnflag l_linestatus))
        |  (aggs ((count n_rows) (sum l_linenumber sum_ln) (min l_orderkey min_ok) (max l_orderkey max_ok)))
        |  (Base lineitem))""".stripMargin),
      ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows, " +
        "CAST(SUM(l_linenumber) AS BIGINT) AS sum_ln, " +
        "MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok FROM lineitem " +
        "GROUP BY l_returnflag, l_linestatus")),
    QuerySpec("drl_theta_join", drl(
      """(ThetaJoin ((lt s_suppkey n_nationkey) (neq s_nationkey n_regionkey))
        |  (Project (s_suppkey s_nationkey) (Base supplier))
        |  (Project (n_nationkey n_regionkey) (Base nation)))""".stripMargin),
      ("SELECT s.s_suppkey, s.s_nationkey, n.n_nationkey, n.n_regionkey " +
        "FROM supplier s JOIN nation n ON s.s_suppkey < n.n_nationkey AND s.s_nationkey <> n.n_regionkey")),
    // the third extension shape (§7.2 step 7): per-partition window
    // numbering through the sexp surface — (acctbal Desc, custkey Asc)
    // is a total order, so the rank column itself hash-checks
    QuerySpec("drl_window", drl(
      """(Window (partition (c_nationkey)) (order ((c_acctbal Desc) (c_custkey Asc)))
        |  (fn (row_number)) (as rn)
        |  (Project (c_custkey c_nationkey c_acctbal) (Base customer)))""".stripMargin),
      ("SELECT c_custkey, c_nationkey, c_acctbal, " +
        "ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn " +
        "FROM customer")),
    // previous-row delta shape: Lag moves a VALUE (no arithmetic), so
    // doubles stay bit-identical cross-engine
    QuerySpec("drl_window_lag", drl(
      """(Window (partition (n_regionkey)) (order ((n_nationkey Asc)))
        |  (fn (lag n_name)) (as prev_name) (Base nation))""".stripMargin),
      ("SELECT n_nationkey, n_name, n_regionkey, " +
        "LAG(n_name) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS prev_name " +
        "FROM nation")),
    // cumulative shape: integer running sum along the unique in-order
    // line number — exact on any engine
    QuerySpec("drl_window_runsum", drl(
      """(Window (partition (l_orderkey)) (order ((l_linenumber Asc)))
        |  (fn (running_sum l_linenumber)) (as rs)
        |  (Project (l_orderkey l_linenumber) (Base lineitem)))""".stripMargin),
      ("SELECT l_orderkey, l_linenumber, " +
        "SUM(l_linenumber) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber " +
        "ROWS UNBOUNDED PRECEDING)::BIGINT AS rs FROM lineitem")),

    // ---- DML/DDL: full mutation pipeline over the engine ----
    QuerySpec("dml_pipeline", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name region_copy) (schema ((r_regionkey integer) (r_name string))))",
      "(InsertFrom (target region_copy) (source (Base region)))",
      "(InsertTuple (relation region_copy) (attributes ((r_regionkey (Int 99)) (r_name (Str LAPUTA)))))",
      "(DeleteWhere (target region_copy) (predicate (Const ((r_regionkey (Int 0))))))",
    ), "(Base region_copy)"),
      ("SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region WHERE r_regionkey <> 0 " +
        "UNION ALL SELECT 99, 'LAPUTA'")),
    QuerySpec("dml_assign", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name big_orders) (schema ((o_orderkey integer) (o_totalprice rational))))",
      "(InsertFrom (target big_orders) (source (Project (o_orderkey o_totalprice) (Select (Const ((o_orderstatus (Str P)))) (Base orders)))))",
      "(Assign (target big_orders) (body (Project (o_orderkey o_totalprice) (Select (Const ((o_orderstatus (Str F)))) (Base orders)))))",
    ), "(Base big_orders)"),
      ("SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice " +
        "FROM orders WHERE o_orderstatus = 'F'")),
    // Rational fidelity: attribute values of the rational domain are
    // floats — the reference compares them as float (lib/prelude/
    // domains.ml:101-102) and hashes/renders the float value
    // (lib/conventions.ml:27-41); the num/den pair schema exists only in
    // the domain's GENERATOR, which system.ml:58-67 never registers as a
    // queryable relation. This row pins the observable surface: the
    // engine's content hash over engine-stored rational tuples is
    // re-derived by the oracle from the documented canonical encoding.
    QuerySpec("dml_rational_hash", ((s, dir) => {
      val es = session(s, dir)
      Seq(
        "(CreateDatabase g)",
        "(CreateRelation (name priced) (schema ((item integer) (price rational))))",
        "(InsertTuple (relation priced) (attributes ((item (Int 1)) (price (Float 10.5)))))",
        "(InsertTuple (relation priced) (attributes ((item (Int 2)) (price (Float -2.75)))))",
        "(InsertTuple (relation priced) (attributes ((item (Int 3)) (price (Float 4.0)))))",
        "(InsertTuple (relation priced) (attributes ((item (Int 4)) (price (Float 0.25)))))",
      ).foreach(run(es, _))
      val rel = es.db.relations("priced")
      rel.df.withColumn("content_hash", rel.rowHash)
    }),
      // re-derives the engine's canonical tuple encoding + sha-256 over
      // rational (float-valued) attributes; the .25-grid literals render
      // identically as doubles in Spark and DuckDB
      ("""WITH t(item, price) AS (VALUES (CAST(1 AS BIGINT), CAST(10.5 AS DOUBLE)), """ +
        """(2, -2.75), (3, 4.0), (4, 0.25)), """ +
        """e AS (SELECT item, price, 'priced|item:i:' || octet_length(encode(item::VARCHAR)) """ +
        """|| ':' || item::VARCHAR || ';price:f:' || octet_length(encode(price::VARCHAR)) """ +
        """|| ':' || price::VARCHAR AS enc FROM t) """ +
        """SELECT item, price, sha256(enc) AS content_hash FROM e""")),
    QuerySpec("ddl_catalog", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name region_copy) (schema ((r_regionkey integer) (r_name string))))",
      "(CreateRelation (name scratch) (schema ((x integer))))",
      "(RetractRelation scratch)",
    ), "(Base sakura:relation)"),
      ("SELECT * FROM (VALUES ('sakura:relation'),('sakura:domain'),('sakura:attribute')," +
        "('sakura:constraint'),('sakura:on'),('sakura:timing'),('region_copy')) t(name)")),
    QuerySpec("ddl_attributes", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name pair) (schema ((k integer) (v string))))",
    ), "(Select (Const ((relation_name (Str pair)))) (Base sakura:attribute))"),
      ("SELECT * FROM (VALUES ('pair','k','integer'),('pair','v','string')) " +
        "t(relation_name, attr_name, domain_name)")),
    // RegisterDomain catalog maintenance: prelude domains + the new one
    QuerySpec("ddl_domains", script(Seq(
      "(CreateDatabase g)",
      "(RegisterDomain (name money) (cardinality AlephZero) (base integer))",
    ), "(Base sakura:domain)"),
      ("SELECT * FROM (VALUES ('integer'),('natural'),('rational'),('string'),('money')) " +
        "t(name)")),

    // ---- ICL: constraint registration + per-row enforcement ----
    QuerySpec("icl_fk_pipeline", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name Department) (schema ((dept_id integer))))",
      "(InsertFrom (target Department) (source (Rename ((r_regionkey dept_id)) (Project (r_regionkey) (Base region)))))",
      "(CreateRelation (name Employee) (schema ((emp_id integer) (dept_id integer))))",
      "(RegisterConstraint (constraint_name fk_dept) (relation_name Employee) (body (MemberOf (target Department) (binding ((dept_id (Var dept_id)))))))",
      "(InsertFrom (target Employee) (source (Project (emp_id dept_id) (Rename ((n_nationkey emp_id) (n_regionkey dept_id)) (Base nation)))))",
    ), "(Base Employee)"),
      ("SELECT CAST(n_nationkey AS BIGINT) AS emp_id, CAST(n_regionkey AS BIGINT) AS dept_id " +
        "FROM nation")),
    // Bulk FK ingest past Engine.LocalThreshold: the constrained relation
    // takes the SET-WISE path (compiled anti-join FK validation + compiled
    // Exists quantifier over the batch — graft.icl.Compile), promoting to
    // a Dist extension. region × nation × customer ≈ 187k rows at sf0.01.
    QuerySpec("icl_fk_bulk", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name cust_keys) (schema ((c_custkey integer))))",
      "(InsertFrom (target cust_keys) (source (Project (c_custkey) (Base customer))))",
      "(CreateRelation (name region_keys) (schema ((rk integer))))",
      "(InsertFrom (target region_keys) (source (Rename ((r_regionkey rk)) (Project (r_regionkey) (Base region)))))",
      "(CreateRelation (name fact) (schema ((r_regionkey integer) (n_nationkey integer) (c_custkey integer))))",
      "(RegisterConstraint (constraint_name fk_cust) (relation_name fact) " +
        "(body (MemberOf (target cust_keys) (binding ((c_custkey (Var c_custkey)))))))",
      "(RegisterConstraint (constraint_name region_known) (relation_name fact) " +
        "(body (Exists (variable r) (quantifier region_keys) " +
        "(body (MemberOf (target natural_natural_equal) (binding ((left (Var r_regionkey)) (right (Var r.rk)))))))))",
      "(InsertFrom (target fact) (source (Cartesian (Project (r_regionkey) (Base region)) " +
        "(Cartesian (Project (n_nationkey) (Base nation)) (Project (c_custkey) (Base customer))))))",
      // delete an UNREFERENCED key: the batch delete-cascade re-check
      // (focus semi-join against the Dist fact relation) must pass
      "(InsertTuple (relation cust_keys) (attributes ((c_custkey (Int 99999999)))))",
      "(DeleteWhere (target cust_keys) (predicate (Const ((c_custkey (Int 99999999))))))",
    ), "(Base fact)"),
      ("SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, CAST(n_nationkey AS BIGINT) AS n_nationkey, " +
        "CAST(c_custkey AS BIGINT) AS c_custkey FROM region CROSS JOIN nation CROSS JOIN customer")),
    // Exists/Forall/Or + quantifier namespacing end-to-end (reference
    // weak-entity / implication scenarios, test_relational_engine.ml:
    // 2110-2587): inserts only succeed if the quantified constraints hold.
    QuerySpec("icl_quantifier_pipeline", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name Department) (schema ((dept_id integer))))",
      "(InsertFrom (target Department) (source (Rename ((r_regionkey dept_id)) (Project (r_regionkey) (Base region)))))",
      "(CreateRelation (name Employee) (schema ((emp_id integer) (dept_id integer))))",
      "(RegisterConstraint (constraint_name emp_dept_exists) (relation_name Employee) " +
        "(body (Exists (variable d) (quantifier Department) " +
        "(body (MemberOf (target natural_natural_equal) (binding ((left (Var dept_id)) (right (Var d.dept_id)))))))))",
      "(InsertFrom (target Employee) (source (Project (emp_id dept_id) " +
        "(Rename ((n_nationkey emp_id) (n_regionkey dept_id)) (Base nation)))))",
      // ∀ employees: dept ≠ this one OR emp_id ≤ 1000 (implication via Or)
      "(RegisterConstraint (constraint_name small_emp_ids) (relation_name Department) " +
        "(body (Forall (variable e) (quantifier Employee) (body (Or (" +
        "(MemberOf (target natural_natural_not_equal) (binding ((left (Var dept_id)) (right (Var e.dept_id))))) " +
        "(MemberOf (target natural_natural_less_than_or_equal) (binding ((left (Var e.emp_id)) (right (Const (Int 1000))))))))))))",
      "(InsertTuple (relation Department) (attributes ((dept_id (Int 90)))))",
    ), "(Base Department)"),
      ("SELECT CAST(r_regionkey AS BIGINT) AS dept_id FROM region " +
        "UNION ALL SELECT 90")),
    // Mutual exclusion via closed-world Not (reference subtype scenarios,
    // test_relational_engine.ml:2110-2587): WestDept keys must NOT be
    // EastDept members. The WestDept source also exercises the
    // virtual-comparison filter over a Cartesian-with-Const bound.
    QuerySpec("icl_exclusion_pipeline", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name EastDept) (schema ((dept_id integer))))",
      "(InsertFrom (target EastDept) (source (Rename ((r_regionkey dept_id)) (Project (r_regionkey) (Base region)))))",
      "(CreateRelation (name WestDept) (schema ((dept_id integer))))",
      "(RegisterConstraint (constraint_name west_not_east) (relation_name WestDept) " +
        "(body (Not (body (MemberOf (target EastDept) (binding ((dept_id (Var dept_id)))))) (universe EastDept))))",
      "(InsertFrom (target WestDept) (source (Rename ((left dept_id)) (Project (left) " +
        "(Select (Base natural_natural_greater_than) " +
        "(Rename ((n_nationkey left)) (Cartesian (Project (n_nationkey) (Base nation)) (Const ((right (Int 4)))))))))))",
    ), "(Base WestDept)"),
      "SELECT CAST(n_nationkey AS BIGINT) AS dept_id FROM nation WHERE n_nationkey > 4"),
    // 3-wise nested quantification (reference docs/n-way-binding.org:
    // the hotel Suite→Room→Building chain): a suite is valid only if its
    // room's building has more than 3 floors — inherently ∃r∈Room ∃b∈
    // Building with the chain tied through both quantifier variables.
    // Exercises nested Exists, And over virtual memberships, namespaced
    // variables, FK composition, and the doc's 3-way join as the result.
    QuerySpec("icl_nway_pipeline", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name Building) (schema ((building_id integer) (building_name string) (floors integer))))",
      "(InsertTuples (relation Building) (tuples (" +
        "((building_id (Int 1)) (building_name (Str TowerA)) (floors (Int 10))) " +
        "((building_id (Int 2)) (building_name (Str TowerB)) (floors (Int 2))))))",
      "(CreateRelation (name Room) (schema ((room_id integer) (building_id integer) (floor integer))))",
      "(RegisterConstraint (constraint_name fk_room_building) (relation_name Room) " +
        "(body (MemberOf (target Building) (binding ((building_id (Var building_id)))))))",
      "(InsertTuples (relation Room) (tuples (" +
        "((room_id (Int 101)) (building_id (Int 1)) (floor (Int 1))) " +
        "((room_id (Int 102)) (building_id (Int 1)) (floor (Int 2))) " +
        "((room_id (Int 201)) (building_id (Int 2)) (floor (Int 1))))))",
      "(CreateRelation (name Suite) (schema ((suite_id integer) (room_id integer) (capacity integer))))",
      "(RegisterConstraint (constraint_name fk_suite_room) (relation_name Suite) " +
        "(body (MemberOf (target Room) (binding ((room_id (Var room_id)))))))",
      "(RegisterConstraint (constraint_name suite_in_tall_building) (relation_name Suite) " +
        "(body (Exists (variable r) (quantifier Room) (body (Exists (variable b) (quantifier Building) " +
        "(body (And (" +
        "(MemberOf (target natural_natural_equal) (binding ((left (Var room_id)) (right (Var r.room_id))))) " +
        "(MemberOf (target natural_natural_equal) (binding ((left (Var r.building_id)) (right (Var b.building_id))))) " +
        "(MemberOf (target natural_natural_greater_than) (binding ((left (Var b.floors)) (right (Const (Int 3))))))))))))))",
      "(InsertTuples (relation Suite) (tuples (" +
        "((suite_id (Int 1001)) (room_id (Int 101)) (capacity (Int 4))) " +
        "((suite_id (Int 1002)) (room_id (Int 101)) (capacity (Int 2))) " +
        "((suite_id (Int 1003)) (room_id (Int 102)) (capacity (Int 3))))))",
    ), "(Project (suite_id building_name) (Join (room_id) (Base Suite) (Join (building_id) (Base Room) (Base Building))))"),
      ("SELECT * FROM (VALUES (CAST(1001 AS BIGINT), 'TowerA'), (1002, 'TowerA'), " +
        "(1003, 'TowerA')) t(suite_id, building_name)")),
    // And-bodied constraint through the full engine path: bulk insert
    // into a relation whose constraint is a conjunction of two virtual
    // comparisons — the compiled form is the union of per-conjunct
    // violation sets (graft.icl.Compile And case).
    QuerySpec("icl_conjunction_pipeline", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name grades) (schema ((sid integer) (score integer))))",
      "(RegisterConstraint (constraint_name bounded) (relation_name grades) " +
        "(body (And (" +
        "(MemberOf (target natural_natural_less_than_or_equal) (binding ((left (Var score)) (right (Const (Int 100)))))) " +
        "(MemberOf (target natural_natural_less_than) (binding ((left (Var sid)) (right (Const (Int 500))))))))))",
      "(InsertFrom (target grades) (source (Project (sid score) " +
        "(Rename ((n_nationkey sid) (n_regionkey score)) (Base nation)))))",
    ), "(Base grades)"),
      ("SELECT CAST(n_nationkey AS BIGINT) AS sid, CAST(n_regionkey AS BIGINT) AS score " +
        "FROM nation")),
    QuerySpec("icl_constraint_catalog", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name scores) (schema ((student_id integer) (score integer))))",
      "(RegisterConstraint (constraint_name score_range) (relation_name scores) (body (MemberOf (target natural_natural_less_than_or_equal) (binding ((left (Var score)) (right (Const (Int 100))))))))",
      "(RegisterConstraint (constraint_name student_known) (relation_name scores) (body (MemberOf (target natural_natural_less_than) (binding ((left (Var student_id)) (right (Const (Int 1000))))))) (timing Deferred))",
      "(InsertTuple (relation scores) (attributes ((student_id (Int 7)) (score (Int 85)))))",
      "(Commit)",
    ), "(Base sakura:constraint)"),
      ("SELECT * FROM (VALUES ('score_range','scores'),('student_known','scores')) " +
        "t(name, relation_name)")),
    // Deferred-constraint commit end-to-end (reference attach_constraint
    // ~timing:Deferred + commit, lib/manipulation.ml:965-1027; scenario
    // shape from test_relational_engine.ml:4410-4548). The deferral
    // window governs the CASCADE only: deleting a referenced parent
    // succeeds (check_one_constraint skips deferred entries,
    // lib/manipulation.ml:481) and commit catches the orphan — while a
    // DIRECT violating insert is still rejected at mutation time
    // (validate_tuple_constraints, lib/manipulation.ml:395-415, has no
    // is_deferred skip). A failed commit leaves the database unchanged,
    // deferred list included (an unrepaired re-commit fails again); a
    // successful commit CLEARS the window, after which the cascade
    // enforces immediately (is_deferred is membership in db.deferred).
    QuerySpec("icl_deferred_commit", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name Department) (schema ((dept_id integer))))",
      "(InsertFrom (target Department) (source (Rename ((r_regionkey dept_id)) (Project (r_regionkey) (Base region)))))",
      "(CreateRelation (name Employee) (schema ((emp_id integer) (dept_id integer))))",
      "(RegisterConstraint (constraint_name fk_dept) (relation_name Employee) " +
        "(body (MemberOf (target Department) (binding ((dept_id (Var dept_id)))))) (timing Deferred))",
      "(InsertFrom (target Employee) (source (Project (emp_id dept_id) " +
        "(Rename ((n_nationkey emp_id) (n_regionkey dept_id)) (Base nation)))))",
      // deferred timing does NOT relax direct insert validation
      "!(InsertTuple (relation Employee) (attributes ((emp_id (Int 999)) (dept_id (Int 99)))))",
      // ...but the delete-cascade skips deferred: orphaning succeeds
      "(DeleteWhere (target Department) (predicate (Const ((dept_id (Int 0))))))",
      // the window is violated (region-0 employees orphaned): commit FAILS...
      "!(Commit)",
      // ...and must NOT have consumed the deferred list in failing
      "!(Commit)",
      // repair the orphans, then the same window commits clean
      "(InsertTuple (relation Department) (attributes ((dept_id (Int 0)))))",
      "(Commit)",
      // window cleared -> the cascade now enforces at mutation time
      "!(DeleteWhere (target Department) (predicate (Const ((dept_id (Int 1))))))",
    ), "(Join (dept_id) (Base Employee) (Base Department))"),
      // the orphan-and-repair window nets out to the original FK-closed
      // state: every nation-derived employee joins its restored department
      ("SELECT CAST(n_nationkey AS BIGINT) AS emp_id, CAST(n_regionkey AS BIGINT) AS dept_id " +
        "FROM nation")),

    // ---- DCL: branch / checkout / merge ----
    QuerySpec("dcl_branch_merge", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name scores) (schema ((r_regionkey integer) (r_name string))))",
      "(InsertFrom (target scores) (source (Base region)))",
      "(CreateBranch (name main))",
      "(Checkout main)",
      "(CreateBranch (name feature))",
      "(Checkout feature)",
      "(InsertTuple (relation scores) (attributes ((r_regionkey (Int 77)) (r_name (Str FEATURE)))))",
      "(Checkout main)",
      "(InsertTuple (relation scores) (attributes ((r_regionkey (Int 88)) (r_name (Str MAIN)))))",
      "(Merge (left main) (right feature) (strategy PreferLeft))",
    ), "(Base scores)"),
      ("SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region " +
        "UNION ALL SELECT 88, 'MAIN' UNION ALL SELECT 77, 'FEATURE'")),
    // branch DIFF surfaced directly (reference lib/management/merge.ml's
    // Diff feeds merge; here the diff itself is the user artifact — code
    // review for data): feature inserts one row and deletes one, and the
    // diff against the unchanged main tip must report EXACTLY those two
    // rows, tagged. Hash-keyed row identity, so a same-schema edit is
    // row adds/removes, never a wholesale relation change
    QuerySpec("dcl_diff", ((s, dir) => {
      val es = session(s, dir)
      Seq(
        "(CreateDatabase g)",
        "(CreateRelation (name scores) (schema ((r_regionkey integer) (r_name string))))",
        "(InsertFrom (target scores) (source (Base region)))",
        "(CreateBranch (name main))",
        "(Checkout main)",
        "(CreateBranch (name feature))",
        "(Checkout feature)",
        "(InsertTuple (relation scores) (attributes ((r_regionkey (Int 77)) (r_name (Str FEATURE)))))",
        "(DeleteTuple (relation scores) (attributes ((r_regionkey (Int 0)) (r_name (Str AFRICA)))))",
      ).foreach(run(es, _))
      val featureDb = es.db
      run(es, "(Checkout main)")
      val mainDb = es.db
      val m = graft.dcl.Diff.diff(mainDb, featureDb)
        .collectFirst { case d: graft.dcl.Diff.RelationModified if d.name == "scores" => d }
        .getOrElse(throw new IllegalStateException("scores did not diff as modified"))
      require(!m.schemaChanged, "same-schema edit must not diff as a schema change")
      m.added.df.withColumn("change", lit("added"))
        .unionAll(m.removed.df.withColumn("change", lit("removed")))
    }),
      // exactly the two divergent rows, tagged by direction
      """SELECT CAST(77 AS BIGINT) AS r_regionkey, 'FEATURE' AS r_name, 'added' AS change
        |UNION ALL
        |SELECT CAST(0 AS BIGINT), 'AFRICA', 'removed'""".stripMargin),
    // The strategy-DIVERGENT conflict (reference merge.ml:184-287): both
    // branches retract + recreate `scores` with a CHANGED schema (same-schema
    // recreation would diff as plain row edits and merge cleanly), so the
    // merge must pick a WHOLESALE winner per strategy (the reference's
    // both-schema-changed case). Marker relations keep each branch's
    // intermediate states unique — otherwise content addressing would
    // resolve the LCA past the shared no-scores state and turn the
    // recreation into a plain RelationAdded. PreferRight takes the right
    // branch's relation; the same script under PreferLeft/RevertToAncestor
    // yields {(88 MAIN)} (spec-pinned) / the region ancestor — three divergent winners
    // from one scenario (DclSpec pins all three; this row and
    // dcl_merge_revert pin the two the oracle could not see before).
    QuerySpec("dcl_merge_right", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name scores) (schema ((r_regionkey integer) (r_name string))))",
      "(InsertFrom (target scores) (source (Base region)))",
      "(CreateBranch (name main))",
      "(Checkout main)",
      "(CreateBranch (name feature))",
      "(Checkout feature)",
      "(CreateRelation (name rmark) (schema ((x integer))))",
      "(RetractRelation scores)",
      "(CreateRelation (name scores) (schema ((k integer) (who string))))",
      "(InsertTuple (relation scores) (attributes ((k (Int 77)) (who (Str FEATURE)))))",
      "(Checkout main)",
      "(CreateRelation (name lmark) (schema ((y integer))))",
      "(RetractRelation scores)",
      "(CreateRelation (name scores) (schema ((k integer) (who string))))",
      "(InsertTuple (relation scores) (attributes ((k (Int 88)) (who (Str MAIN)))))",
      "(Merge (left main) (right feature) (strategy PreferRight))",
    ), "(Base scores)"),
      // schema-conflict wholesale winner: the right branch's recreation
      "SELECT * FROM (VALUES (CAST(77 AS BIGINT), 'FEATURE')) t(k, who)"),
    // Same conflict, RevertToAncestor: neither branch wins — the merged
    // relation is the LCA's extension (the original region rows).
    QuerySpec("dcl_merge_revert", script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name scores) (schema ((r_regionkey integer) (r_name string))))",
      "(InsertFrom (target scores) (source (Base region)))",
      "(CreateBranch (name main))",
      "(Checkout main)",
      "(CreateBranch (name feature))",
      "(Checkout feature)",
      "(CreateRelation (name rmark) (schema ((x integer))))",
      "(RetractRelation scores)",
      "(CreateRelation (name scores) (schema ((k integer) (who string))))",
      "(InsertTuple (relation scores) (attributes ((k (Int 77)) (who (Str FEATURE)))))",
      "(Checkout main)",
      "(CreateRelation (name lmark) (schema ((y integer))))",
      "(RetractRelation scores)",
      "(CreateRelation (name scores) (schema ((k integer) (who string))))",
      "(InsertTuple (relation scores) (attributes ((k (Int 88)) (who (Str MAIN)))))",
      "(Merge (left main) (right feature) (strategy RevertToAncestor))",
    ), "(Base scores)"),
      // schema-conflict, neither side wins: the LCA's original extension
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region"),
    // Conflict REPORTING through the wire: the same both-schema-changed
    // scenario, but the row surfaces the merge RESPONSE's conflict
    // report (relation, kind, count) instead of the winning extension —
    // a strategy-resolved merge must tell the client what it resolved.
    // Schema conflicts are the only kind a merge reports: the
    // reference's tuple conflict cannot arise from diffs against one LCA
    // (see graft.dcl.Merge.Conflicts).
    QuerySpec("dcl_merge_conflicts", ((s, dir) => {
      val es = session(s, dir)
      Seq(
        "(CreateDatabase g)",
        "(CreateRelation (name scores) (schema ((r_regionkey integer) (r_name string))))",
        "(InsertFrom (target scores) (source (Base region)))",
        "(CreateBranch (name main))",
        "(Checkout main)",
        "(CreateBranch (name feature))",
        "(Checkout feature)",
        "(CreateRelation (name rmark) (schema ((x integer))))",
        "(RetractRelation scores)",
        "(CreateRelation (name scores) (schema ((k integer) (who string))))",
        "(InsertTuple (relation scores) (attributes ((k (Int 77)) (who (Str FEATURE)))))",
        "(Checkout main)",
        "(CreateRelation (name lmark) (schema ((y integer))))",
        "(RetractRelation scores)",
        "(CreateRelation (name scores) (schema ((k integer) (who string))))",
        "(InsertTuple (relation scores) (attributes ((k (Int 88)) (who (Str MAIN)))))",
      ).foreach(run(es, _))
      val msg = run(es, "(Merge (left main) (right feature) (strategy PreferRight))") match {
        case Some(Transition(m)) => m
        case other => throw new IllegalArgumentException(s"unexpected: $other")
      }
      val marker = " [conflicts: "
      val idx = msg.indexOf(marker)
      if (idx < 0)
        throw new IllegalStateException(s"merge response carried no conflict report: $msg")
      val report = msg.substring(idx + marker.length, msg.length - 1)
      val rows = report.split("; ").toSeq.map(item =>
        ("schema", item.stripPrefix("schema conflict in "), 1L))
      import s.implicits._
      rows.toDF("kind", "relation", "n")
    }),
      // the conflict report the merge response must carry: one schema
      // conflict on `scores` (the only conflict kind — see
      // graft.dcl.Merge.Conflicts)
      "SELECT 'schema' AS kind, 'scores' AS relation, CAST(1 AS BIGINT) AS n"),

    // Branch registry as queryable catalog relations (sakura:branch /
    // sakura:head, reference lib/management/branch.ml:74-132); names
    // only — tips are state hashes, deterministic but hash-shaped
    QuerySpec("dcl_branch_catalog", script(Seq(
      "(CreateDatabase g)",
      "(CreateBranch (name main))",
      "(Checkout main)",
      "(CreateBranch (name feature))",
    ), "(Union (Project (name) (Base sakura:branch)) (Rename ((branch name)) (Base sakura:head)))"),
      "SELECT * FROM (VALUES ('main'),('feature'),('main')) t(name)"),

    // UpdateBranchTip through the wire: rewind main past the SECOND
    // insert to the PINNED post-first-insert tip (content addressing is
    // deterministic, so the hash literal is stable across scale factors
    // and re-runs — this row double-pins the hash chain itself: any
    // change to the engine's canonical encoding breaks it loudly),
    // then checkout must surface exactly the rolled-back state
    QuerySpec("dcl_branch_retip", script(Seq(
      "(CreateDatabase g)",
      "(ddl (CreateRelation (name t) (schema ((k integer)))))",
      "(CreateBranch (name main))",
      "(Checkout main)",
      "(InsertTuple (relation t) (attributes ((k (Int 1)))))",
      "(InsertTuple (relation t) (attributes ((k (Int 2)))))",
      "(UpdateBranchTip (name main) (hash fb1e669c55fc9da88b1a9b40ff012c6fe8a96b5be486bb4216f50a89fffef758))",
      "(Checkout main)",
    ), "(Base t)"),
      "SELECT CAST(1 AS INTEGER) AS k"),

    // ---- SCL: cursor streaming over a DRL query ----
    QuerySpec("scl_cursor_stream", ((s, dir) => {
      val rows = drain(session(s, dir), "(Base nation)", 7)()
      rowsDf(s, table(s, dir, "nation").schema.toDDL, rows)
    }),
      "SELECT * FROM nation"),
    // the FULL wire path as an oracle row: a real TCP listener on an
    // ephemeral loopback port, a real socket client, the SCL cursor
    // protocol paging the whole relation across round-trips, tagged-sexp
    // responses decoded back to typed rows (WireClient = the inverse of
    // the listener's renderer). Covers framing, dispatch, cursor
    // registry, response rendering, and value tagging end-to-end —
    // reference lib/listener.ml:95-187
    QuerySpec("tcp_roundtrip", ((s, dir) => {
      val listener = new Listener(s, Some(new ParquetCatalog(s, dir))).start()
      try {
        val conn = new WireClient.Conn(listener.localPort)
        try rowsDf(s, NationWire,
          WireClient.streamQuery(conn, "(Base nation)", pageSize = 7).map(Row.fromSeq))
        finally conn.close()
      } finally listener.close()
    }),
      // every nation row must survive the socket + sexp round-trip intact
      ("SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, " +
        "CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation")),
    // the SAME round-trip over the reference's OTHER sockaddr family
    // (lib/transport.ml:27-28): an AF_UNIX listener + client — framing,
    // dispatch, rendering, and value tagging must be transport-invariant
    QuerySpec("tcp_unix_roundtrip", ((s, dir) => {
      val path = s"/tmp/graft-${ProcessHandle.current().pid()}-oracle.sock"
      val listener = new Listener(
        s, Some(new ParquetCatalog(s, dir)), unixPath = Some(path)).start()
      try {
        val conn = new WireClient.Conn(path)
        try rowsDf(s, NationWire,
          WireClient.streamQuery(conn, "(Base nation)", pageSize = 7).map(Row.fromSeq))
        finally conn.close()
      } finally listener.close()
    }),
      // transport-invariance: the AF_UNIX socket carries the identical rows
      ("SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, " +
        "CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation")),
    // cursor snapshot pinning under concurrent mutation (reference
    // lib/session.ml:11): rows fetched AFTER an insert+delete on the
    // underlying relation still reflect the state the cursor was begun
    // on — the oracle is the PRE-mutation contents, so any leak of the
    // new row (777) or loss of the deleted row (0) hash-fails
    QuerySpec("scl_cursor_snapshot", ((s, dir) => {
      val es = session(s, dir)
      Seq(
        "(CreateDatabase g)",
        "(CreateRelation (name snap) (schema ((r_regionkey integer) (r_name string))))",
        "(InsertFrom (target snap) (source (Project (r_regionkey r_name) (Base region))))",
      ).foreach(run(es, _))
      val rows = drain(es, "(Base snap)", 2) {
        // mutate after the cursor pinned its snapshot
        run(es, "(InsertTuple (relation snap) (attributes ((r_regionkey (Int 777)) (r_name (Str FUTURE)))))")
        run(es, "(DeleteWhere (target snap) (predicate (Const ((r_regionkey (Int 0))))))")
      }
      rowsDf(s, "r_regionkey BIGINT, r_name STRING", rows)
    }),
      // pre-mutation contents: the 777 insert and the key-0 delete landed
      // after Begin, so the cursor must stream exactly the original rows
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region"),
    // Cursor pinning across a BRANCH CHECKOUT (reference lib/session.ml:11
    // pins db_snapshot — the database VALUE, not the branch): a cursor
    // opened on main keeps streaming main's pinned state even after the
    // session checks out a branch whose relation was gutted and repointed.
    QuerySpec("scl_cursor_branch", ((s, dir) => {
      val es = session(s, dir)
      Seq(
        "(CreateDatabase g)",
        "(CreateRelation (name snap) (schema ((r_regionkey integer) (r_name string))))",
        "(InsertFrom (target snap) (source (Project (r_regionkey r_name) (Base region))))",
        "(CreateBranch (name main))",
        "(Checkout main)",
        "(CreateBranch (name feature))",
      ).foreach(run(es, _))
      val rows = drain(es, "(Base snap)", 2) {
        // switch branches and divergently rewrite snap AFTER Begin: the
        // pinned snapshot must keep streaming main's original rows
        run(es, "(Checkout feature)")
        run(es, "(DeleteWhere (target snap) (predicate (Base snap)))")
        run(es, "(InsertTuple (relation snap) (attributes ((r_regionkey (Int 500)) (r_name (Str ELSEWHERE)))))")
      }
      rowsDf(s, "r_regionkey BIGINT, r_name STRING", rows)
    }),
      // the cursor pinned main's state before the checkout+rewrite
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region"),
    // Durable storage end-to-end (reference `(storage (disk ...))`,
    // lib/storable.ml:25-36 + bin/server.ml:3-12 boot-from-config):
    // session 1 write-throughs every transition to a disk root; every
    // in-memory handle is then DISCARDED and a brand-new EngineSession
    // restores from that root alone — and keeps MUTATING, which proves
    // the restored state is a full working engine (content addressing,
    // constraint enforcement, catalog) rather than merely readable
    // bytes: the restored constraint must still REJECT a violating
    // insert, and ordinary mutations must land on the restored rows.
    QuerySpec("persist_restart", ((s, dir) => {
      val root = Some(scratch(dir, "persist"))
      val s1 = session(s, dir, root)
      Seq(
        "(CreateDatabase g)",
        "(CreateRelation (name kv) (schema ((k integer) (v string))))",
        "(RegisterConstraint (constraint_name k_small) (relation_name kv) " +
          "(body (MemberOf (target natural_natural_less_than) " +
          "(binding ((left (Var k)) (right (Const (Int 1000))))))))",
        "(InsertFrom (target kv) (source (Rename ((r_regionkey k) (r_name v)) (Base region))))",
        "(InsertTuple (relation kv) (attributes ((k (Int 600)) (v (Str BEFORE_RESTART)))))",
      ).foreach(run(s1, _))
      // JVM-restart equivalence: the disk root is all that survives
      val s2 = session(s, dir, root)
      Seq(
        // the restored engine still enforces the persisted constraint...
        "!(InsertTuple (relation kv) (attributes ((k (Int 5000)) (v (Str TOO_BIG)))))",
        // ...and keeps taking ordinary mutations on the restored rows
        "(DeleteWhere (target kv) (predicate (Const ((k (Int 0))))))",
        "(InsertTuple (relation kv) (attributes ((k (Int 700)) (v (Str AFTER_RESTART)))))",
      ).foreach(run(s2, _))
      query(s2, "(Base kv)")
    }),
      // survives the restart: region rows (minus the k=0 delete) + both
      // singleton inserts; the rejected k=5000 insert must NOT appear
      ("SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region WHERE r_regionkey <> 0 " +
        "UNION ALL SELECT 600, 'BEFORE_RESTART' UNION ALL SELECT 700, 'AFTER_RESTART'")),
    // Storage maintenance end-to-end: a write-through session builds
    // mutation history (every transition = a snapshot + new relation
    // versions on disk), then an OFFLINE prune retires all history but
    // the live tips and gc deletes the orphaned objects (grace 0 on the
    // quiesced store) — and a fresh session must still restore and
    // mutate. Pins the collector's one inviolable contract: gc can eat
    // only what no manifest references, never live state. The prune must
    // actually DELETE something (asserted), so the surviving restore is
    // load-bearing evidence, not a no-op pass.
    QuerySpec("persist_gc", ((s, dir) => {
      val root = scratch(dir, "gc")
      val s1 = session(s, dir, Some(root))
      Seq(
        "(CreateDatabase g)",
        "(CreateRelation (name kv) (schema ((k integer) (v string))))",
        "(InsertFrom (target kv) (source (Rename ((r_regionkey k) (r_name v)) (Base region))))",
        // three more transitions: each retires a snapshot into history
        "(InsertTuple (relation kv) (attributes ((k (Int 100)) (v (Str STEP1)))))",
        "(DeleteWhere (target kv) (predicate (Const ((k (Int 100))))))",
        "(InsertTuple (relation kv) (attributes ((k (Int 200)) (v (Str STEP3)))))",
      ).foreach(run(s1, _))
      val deleted = graft.engine.Persist.prune(s, root, graceMs = 0L)
        .fold(e => throw new IllegalStateException(s"prune failed: $e"), identity)
      if (deleted.isEmpty)
        throw new IllegalStateException("prune deleted nothing — the gc path was not exercised")
      val s2 = session(s, dir, Some(root))
      run(s2, "(InsertTuple (relation kv) (attributes ((k (Int 300)) (v (Str AFTER_GC)))))")
      query(s2, "(Base kv)")
    }),
      // history pruned, live state intact: region rows + the surviving
      // step-3 insert + the post-gc insert (step-1's insert/delete pair
      // nets out; its snapshots are the pruned garbage)
      ("SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region " +
        "UNION ALL SELECT 200, 'STEP3' UNION ALL SELECT 300, 'AFTER_GC'")),
    // Whole-process shared head over the wire (the reference holds ONE
    // process-global Atomic head across all connections and CASes it per
    // mutation, lib/listener.ml:53-59,174-181): two SEPARATE sockets
    // mutate and observe the SAME database — B's first statement lands on
    // A's state (per-connection state would fail it with NoDatabase), A
    // then reads back B's writes. Interleaved commits surface as Conflict
    // to the connection that lost the CAS (tcp_conflict pins that path);
    // this row's client retries, exercising the convergent retry loop.
    QuerySpec("tcp_shared_head", ((s, dir) => {
      val listener = new Listener(s, Some(new ParquetCatalog(s, dir))).start()
      try {
        val a = new WireClient.Conn(listener.localPort)
        val b = new WireClient.Conn(listener.localPort)
        try {
          // the reference client's retry loop: a mutation raced past by
          // the other connection answers Conflict and is re-sent against
          // the head that beat it (A's last insert here — B committed
          // twice since A's previous request)
          def ok(conn: WireClient.Conn, stmt: String): Unit =
            WireClient.requestOk(conn, stmt, maxAttempts = 5): Unit
          ok(a, "(CreateDatabase g)")
          ok(a, "(CreateRelation (name kv) (schema ((k integer) (v string))))")
          ok(a, "(InsertFrom (target kv) (source (Rename ((r_regionkey k) (r_name v)) (Base region))))")
          ok(b, "(InsertTuple (relation kv) (attributes ((k (Int 600)) (v (Str FROM_B)))))")
          ok(b, "(DeleteWhere (target kv) (predicate (Const ((k (Int 2))))))")
          ok(a, "(InsertTuple (relation kv) (attributes ((k (Int 700)) (v (Str FROM_A)))))")
          rowsDf(s, KvWire, WireClient.streamQuery(a, "(Base kv)", pageSize = 3).map(Row.fromSeq))
        } finally { a.close(); b.close() }
      } finally listener.close()
    }),
      // one shared head across two sockets: region minus B's delete, plus
      // both connections' inserts
      ("SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region WHERE r_regionkey <> 2 " +
        "UNION ALL SELECT 600, 'FROM_B' UNION ALL SELECT 700, 'FROM_A'")),
    // Optimistic-concurrency CONFLICT through the wire (reference
    // lib/listener.ml:53-59: execute against the loop-top snapshot, CAS
    // the head at commit, answer `Conflict` when another connection won).
    // B observes the head via a read, A commits past it, and B's next
    // mutation MUST fail with Conflict — then B's immediate retry (now
    // against the head that beat it) must land. Deterministic because a
    // connection's next-request snapshot is taken under the lock that
    // finished its previous request. The result is the final state: both
    // inserts present exactly once (the conflicted attempt applied
    // NOTHING — no partial write, no double insert after retry).
    QuerySpec("tcp_conflict", ((s, dir) => {
      val listener = new Listener(s, Some(new ParquetCatalog(s, dir))).start()
      try {
        val a = new WireClient.Conn(listener.localPort)
        val b = new WireClient.Conn(listener.localPort)
        try {
          // one send, no retry: this row stages its one conflict by hand
          def ok(conn: WireClient.Conn, stmt: String): Unit =
            WireClient.requestOk(conn, stmt, maxAttempts = 1): Unit
          ok(a, "(CreateDatabase g)")
          ok(a, "(CreateRelation (name kv) (schema ((k integer) (v string))))")
          ok(a, "(InsertFrom (target kv) (source (Rename ((r_regionkey k) (r_name v)) (Base region))))")
          // B pins its snapshot at the current head with a read...
          val seen = b.request("(drl (Base kv))")
          if (!seen.startsWith("(relation"))
            throw new IllegalArgumentException(s"B's read -> $seen")
          // ...A advances the head past B's snapshot...
          ok(a, "(InsertTuple (relation kv) (attributes ((k (Int 700)) (v (Str FROM_A)))))")
          // ...so B's mutation on the stale snapshot MUST conflict
          val conflicted = b.request(
            "(InsertTuple (relation kv) (attributes ((k (Int 800)) (v (Str FROM_B)))))")
          // structural anchor: a CAS loss is a TOP-LEVEL `(error (conflict
          // ...))` (never sublanguage-wrapped — EngineSession commits after
          // execution, like the reference's `perform`); a substring match
          // anywhere in the response could confuse an unrelated error whose
          // payload embeds "(conflict" with the real thing
          if (!conflicted.startsWith("(error (conflict"))
            throw new IllegalStateException(s"expected Conflict, got: $conflicted")
          // the retry executes against the head that won, and lands; the
          // final read comes from B, whose snapshot is fresh after its own
          // commit (A's loop-top snapshot is one request behind, exactly
          // as the reference's per-iteration Atomic.get)
          ok(b, "(InsertTuple (relation kv) (attributes ((k (Int 800)) (v (Str FROM_B)))))")
          rowsDf(s, KvWire, WireClient.streamQuery(b, "(Base kv)", pageSize = 4).map(Row.fromSeq))
        } finally { a.close(); b.close() }
      } finally listener.close()
    }),
      // CAS conflict scenario: the conflicted attempt wrote nothing and the
      // retry wrote once — final state is region + exactly one row per insert
      ("SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region " +
        "UNION ALL SELECT 700, 'FROM_A' UNION ALL SELECT 800, 'FROM_B'")),
    // TRUE multi-writer contention through the wire: 8 client THREADS on
    // 8 sockets race single-tuple inserts of disjoint keys against the
    // shared CAS head (the reference's process-global Atomic head,
    // lib/listener.ml:53-59,174-181). The interleaving is
    // nondeterministic; the CONVERGED set is not — a commit either
    // applies exactly once or fails the CAS applying NOTHING, and the
    // loser retries against the head that beat it. The retry loop
    // tolerates ONLY `(conflict ...)`: a duplicate-tuple error (the
    // signature of a conflicted attempt that secretly half-applied)
    // fails the row, so the oracle's exact row set pins atomicity, not
    // just eventual convergence. The 2-socket rows above stage their
    // races sequentially; this is the claim under a real scheduler.
    QuerySpec("tcp_concurrent_inserts", ((s, dir) => {
      val listener = new Listener(s, Some(new ParquetCatalog(s, dir))).start()
      try {
        // bound: an attempt only re-fails if ANOTHER commit landed since
        // its snapshot (handleAdvancing reads the winning head under the
        // lock), and the scenario has < 200 commits total
        def ok(conn: WireClient.Conn, stmt: String): Unit =
          WireClient.requestOk(conn, stmt, maxAttempts = 200): Unit
        val boot = new WireClient.Conn(listener.localPort)
        try {
          ok(boot, "(CreateDatabase g)")
          ok(boot, "(CreateRelation (name kv) (schema ((k integer) (v string))))")
          ok(boot, "(InsertFrom (target kv) (source (Rename ((r_regionkey k) (r_name v)) (Base region))))")
          val threads = 8
          val perThread = 12
          val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
          val writers = (0 until threads).map { t =>
            val th = new Thread(() => {
              try {
                val c = new WireClient.Conn(listener.localPort)
                try {
                  var i = 0
                  while (i < perThread) {
                    ok(c, s"(InsertTuple (relation kv) (attributes ((k (Int ${1000 + t * 100 + i})) (v (Str T${t}_$i)))))")
                    i += 1
                  }
                } finally c.close()
              } catch { case e: Throwable => failures.add(e) }
            })
            th.setDaemon(true)
            th
          }
          writers.foreach(_.start())
          writers.foreach(_.join())
          if (!failures.isEmpty) throw failures.peek()
          // the reader is a FRESH socket: boot's next-request snapshot
          // still pins the pre-race head (per-connection snapshot
          // isolation — reads never conflict, so it would never advance),
          // while a new connection's first request observes the live
          // converged head, exactly like a client arriving after the dust
          val reader = new WireClient.Conn(listener.localPort)
          val rows = try WireClient.streamQuery(reader, "(Base kv)", pageSize = 32)
          finally reader.close()
          rowsDf(s, KvWire, rows.map(Row.fromSeq))
        } finally boot.close()
      } finally listener.close()
    }),
      // 8 racing writer threads, disjoint keys: whatever the schedule, the
      // converged head is the seed plus EXACTLY one row per (thread, i) —
      // a conflicted attempt applied nothing, a committed one exactly once
      ("SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region " +
        "UNION ALL SELECT 1000 + t.t * 100 + i.i, " +
        "'T' || t.t::VARCHAR || '_' || i.i::VARCHAR " +
        "FROM generate_series(0, 7) AS t(t), generate_series(0, 11) AS i(i)")),
  )
}
