package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.catalog.ParquetCatalog
import graft.drl.Compiler

/** Driver contract — queries + DuckDB oracle SQL (see SURVEY.md §7).
  *
  * Query naming: `drl_*` exercise the reference's query language
  * end-to-end (sexp text → parser → finiteness gate → compiler →
  * DataFrame); `agg_*` are the beyond-reference analytics extensions
  * (SURVEY.md §7.2 step 7); `dml_*`/`ddl_*`/`icl_*`/`dcl_*`/`scl_*`
  * exercise the mutation/constraint/branch/cursor sublanguages;
  * `dedup_*`/`text_*`/`ann_*` are the LLM-data-pipeline operators.
  */
object SparkEntry {

  /** Run a DRL sexp program against the testdata catalog — the full
    * reference request path (parse → gate → compile). */
  private def drl(sexpText: String): (SparkSession, String) => DataFrame =
    (spark, dir) =>
      Compiler.run(spark, new ParquetCatalog(spark, dir), sexpText)
        .fold(e => throw new IllegalArgumentException(e.message), identity)

  private def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Deterministic scratch directory for rows that need a writable path
    * (ingest round-trips, persist lifecycles): one FIXED location per
    * (dataset dir, tag, JVM), wiped on entry. The bench runs every query
    * twice and repeated bench runs used to leak a fresh
    * `Files.createTempDirectory` of parquet per invocation; pinning the
    * path bounds the footprint to at most one live copy per (sf, tag)
    * per RUNNING JVM. The pid segment keeps two concurrent JVMs against
    * the same sf dir (Bench + Verify, or a timing-storm best-of-3 next
    * to the suite) from wiping each other's live streaming checkpoints
    * mid-query; bounded footprint is preserved by sweeping siblings
    * whose owning process is gone (dead pids leave no live readers, so
    * deleting their trees is safe). The testdata dir itself is
    * read-only, so the scratch lives under java.io.tmpdir. */
  private def scratch(dir: String, tag: String): String = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-scratch", key, tag)
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    // sweep stale per-process entries: pid-N where /proc/N is gone
    val self = ProcessHandle.current().pid()
    Option(base.toFile.listFiles()).foreach(_.foreach { f =>
      f.getName match {
        case s if s.startsWith("pid-") =>
          val alive = s.drop(4).toLongOption.exists(p =>
            p == self || ProcessHandle.of(p).isPresent)
          if (!alive) wipe(f)
        case _ => wipe(f) // pre-pid layout residue
      }
    })
    val p = base.resolve(s"pid-$self")
    wipe(p.toFile)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** `events.ts` as epoch MICROS (Long). The driver's parquet stores
    * `timestamp[us]`, which Spark reads as TIMESTAMP_NTZ; with the
    * session zone pinned to UTC (every entry point does) the NTZ →
    * timestamp cast reads the wall-clock as a UTC instant, so this
    * equals DuckDB's `epoch_us(ts)` bit-for-bit. */
  private val TsUsSql = "unix_micros(cast(ts as timestamp))"

  /** Run a script of DDL/DML/ICL/DCL sexp statements through an
    * EngineSession (the listener-equivalent dispatcher), then evaluate a
    * final DRL query against the resulting state — the engine's full
    * request path, with the driver's parquet tables as external sources. */
  /** Statements prefixed with `!` are EXPECTED to fail (the error is part
    * of the pinned scenario — e.g. a commit over a violated deferred
    * constraint); the session state must be left unchanged by them, which
    * the rest of the script then observes. */
  private def script(stmts: Seq[String], finalQuery: String): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val session = new graft.server.EngineSession(spark, Some(new ParquetCatalog(spark, dir)))
      def fail(e: String): Nothing = throw new IllegalArgumentException(e)
      stmts.foreach {
        case s if s.startsWith("!") =>
          val stmt = s.substring(1)
          session.execute(stmt).fold(_ => (),
            r => fail(s"$stmt -> expected failure, but succeeded with $r"))
        case s => session.execute(s).fold(e => fail(s"$s -> $e"), identity)
      }
      session.execute(s"(drl $finalQuery)") match {
        case Right(graft.server.QueryResult(df)) => df
        case Right(other) => fail(s"expected query result, got $other")
        case Left(e) => fail(e.message)
      }
    }

  /** Min-reachable-id closure over the q>45 co-order graph — the ONE
    * oracle string shared by `graph_components` (one-shot) and
    * `streaming_components` (incremental): their equivalence claim is
    * pinned by construction through this single definition. */
  private val ComponentsClosureSql: String =
    """WITH RECURSIVE
      |lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |       WHERE l_quantity > 45),
      |e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
      |sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
      |reach(s, t) AS (
      |  SELECT p, p FROM (SELECT DISTINCT p FROM lp)
      |  UNION
      |  SELECT reach.s, sym.v FROM reach JOIN sym ON reach.t = sym.u)
      |SELECT s AS part, min(t) AS component FROM reach GROUP BY s""".stripMargin

  /** Flagship: revenue by nation (4-table join + aggregation) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    aggRevenueByNation(spark, "/root/testdata/sf0.001")

  private def aggRevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val o  = table(spark, dir, "orders")
    val c  = table(spark, dir, "customer")
    val n  = table(spark, dir, "nation")
    // nation is tiny — broadcast; customer⋈orders⋈lineitem shuffle on keys.
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name"))
      .agg(
        // exact decimal accumulation (order-insensitive), double on output
        sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
            col("l_discount").cast(DecimalType(18, 2))))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Per-language sampling rates for `sample_stratified` (strata not
    * listed keep everything); shared with the oracle SQL. */
  val SampleRates: Seq[(String, Double)] = Seq("en" -> 0.5, "zh" -> 0.25, "fr" -> 0.1)

  /** `sample_mix_budget` geometry: integer source weights (src2's zero
    * exercises outright exclusion), default weight for unlisted sources,
    * and the global token budget — sized so upweighted sources admit
    * everything while default-weight sources genuinely truncate. */
  val MixWeights: Seq[(String, Long)] = Seq("src0" -> 4L, "src1" -> 2L, "src2" -> 0L)
  val MixDefaultWeight = 1L
  val MixBudget = 40000L

  /** `pipeline_curate_lm` quality floor: the sf0.01 corpus median LM
    * score, so the gate keeps roughly half the docs. */
  val LmScoreMin = 0.0345

  /** `graph_common_neighbors` edge-evidence floor: a co-purchase edge
    * needs this many shared orders (support threshold — see the query's
    * comment; 1-incidental-order edges make the graph uniformly dense
    * and the wedge volume quadratic for no signal). */
  val CoPurchaseMinSupport = 2L

  /** `profile_ndv` column list — integer/string columns only (both
    * engines must render identical strings before hashing). */
  val NdvCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_returnflag", "l_linestatus")

  /** One day in epoch micros (the µs-truncated ts the query joins on). */
  val RangeJoinDayUs: Long = 86400L * 1000 * 1000

  /** `layout_compaction` geometry: documents per simulated input file
    * and the target output-file size the planner packs toward (sized so
    * sf0.01's ~6 KB file rows pack several-to-a-bin). */
  val CompactionFileDocs = 20L
  val CompactionTargetBytes = 20000L

  /** `seq_window_funnel` window: 6 hours in epoch micros — sized so the
    * sf0.01 events stream yields a mixed depth histogram (chains that
    * stall at every stage). */
  val FunnelWindowUs: Long = 6L * 3600 * 1000 * 1000

  /** `warehouse_incr_agg` refresh boundary: rows before it are the
    * materialized base state, rows at/after are the delta batch. */
  val IncrAggCutoff = "1997-06-01"

  /** `sketch_kmv_rollup` sketch size — below the events stream's ~150
    * distinct users, so the ESTIMATOR branch is exercised, not the
    * exact under-k path. */
  val KmvRollupK = 64

  /** Fixed-point PageRank geometry (iters / scale / teleport mass per
    * round = 15% of scale), shared with the oracle's unrolled recurrence. */
  val PageRankIters: Int = 3
  val PageRankScale: Long = 1000000000L
  val PageRankBase: Long = PageRankScale * 15 / 100

  /** Levenshtein bound for `er_fuzzy_pairs`, and the block-size cap
    * (blocks with more distinct names than this are dropped whole —
    * mirrored by the oracle's `keep` CTE so the contracts agree at any
    * data shape, not just where the cap never fires). */
  val FuzzyMaxDist: Int = 3
  val FuzzyMaxBlock: Long = 10000L

  /** `join_full_outer` gates: big-spender spend floor, active-user
    * event-count floor — chosen so both orphan sides are non-empty. */
  val SpendBar: Double = 3000000.0
  val ActiveBar: Long = 70L

  /** `interval_overlap_orders` bin width (days): ≥ the longest order
    * window (50 days), so every interval covers ≤ 2 bins. */
  val OrderWindowBinDays: Long = 64L

  /** Minimum co-occurrence count for `basket_frequent_pairs`. */
  val MinSupport: Long = 3L

  /** Query terms for `search_topk` (high-df corpus tokens). */
  val SearchTerms: Seq[String] = Seq("hash", "join", "vector")
  /** Consecutive-token phrase for the positional-index search row
    * (chosen to occur at every shipped sf: 9/3/10 hits at
    * sf0.001/0.01/0.1). */
  val PhraseTerms: Seq[String] = Seq("big", "order", "scan")

  /** Bernoulli rate for `sketch_quantile_sample`. */
  val QuantileSampleRate: Double = 0.05

  /** Hop bound for `graph_bfs` (and its oracle's recursion depth). */
  val BfsMaxDepth: Int = 3

  /** Quality-score gate for `pipeline_curate` (keeps ~half the testdata
    * corpus); shared with the oracle SQL. */
  val CurateMinScore: Double = 0.4

  /** Content-key prefix length for `dedup_incremental` (long enough to
    * be a content identity on real crawls, short enough that the
    * template-generated testdata actually collides on it). */
  val IncrementalPrefixLen: Int = 60

  /** The `rag_retrieve` composition — shared verbatim with PlanAudit
    * so the audited plan is the shipped plan. */
  def ragRetrieve(embeddings: DataFrame, docs: DataFrame): DataFrame =
    graft.pipeline.Ann.cosineTopK(embeddings)
      .join(docs.select(col("doc_id").as("vec_id"), col("lang"),
        md5(col("text")).as("text_md5"), col("n_chars")), "vec_id")

  /** The `dedup_incremental` corpus/batch split (every 5th doc arrives
    * as the new batch) over the prefix content key — shared with
    * PlanAudit. */
  def incrementalNewDocs(docs: DataFrame): DataFrame = {
    val d = docs.withColumn("k", substring(col("text"), 1, IncrementalPrefixLen))
    graft.pipeline.Dedup.incrementalNew(
      d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0), "doc_id", "k")
  }

  /** Session gap for `agg_sessionize`: 30 minutes in epoch MICROS.
    * The query sessionizes on µs-truncated event time: DuckDB timestamps
    * are µs-resolution, so feeding both engines identical µs values is
    * the only way boundaries and durations agree bit-for-bit (testdata
    * carries sub-µs nano components at some SFs). */
  val SessionGapUs: Long = 30L * 60 * 1000 * 1000

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- DRL core: one per AST node (reference lib/drl/ast.ml:16-28) ----
    "drl_base_scan" -> drl("(Base region)"),
    "drl_const" -> drl("(Const ((k (Int 1)) (label (Str graft))))"),
    "drl_project" -> drl("(Project (n_name n_regionkey) (Base nation))"),
    "drl_rename" -> drl("(Rename ((n_name nation_name)) (Project (n_name) (Base nation)))"),
    "drl_select_const" -> drl("(Select (Const ((n_regionkey (Int 2)))) (Base nation))"),
    "drl_select_semijoin" -> drl(
      """(Select (Rename ((c_custkey o_custkey))
        |          (Project (c_custkey)
        |            (Select (Const ((c_mktsegment (Str BUILDING)))) (Base customer))))
        |  (Base orders))""".stripMargin),
    "drl_join" -> drl("(Join (c_custkey) (Base customer) (Rename ((o_custkey c_custkey)) (Base orders)))"),
    "drl_join3" -> drl(
      """(Project (l_orderkey l_linenumber l_quantity o_totalprice c_name)
        |  (Join (o_custkey)
        |    (Join (l_orderkey) (Base lineitem) (Rename ((o_orderkey l_orderkey)) (Base orders)))
        |    (Rename ((c_custkey o_custkey)) (Base customer))))""".stripMargin),
    "drl_cartesian" -> drl("(Cartesian (Base region) (Base nation))"),
    "drl_union" -> drl(
      """(Union (Project (n_regionkey) (Base nation))
        |  (Rename ((r_regionkey n_regionkey)) (Project (r_regionkey) (Base region))))""".stripMargin),
    "drl_diff" -> drl("(Diff (Project (l_returnflag) (Base lineitem)) (Const ((l_returnflag (Str A)))))"),
    "drl_take" -> drl("(Take 5 (Base region))"),
    "drl_virtual_lt" -> drl(
      """(Select (Base natural_natural_less_than)
        |  (Rename ((o_custkey left) (o_orderkey right))
        |    (Project (o_custkey o_orderkey) (Base orders))))""".stripMargin),
    "drl_virtual_plus" -> drl(
      """(Select (Base natural_plus)
        |  (Rename ((l_orderkey a) (l_linenumber b) (l_suppkey sum))
        |    (Project (l_orderkey l_linenumber l_suppkey) (Base lineitem))))""".stripMargin),
    // extension nodes (SURVEY.md §7.2 step 7): sort/top-k, aggregation,
    // theta join — the reference's declared-but-unbuilt Lineage surface
    "drl_sort_topk" -> drl(
      "(Take 10 (Sort ((o_totalprice Desc) (o_orderkey Asc)) (Project (o_orderkey o_totalprice) (Base orders))))"),
    // integer-typed aggregates only: a double sum is partial-order
    // dependent and cannot hash-match a sequential oracle
    "drl_aggregate" -> drl(
      """(Aggregate (group (l_returnflag l_linestatus))
        |  (aggs ((count n_rows) (sum l_linenumber sum_ln) (min l_orderkey min_ok) (max l_orderkey max_ok)))
        |  (Base lineitem))""".stripMargin),
    "drl_theta_join" -> drl(
      """(ThetaJoin ((lt s_suppkey n_nationkey) (neq s_nationkey n_regionkey))
        |  (Project (s_suppkey s_nationkey) (Base supplier))
        |  (Project (n_nationkey n_regionkey) (Base nation)))""".stripMargin),
    // the third extension shape (§7.2 step 7): per-partition window
    // numbering through the sexp surface — (acctbal Desc, custkey Asc)
    // is a total order, so the rank column itself hash-checks
    "drl_window" -> drl(
      """(Window (partition (c_nationkey)) (order ((c_acctbal Desc) (c_custkey Asc)))
        |  (fn (row_number)) (as rn)
        |  (Project (c_custkey c_nationkey c_acctbal) (Base customer)))""".stripMargin),
    // previous-row delta shape: Lag moves a VALUE (no arithmetic), so
    // doubles stay bit-identical cross-engine
    "drl_window_lag" -> drl(
      """(Window (partition (n_regionkey)) (order ((n_nationkey Asc)))
        |  (fn (lag n_name)) (as prev_name) (Base nation))""".stripMargin),
    // cumulative shape: integer running sum along the unique in-order
    // line number — exact on any engine
    "drl_window_runsum" -> drl(
      """(Window (partition (l_orderkey)) (order ((l_linenumber Asc)))
        |  (fn (running_sum l_linenumber)) (as rs)
        |  (Project (l_orderkey l_linenumber) (Base lineitem)))""".stripMargin),

    // ---- DML/DDL: full mutation pipeline over the engine ----
    "dml_pipeline" -> script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name region_copy) (schema ((r_regionkey integer) (r_name string))))",
      "(InsertFrom (target region_copy) (source (Base region)))",
      "(InsertTuple (relation region_copy) (attributes ((r_regionkey (Int 99)) (r_name (Str LAPUTA)))))",
      "(DeleteWhere (target region_copy) (predicate (Const ((r_regionkey (Int 0))))))",
    ), "(Base region_copy)"),
    "dml_assign" -> script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name big_orders) (schema ((o_orderkey integer) (o_totalprice rational))))",
      "(InsertFrom (target big_orders) (source (Project (o_orderkey o_totalprice) (Select (Const ((o_orderstatus (Str P)))) (Base orders)))))",
      "(Assign (target big_orders) (body (Project (o_orderkey o_totalprice) (Select (Const ((o_orderstatus (Str F)))) (Base orders)))))",
    ), "(Base big_orders)"),
    // Rational fidelity: attribute values of the rational domain are
    // floats — the reference compares them as float (lib/prelude/
    // domains.ml:101-102) and hashes/renders the float value
    // (lib/conventions.ml:27-41); the num/den pair schema exists only in
    // the domain's GENERATOR, which system.ml:58-67 never registers as a
    // queryable relation. This row pins the observable surface: the
    // engine's content hash over engine-stored rational tuples is
    // re-derived by the oracle from the documented canonical encoding.
    "dml_rational_hash" -> ((s, dir) => {
      val session = new graft.server.EngineSession(s, Some(new ParquetCatalog(s, dir)))
      Seq(
        "(CreateDatabase g)",
        "(CreateRelation (name priced) (schema ((item integer) (price rational))))",
        "(InsertTuple (relation priced) (attributes ((item (Int 1)) (price (Float 10.5)))))",
        "(InsertTuple (relation priced) (attributes ((item (Int 2)) (price (Float -2.75)))))",
        "(InsertTuple (relation priced) (attributes ((item (Int 3)) (price (Float 4.0)))))",
        "(InsertTuple (relation priced) (attributes ((item (Int 4)) (price (Float 0.25)))))",
      ).foreach(t => session.execute(t).fold(
        e => throw new IllegalArgumentException(s"$t -> $e"), identity))
      val rel = session.db.relations("priced")
      rel.df.withColumn("content_hash", rel.rowHash)
    }),
    "ddl_catalog" -> script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name region_copy) (schema ((r_regionkey integer) (r_name string))))",
      "(CreateRelation (name scratch) (schema ((x integer))))",
      "(RetractRelation scratch)",
    ), "(Base sakura:relation)"),
    "ddl_attributes" -> script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name pair) (schema ((k integer) (v string))))",
    ), "(Select (Const ((relation_name (Str pair)))) (Base sakura:attribute))"),
    // RegisterDomain catalog maintenance: prelude domains + the new one
    "ddl_domains" -> script(Seq(
      "(CreateDatabase g)",
      "(RegisterDomain (name money) (cardinality AlephZero) (base integer))",
    ), "(Base sakura:domain)"),

    // ---- ICL: constraint registration + per-row enforcement ----
    "icl_fk_pipeline" -> script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name Department) (schema ((dept_id integer))))",
      "(InsertFrom (target Department) (source (Rename ((r_regionkey dept_id)) (Project (r_regionkey) (Base region)))))",
      "(CreateRelation (name Employee) (schema ((emp_id integer) (dept_id integer))))",
      "(RegisterConstraint (constraint_name fk_dept) (relation_name Employee) (body (MemberOf (target Department) (binding ((dept_id (Var dept_id)))))))",
      "(InsertFrom (target Employee) (source (Project (emp_id dept_id) (Rename ((n_nationkey emp_id) (n_regionkey dept_id)) (Base nation)))))",
    ), "(Base Employee)"),
    // Bulk FK ingest past Engine.LocalThreshold: the constrained relation
    // takes the SET-WISE path (compiled anti-join FK validation + compiled
    // Exists quantifier over the batch — graft.icl.Compile), promoting to
    // a Dist extension. region × nation × customer ≈ 187k rows at sf0.01.
    "icl_fk_bulk" -> script(Seq(
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
    // Exists/Forall/Or + quantifier namespacing end-to-end (reference
    // weak-entity / implication scenarios, test_relational_engine.ml:
    // 2110-2587): inserts only succeed if the quantified constraints hold.
    "icl_quantifier_pipeline" -> script(Seq(
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
    // Mutual exclusion via closed-world Not (reference subtype scenarios,
    // test_relational_engine.ml:2110-2587): WestDept keys must NOT be
    // EastDept members. The WestDept source also exercises the
    // virtual-comparison filter over a Cartesian-with-Const bound.
    "icl_exclusion_pipeline" -> script(Seq(
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
    // 3-wise nested quantification (reference docs/n-way-binding.org:
    // the hotel Suite→Room→Building chain): a suite is valid only if its
    // room's building has more than 3 floors — inherently ∃r∈Room ∃b∈
    // Building with the chain tied through both quantifier variables.
    // Exercises nested Exists, And over virtual memberships, namespaced
    // variables, FK composition, and the doc's 3-way join as the result.
    "icl_nway_pipeline" -> script(Seq(
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
    // And-bodied constraint through the full engine path: bulk insert
    // into a relation whose constraint is a conjunction of two virtual
    // comparisons — the compiled form is the union of per-conjunct
    // violation sets (graft.icl.Compile And case).
    "icl_conjunction_pipeline" -> script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name grades) (schema ((sid integer) (score integer))))",
      "(RegisterConstraint (constraint_name bounded) (relation_name grades) " +
        "(body (And (" +
        "(MemberOf (target natural_natural_less_than_or_equal) (binding ((left (Var score)) (right (Const (Int 100)))))) " +
        "(MemberOf (target natural_natural_less_than) (binding ((left (Var sid)) (right (Const (Int 500))))))))))",
      "(InsertFrom (target grades) (source (Project (sid score) " +
        "(Rename ((n_nationkey sid) (n_regionkey score)) (Base nation)))))",
    ), "(Base grades)"),
    "icl_constraint_catalog" -> script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name scores) (schema ((student_id integer) (score integer))))",
      "(RegisterConstraint (constraint_name score_range) (relation_name scores) (body (MemberOf (target natural_natural_less_than_or_equal) (binding ((left (Var score)) (right (Const (Int 100))))))))",
      "(RegisterConstraint (constraint_name student_known) (relation_name scores) (body (MemberOf (target natural_natural_less_than) (binding ((left (Var student_id)) (right (Const (Int 1000))))))) (timing Deferred))",
      "(InsertTuple (relation scores) (attributes ((student_id (Int 7)) (score (Int 85)))))",
      "(Commit)",
    ), "(Base sakura:constraint)"),
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
    "icl_deferred_commit" -> script(Seq(
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

    // ---- DCL: branch / checkout / merge ----
    "dcl_branch_merge" -> script(Seq(
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
    // branch DIFF surfaced directly (reference lib/management/merge.ml's
    // Diff feeds merge; here the diff itself is the user artifact — code
    // review for data): feature inserts one row and deletes one, and the
    // diff against the unchanged main tip must report EXACTLY those two
    // rows, tagged. Hash-keyed row identity, so a same-schema edit is
    // row adds/removes, never a wholesale relation change
    "dcl_diff" -> ((s, dir) => {
      val session = new graft.server.EngineSession(s, Some(new ParquetCatalog(s, dir)))
      def run(st: String): Unit =
        session.execute(st).fold(e => throw new IllegalArgumentException(s"$st -> $e"), _ => ())
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
      ).foreach(run)
      val featureDb = session.db
      run("(Checkout main)")
      val mainDb = session.db
      val m = graft.dcl.Diff.diff(mainDb, featureDb)
        .collectFirst { case d: graft.dcl.Diff.RelationModified if d.name == "scores" => d }
        .getOrElse(throw new IllegalStateException("scores did not diff as modified"))
      require(!m.schemaChanged, "same-schema edit must not diff as a schema change")
      m.added.df.withColumn("change", lit("added"))
        .unionAll(m.removed.df.withColumn("change", lit("removed")))
    }),
    "dcl_merge_right" -> script(Seq(
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
    // Same conflict, RevertToAncestor: neither branch wins — the merged
    // relation is the LCA's extension (the original region rows).
    "dcl_merge_revert" -> script(Seq(
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
    // Conflict REPORTING through the wire: the same both-schema-changed
    // scenario, but the row surfaces the merge RESPONSE's conflict
    // report (relation, kind, count) instead of the winning extension —
    // a strategy-resolved merge must tell the client what it resolved.
    // Schema conflicts are the only kind a merge reports: the
    // reference's tuple conflict cannot arise from diffs against one LCA
    // (see graft.dcl.Merge.Conflicts).
    "dcl_merge_conflicts" -> ((s, dir) => {
      val session = new graft.server.EngineSession(s, Some(new ParquetCatalog(s, dir)))
      def run(st: String): String =
        session.execute(st).fold(
          e => throw new IllegalArgumentException(s"$st -> $e"),
          {
            case graft.server.Transition(m) => m
            case other => throw new IllegalArgumentException(s"unexpected: $other")
          })
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
      ).foreach(run)
      val msg = run("(Merge (left main) (right feature) (strategy PreferRight))")
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

    // Branch registry as queryable catalog relations (sakura:branch /
    // sakura:head, reference lib/management/branch.ml:74-132); names
    // only — tips are state hashes, deterministic but hash-shaped
    "dcl_branch_catalog" -> script(Seq(
      "(CreateDatabase g)",
      "(CreateBranch (name main))",
      "(Checkout main)",
      "(CreateBranch (name feature))",
    ), "(Union (Project (name) (Base sakura:branch)) (Rename ((branch name)) (Base sakura:head)))"),

    // UpdateBranchTip through the wire: rewind main past the SECOND
    // insert to the PINNED post-first-insert tip (content addressing is
    // deterministic, so the hash literal is stable across scale factors
    // and re-runs — this row double-pins the hash chain itself: any
    // change to the engine's canonical encoding breaks it loudly),
    // then checkout must surface exactly the rolled-back state
    "dcl_branch_retip" -> script(Seq(
      "(CreateDatabase g)",
      "(ddl (CreateRelation (name t) (schema ((k integer)))))",
      "(CreateBranch (name main))",
      "(Checkout main)",
      "(InsertTuple (relation t) (attributes ((k (Int 1)))))",
      "(InsertTuple (relation t) (attributes ((k (Int 2)))))",
      "(UpdateBranchTip (name main) (hash fb1e669c55fc9da88b1a9b40ff012c6fe8a96b5be486bb4216f50a89fffef758))",
      "(Checkout main)",
    ), "(Base t)"),

    // ---- SCL: cursor streaming over a DRL query ----
    "scl_cursor_stream" -> ((s, dir) => {
      val session = new graft.server.EngineSession(s, Some(new ParquetCatalog(s, dir)))
      def batchOf(r: Either[graft.Err, graft.server.Response]): graft.scl.Batch = r match {
        case Right(graft.server.CursorBatch(b)) => b
        case other => throw new IllegalArgumentException(s"unexpected: $other")
      }
      var batch = batchOf(session.execute("(scl (Begin (query (Base nation)) (limit 7)))"))
      var rows = batch.rows
      while (batch.hasMore) {
        batch = batchOf(session.execute(s"(scl (Fetch (cursor ${batch.cursorId}) (limit 7)))"))
        rows = rows ++ batch.rows
      }
      s.createDataFrame(java.util.Arrays.asList(rows: _*), table(s, dir, "nation").schema)
    }),
    // the FULL wire path as an oracle row: a real TCP listener on an
    // ephemeral loopback port, a real socket client, the SCL cursor
    // protocol paging the whole relation across round-trips, tagged-sexp
    // responses decoded back to typed rows (WireClient = the inverse of
    // the listener's renderer). Covers framing, dispatch, cursor
    // registry, response rendering, and value tagging end-to-end —
    // reference lib/listener.ml:95-187
    "tcp_roundtrip" -> ((s, dir) => {
      val listener = new graft.server.Listener(
        s, Some(new ParquetCatalog(s, dir))).start()
      try {
        val conn = new graft.server.WireClient.Conn(listener.localPort)
        try {
          val rows = graft.server.WireClient.streamQuery(conn, "(Base nation)", pageSize = 7)
            .map(cells => org.apache.spark.sql.Row(cells: _*))
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("n_nationkey",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_name",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_regionkey",
              org.apache.spark.sql.types.LongType)))
          s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        } finally conn.close()
      } finally listener.close()
    }),
    // the SAME round-trip over the reference's OTHER sockaddr family
    // (lib/transport.ml:27-28): an AF_UNIX listener + client — framing,
    // dispatch, rendering, and value tagging must be transport-invariant
    "tcp_unix_roundtrip" -> ((s, dir) => {
      val path = s"/tmp/graft-${ProcessHandle.current().pid()}-oracle.sock"
      val listener = new graft.server.Listener(
        s, Some(new ParquetCatalog(s, dir)), unixPath = Some(path)).start()
      try {
        val conn = new graft.server.WireClient.Conn(path)
        try {
          val rows = graft.server.WireClient.streamQuery(conn, "(Base nation)", pageSize = 7)
            .map(cells => org.apache.spark.sql.Row(cells: _*))
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("n_nationkey",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_name",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_regionkey",
              org.apache.spark.sql.types.LongType)))
          s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        } finally conn.close()
      } finally listener.close()
    }),
    // cursor snapshot pinning under concurrent mutation (reference
    // lib/session.ml:11): rows fetched AFTER an insert+delete on the
    // underlying relation still reflect the state the cursor was begun
    // on — the oracle is the PRE-mutation contents, so any leak of the
    // new row (777) or loss of the deleted row (0) hash-fails
    "scl_cursor_snapshot" -> ((s, dir) => {
      val session = new graft.server.EngineSession(s, Some(new ParquetCatalog(s, dir)))
      def run(stmt: String): Unit = session.execute(stmt)
        .fold(e => throw new IllegalArgumentException(s"$stmt -> $e"), _ => ())
      def batchOf(r: Either[graft.Err, graft.server.Response]): graft.scl.Batch = r match {
        case Right(graft.server.CursorBatch(b)) => b
        case other => throw new IllegalArgumentException(s"unexpected: $other")
      }
      run("(CreateDatabase g)")
      run("(CreateRelation (name snap) (schema ((r_regionkey integer) (r_name string))))")
      run("(InsertFrom (target snap) (source (Project (r_regionkey r_name) (Base region))))")
      var batch = batchOf(session.execute("(scl (Begin (query (Base snap)) (limit 2)))"))
      var rows = batch.rows
      // mutate after the cursor pinned its snapshot
      run("(InsertTuple (relation snap) (attributes ((r_regionkey (Int 777)) (r_name (Str FUTURE)))))")
      run("(DeleteWhere (target snap) (predicate (Const ((r_regionkey (Int 0))))))")
      while (batch.hasMore) {
        batch = batchOf(session.execute(s"(scl (Fetch (cursor ${batch.cursorId}) (limit 2)))"))
        rows = rows ++ batch.rows
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("r_regionkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("r_name",
          org.apache.spark.sql.types.StringType)))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }),
    // Cursor pinning across a BRANCH CHECKOUT (reference lib/session.ml:11
    // pins db_snapshot — the database VALUE, not the branch): a cursor
    // opened on main keeps streaming main's pinned state even after the
    // session checks out a branch whose relation was gutted and repointed.
    "scl_cursor_branch" -> ((s, dir) => {
      val session = new graft.server.EngineSession(s, Some(new ParquetCatalog(s, dir)))
      def run(stmt: String): Unit = session.execute(stmt)
        .fold(e => throw new IllegalArgumentException(s"$stmt -> $e"), _ => ())
      def batchOf(r: Either[graft.Err, graft.server.Response]): graft.scl.Batch = r match {
        case Right(graft.server.CursorBatch(b)) => b
        case other => throw new IllegalArgumentException(s"unexpected: $other")
      }
      run("(CreateDatabase g)")
      run("(CreateRelation (name snap) (schema ((r_regionkey integer) (r_name string))))")
      run("(InsertFrom (target snap) (source (Project (r_regionkey r_name) (Base region))))")
      run("(CreateBranch (name main))")
      run("(Checkout main)")
      run("(CreateBranch (name feature))")
      var batch = batchOf(session.execute("(scl (Begin (query (Base snap)) (limit 2)))"))
      var rows = batch.rows
      // switch branches and divergently rewrite snap AFTER Begin: the
      // pinned snapshot must keep streaming main's original rows
      run("(Checkout feature)")
      run("(DeleteWhere (target snap) (predicate (Base snap)))")
      run("(InsertTuple (relation snap) (attributes ((r_regionkey (Int 500)) (r_name (Str ELSEWHERE)))))")
      while (batch.hasMore) {
        batch = batchOf(session.execute(s"(scl (Fetch (cursor ${batch.cursorId}) (limit 2)))"))
        rows = rows ++ batch.rows
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("r_regionkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("r_name",
          org.apache.spark.sql.types.StringType)))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }),
    // Durable storage end-to-end (reference `(storage (disk ...))`,
    // lib/storable.ml:25-36 + bin/server.ml:3-12 boot-from-config):
    // session 1 write-throughs every transition to a disk root; every
    // in-memory handle is then DISCARDED and a brand-new EngineSession
    // restores from that root alone — and keeps MUTATING, which proves
    // the restored state is a full working engine (content addressing,
    // constraint enforcement, catalog) rather than merely readable
    // bytes: the restored constraint must still REJECT a violating
    // insert, and ordinary mutations must land on the restored rows.
    "persist_restart" -> ((s, dir) => {
      val root = scratch(dir, "persist")
      val cat = new ParquetCatalog(s, dir)
      def run(session: graft.server.EngineSession, stmt: String): Unit =
        if (stmt.startsWith("!"))
          session.execute(stmt.substring(1)).fold(_ => (),
            r => throw new IllegalArgumentException(s"$stmt -> expected failure, got $r"))
        else session.execute(stmt)
          .fold(e => throw new IllegalArgumentException(s"$stmt -> $e"), _ => ())
      val s1 = new graft.server.EngineSession(s, Some(cat), Some(root))
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
      val s2 = new graft.server.EngineSession(s, Some(cat), Some(root))
      Seq(
        // the restored engine still enforces the persisted constraint...
        "!(InsertTuple (relation kv) (attributes ((k (Int 5000)) (v (Str TOO_BIG)))))",
        // ...and keeps taking ordinary mutations on the restored rows
        "(DeleteWhere (target kv) (predicate (Const ((k (Int 0))))))",
        "(InsertTuple (relation kv) (attributes ((k (Int 700)) (v (Str AFTER_RESTART)))))",
      ).foreach(run(s2, _))
      s2.execute("(drl (Base kv))") match {
        case Right(graft.server.QueryResult(df)) => df
        case other => throw new IllegalArgumentException(s"unexpected: $other")
      }
    }),
    // Storage maintenance end-to-end: a write-through session builds
    // mutation history (every transition = a snapshot + new relation
    // versions on disk), then an OFFLINE prune retires all history but
    // the live tips and gc deletes the orphaned objects (grace 0 on the
    // quiesced store) — and a fresh session must still restore and
    // mutate. Pins the collector's one inviolable contract: gc can eat
    // only what no manifest references, never live state. The prune must
    // actually DELETE something (asserted), so the surviving restore is
    // load-bearing evidence, not a no-op pass.
    "persist_gc" -> ((s, dir) => {
      val root = scratch(dir, "gc")
      val cat = new ParquetCatalog(s, dir)
      def run(session: graft.server.EngineSession, stmt: String): Unit =
        session.execute(stmt)
          .fold(e => throw new IllegalArgumentException(s"$stmt -> $e"), _ => ())
      val s1 = new graft.server.EngineSession(s, Some(cat), Some(root))
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
      val s2 = new graft.server.EngineSession(s, Some(cat), Some(root))
      run(s2, "(InsertTuple (relation kv) (attributes ((k (Int 300)) (v (Str AFTER_GC)))))")
      s2.execute("(drl (Base kv))") match {
        case Right(graft.server.QueryResult(df)) => df
        case other => throw new IllegalArgumentException(s"unexpected: $other")
      }
    }),
    // Whole-process shared head over the wire (the reference holds ONE
    // process-global Atomic head across all connections and CASes it per
    // mutation, lib/listener.ml:53-59,174-181): two SEPARATE sockets
    // mutate and observe the SAME database — B's first statement lands on
    // A's state (per-connection state would fail it with NoDatabase), A
    // then reads back B's writes. Interleaved commits surface as Conflict
    // to the connection that lost the CAS (tcp_conflict pins that path);
    // this row's client retries, exercising the convergent retry loop.
    "tcp_shared_head" -> ((s, dir) => {
      val listener = new graft.server.Listener(
        s, Some(new ParquetCatalog(s, dir))).start()
      try {
        val a = new graft.server.WireClient.Conn(listener.localPort)
        val b = new graft.server.WireClient.Conn(listener.localPort)
        try {
          // the reference client's retry loop: a mutation raced past by
          // the other connection answers Conflict and is re-sent against
          // the head that beat it (A's last insert here — B committed
          // twice since A's previous request). Retrying is CONVERGENT:
          // the conflicted attempt applied nothing.
          def ok(conn: graft.server.WireClient.Conn, stmt: String): Unit = {
            var resp = conn.request(stmt)
            var attempts = 1
            // structural anchor (see tcp_concurrent_inserts): a CAS loss
            // is a top-level `(error (conflict ...))`, never wrapped
            while (resp.startsWith("(error (conflict") && attempts < 5) {
              resp = conn.request(stmt); attempts += 1
            }
            if (!resp.startsWith("(ok"))
              throw new IllegalArgumentException(s"$stmt -> $resp")
          }
          ok(a, "(CreateDatabase g)")
          ok(a, "(CreateRelation (name kv) (schema ((k integer) (v string))))")
          ok(a, "(InsertFrom (target kv) (source (Rename ((r_regionkey k) (r_name v)) (Base region))))")
          ok(b, "(InsertTuple (relation kv) (attributes ((k (Int 600)) (v (Str FROM_B)))))")
          ok(b, "(DeleteWhere (target kv) (predicate (Const ((k (Int 2))))))")
          ok(a, "(InsertTuple (relation kv) (attributes ((k (Int 700)) (v (Str FROM_A)))))")
          val rows = graft.server.WireClient.streamQuery(a, "(Base kv)", pageSize = 3)
            .map(cells => org.apache.spark.sql.Row(cells: _*))
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.StringType)))
          s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        } finally { a.close(); b.close() }
      } finally listener.close()
    }),
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
    "tcp_conflict" -> ((s, dir) => {
      val listener = new graft.server.Listener(
        s, Some(new ParquetCatalog(s, dir))).start()
      try {
        val a = new graft.server.WireClient.Conn(listener.localPort)
        val b = new graft.server.WireClient.Conn(listener.localPort)
        try {
          def ok(conn: graft.server.WireClient.Conn, stmt: String): Unit = {
            val resp = conn.request(stmt)
            if (!resp.startsWith("(ok"))
              throw new IllegalArgumentException(s"$stmt -> $resp")
          }
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
          val rows = graft.server.WireClient.streamQuery(b, "(Base kv)", pageSize = 4)
            .map(cells => org.apache.spark.sql.Row(cells: _*))
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.StringType)))
          s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        } finally { a.close(); b.close() }
      } finally listener.close()
    }),
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
    "tcp_concurrent_inserts" -> ((s, dir) => {
      val listener = new graft.server.Listener(
        s, Some(new ParquetCatalog(s, dir))).start()
      try {
        def ok(conn: graft.server.WireClient.Conn, stmt: String): Unit = {
          var resp = conn.request(stmt)
          var attempts = 1
          // bound: an attempt only re-fails if ANOTHER commit landed
          // since its snapshot (handleAdvancing reads the winning head
          // under the lock), and the scenario has < 200 commits total.
          // The classifier anchors on the structural `(error (conflict`
          // prefix — a CAS loss is never sublanguage-wrapped — so a
          // non-CAS error whose payload merely embeds "(conflict" fails
          // the row instead of being silently retried 200 times
          while (resp.startsWith("(error (conflict") && attempts < 200) {
            resp = conn.request(stmt); attempts += 1
          }
          if (!resp.startsWith("(ok"))
            throw new IllegalArgumentException(s"$stmt -> $resp")
        }
        val boot = new graft.server.WireClient.Conn(listener.localPort)
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
                val c = new graft.server.WireClient.Conn(listener.localPort)
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
          val reader = new graft.server.WireClient.Conn(listener.localPort)
          val rows = try graft.server.WireClient.streamQuery(reader, "(Base kv)", pageSize = 32)
            .map(cells => org.apache.spark.sql.Row(cells: _*))
          finally reader.close()
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.StringType)))
          s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        } finally boot.close()
      } finally listener.close()
    }),

    // ---- Beyond-reference analytics (SURVEY.md §7.2 step 7) ----
    "agg_pricing_summary" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base"),
          count(lit(1)).as("count_order"))
    }),
    "agg_revenue_by_nation" -> ((s, dir) => aggRevenueByNation(s, dir)),
    "agg_top_orders" -> ((s, dir) => {
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),
    // TPC-H Q16-like: distinct suppliers per (brand, type) — the
    // count-distinct aggregation pattern (expand → two-level agg)
    "agg_supplier_variety" -> ((s, dir) => {
      val ps = table(s, dir, "part")
      table(s, dir, "lineitem")
        .join(ps, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"),
          count(lit(1)).as("n_lineitems"))
    }),
    // TPC-H Q3 (shipping priority): revenue of not-yet-shipped order
    // segments — both fact-side filters sit ON THE SCANS (pushed-down
    // date predicates prune row groups before any join), the dimension
    // filter semi-reduces orders via the key join, and the top-10 is a
    // TakeOrdered (never a global sort). Ties on revenue break on the
    // order key so the row SET is deterministic.
    "agg_q3_shipping" -> ((s, dir) => {
      val cut = lit("1998-06-30").cast("timestamp")
      val c = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = table(s, dir, "orders").filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val l = table(s, dir, "lineitem").filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
            col("l_discount").cast(DecimalType(18, 2)))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    // TPC-H Q5 (local supplier volume): the 6-way star with the extra
    // c_nationkey = s_nationkey co-membership condition — supplier and
    // customer must sit in the SAME nation, which rides the supplier
    // join as a second equality (one hash join, no post-filter product).
    // region/nation broadcast; the fact chain shuffles on its keys.
    "agg_q5_local_supplier" -> ((s, dir) => {
      val l = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val c = table(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val sup = table(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n = table(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val r = table(s, dir, "region").filter(col("r_name") === "ASIA").select(col("r_regionkey"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
            col("l_discount").cast(DecimalType(18, 2)))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    // TPC-H Q10 (returned-item customers): one quarter of orders joined
    // to only the RETURNED lineitems (both filters on the scans), rolled
    // up per customer, top-20 by lost revenue (TakeOrdered; key-ordered
    // tie-break keeps the set deterministic).
    "agg_q10_returns" -> ((s, dir) => {
      val l = table(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      val n = table(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
            col("l_discount").cast(DecimalType(18, 2)))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),
    // 2-D Pareto front of parts (minimize price, maximize size) — the
    // distributed sort-sweep skyline: one hash collapse to distinct
    // costs, a two-phase prefix-max (never a single-task global
    // window), and a keyed join back. See operators/Skyline.
    "agg_pareto_front" -> ((s, dir) =>
      graft.operators.Skyline.front2d(
        table(s, dir, "part")
          .select(col("p_partkey"), col("p_retailprice"), col("p_size")),
        "p_retailprice", "p_size")),
    // TPC-H Q7-like: shipping volume between nation pairs by order
    // year — a two-dimension join-aggregate with integer-exact volume
    // (quantity sum) so the oracle hash cannot drift
    "agg_nation_traffic" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val su = table(s, dir, "supplier")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .groupBy(col("s_nationkey").as("supp_nation"),
          col("c_nationkey").as("cust_nation"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("volume"),
          count(lit(1)).as("n_items"))
        .select(col("supp_nation"), col("cust_nation"), col("volume"), col("n_items"))
    }),
    // ROLLUP over (returnflag, linestatus): hierarchical subtotals in ONE
    // pass — Spark expands the grouping sets map-side, so the grand total
    // never costs a second scan; 'ALL' stands in for the rollup NULLs
    // (both columns are non-null in the data, so the encoding is lossless)
    "agg_rollup" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_items"))
    }),
    // per-customer running order total: the cumulative-window pattern.
    // One hash exchange on o_custkey, then each customer's history sums
    // in-partition; DECIMAL accumulation + a unique (date, key) sort
    // order make the running values exact and the hash reproducible
    "agg_running_total" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val order = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("run_total"),
          row_number().over(order).as("rn"))
    }),
    // LEFT ANTI at the analytics layer: customers with no urgent orders,
    // counted per nation. The anti side ships only o_custkey (filter and
    // projection both push to the scan); at 1000× the anti join shuffles
    // on the key like any equi-join — no NOT IN rewrite blow-up
    "agg_no_urgent_customers" -> ((s, dir) => {
      val urgent = table(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      table(s, dir, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_customers"))
    }),
    // pivot: order counts per year × priority — Spark's pivot compiles to
    // ONE aggregate with conditional sums (no per-priority passes); the
    // explicit value list keeps the plan static and the columns named
    "agg_priority_pivot" -> ((s, dir) => {
      table(s, dir, "orders")
        .select(year(col("o_orderdate")).as("yr"), col("o_orderpriority"))
        .groupBy(col("yr"))
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("yr"), col("`1-URGENT`").as("urgent"), col("`2-HIGH`").as("high"),
          col("`3-MEDIUM`").as("medium"), col("`4-NOT SPECIFIED`").as("notspec"),
          col("`5-LOW`").as("low"))
    }),
    // quartiles of the integral quantity column: percentile interpolation
    // lands on exact binary fractions (.25/.5/.75 of integer gaps), so the
    // doubles match DuckDB's quantile_cont bit-for-bit
    "agg_quartiles" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.25)").as("q1"),
          expr("percentile(l_quantity, 0.5)").as("med"),
          expr("percentile(l_quantity, 0.75)").as("q3"),
          count(lit(1)).as("n"))
    }),
    // decile revenue profile via the SCALABLE global rank: range exchange
    // + per-partition sorts + driver prefix sum over partition counts —
    // never Spark's single-task no-partition window (see GlobalRank)
    "agg_decile_profile" -> ((s, dir) => {
      val d = graft.operators.GlobalRank.withNtile(
        table(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        Seq("o_totalprice", "o_orderkey"), buckets = 10, out = "decile")
      d.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("volume"))
    }),
    // TPC-H Q17-like decorrelated aggregate join: lineitems whose quantity
    // is below 20% of their part's average. The correlated subquery
    // becomes ONE per-part aggregate joined back; the threshold compare is
    // division-free integer-exact DECIMAL arithmetic (5·qty·cnt < Σqty)
    "agg_small_quantity_revenue" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq"))
      li.join(perPart, col("l_partkey") === col("pk"))
        .filter((col("l_quantity") * 5).cast(DecimalType(18, 2)) * col("cnt") < col("sq"))
        .agg(count(lit(1)).as("n_small"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
    }),
    // CUBE over (returnflag, linestatus): all four grouping sets in ONE
    // pass (Spark expands map-side, like rollup), with grouping_id
    // distinguishing the subtotal level — same bitmask encoding as
    // DuckDB's GROUPING(a, b), so the oracle checks the id itself
    "agg_cube" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid"), col("sum_qty"), col("n_items"))
    }),
    // explicit GROUPING SETS — the mixed-granularity report neither
    // cube nor rollup can express: flag×status detail, per-ship-year
    // totals, and the grand total in ONE aggregation pass (one shuffle
    // with map-side partials across all three set expansions)
    "agg_grouping_sets" -> ((s, dir) => {
      val li = table(s, dir, "lineitem").withColumn("ship_year", year(col("l_shipdate")))
      li.groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("ship_year")), Seq()),
          col("l_returnflag"), col("l_linestatus"), col("ship_year"))
        .agg(grouping_id().as("gid"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          coalesce(col("ship_year").cast("string"), lit("ALL")).as("yr"),
          col("gid"), col("sum_qty"), col("n_items"))
    }),
    // equi-width histogram profile of extendedprice: the data-profiling
    // primitive. Bin = floor(x / 1000) — one IEEE division + floor, bit-
    // identical in every engine, so bins never drift at the boundary.
    // ONE map-side-combinable aggregate: ~100 bins regardless of corpus
    // size, the shape that holds at 100 TB
    "agg_histogram" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(floor(col("l_extendedprice") / 1000).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_items"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
    }),
    // semi-structured extraction: JSON props parsed in-plan
    // (get_json_object is codegen'd — no UDF, no schema inference pass)
    // and aggregated per event type; integer-exact stats
    "events_props_agg" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      table(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
    }),
    // staged conversion funnel signup → click → purchase: each stage is
    // min-ts-after-previous-stage — two key-partitioned joins + three
    // map-side-combinable min aggregates, no window, no ordering
    // sensitivity (min over µs-truncated ts is order-free)
    "agg_funnel" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("user_id"), col("event_type"), expr(TsUsSql).as("tus"))
      val s1 = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("tus")).as("t1"))
      val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("tus") >= col("t1"))
        .groupBy(col("user_id")).agg(min(col("tus")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("tus") >= col("t2"))
        .groupBy(col("user_id")).agg(min(col("tus")).as("t3"))
      val total = e.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_users"))
      total
        .crossJoin(s1.agg(count(lit(1)).as("n_signup")))
        .crossJoin(s2.agg(count(lit(1)).as("n_signup_click")))
        .crossJoin(s3.agg(count(lit(1)).as("n_signup_click_purchase")))
    }),
    // per-key group-size skew profile (the shuffle-planning diagnostic):
    // sizes are one map-side-combinable count; the stats pass aggregates
    // ~|keys| rows. Percentiles at binary fractions (.5/.75) keep the
    // interpolation IEEE-exact cross-engine
    "agg_key_skew" -> ((s, dir) => {
      val sizes = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("sz"))
      sizes.agg(count(lit(1)).as("n_keys"),
        max(col("sz")).as("max_sz"),
        expr("percentile(sz, 0.5)").as("p50_sz"),
        expr("percentile(sz, 0.75)").as("p75_sz"),
        (sum(col("sz")).cast("double") / count(lit(1))).as("avg_sz"))
    }),
    // Gini concentration of customer revenue: the sorted-rank identity
    // G = (2·Σ rᵢxᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with ranks from the
    // range-partitioned GlobalRank (never a single-task global window);
    // moments accumulate in exact DECIMAL, ONE double division at the
    // end (both engines evaluate the identical IEEE expression)
    "agg_gini_revenue" -> ((s, dir) => {
      val x = table(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("x"))
      val ranked = graft.operators.GlobalRank.withRank(x, Seq("x", "o_custkey"), "r")
      ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("total"),
        sum(col("r") * col("x")).as("rx"))
        .select(col("n"),
          round((lit(2.0d) * col("rx").cast("double") -
            (col("n") + 1).cast("double") * col("total").cast("double")) /
            (col("n").cast("double") * col("total").cast("double")), 6).as("gini"))
    }),
    // the Lorenz curve behind that Gini: revenue share of each customer
    // DECILE (GlobalRank NTILE — the parallel two-phase rank, never a
    // single-task window over customers); the cumulative pass runs over
    // 10 metadata rows. cum_share is DECIMAL-exact until one division
    "agg_lorenz_deciles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val x = table(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("x"))
      val d = graft.operators.GlobalRank.withNtile(x, Seq("x", "o_custkey"), 10, "decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"), sum(col("x")).as("rev"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      d.select(col("decile"), col("n_customers"),
          col("rev").cast("double").as("decile_revenue"),
          round(sum(col("rev")).over(w).cast("double") /
            sum(col("rev")).over(all).cast("double"), 6).as("cum_share"))
    }),
    // trailing 30-day spend per customer: the RANGE window frame (peers
    // by VALUE distance, not row count) — frame membership is a pure
    // function of the integer day, so ties need no ordering tiebreak and
    // the result is deterministic under any shuffle. One hash exchange
    // on o_custkey, in-partition sort, single window pass
    "agg_trailing_30d" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val day = datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")).cast("long")
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day")).rangeBetween(-29, 0)
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), day.as("day"), col("o_totalprice"))
        .select(col("o_orderkey"), col("o_custkey"), col("day"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double").as("trail_total"),
          count(lit(1)).over(w).as("trail_n"))
    }),
    // triangle count over the part-co-order graph (parts linked when one
    // order contains both): degree-ordered wedge generation bounds the
    // explosion at O(m^1.5) regardless of hub skew — see Triangles
    "graph_triangles" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      // emit each unordered pair once (s1 < s2): halves the distinct's input
      val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
      graft.operators.Triangles.count(
        graft.operators.Triangles.canonicalEdges(pairs, "s1", "s2"))
    }),
    // common-neighbor link prediction over the EVIDENCE-THRESHOLDED
    // co-purchase graph: an edge needs >= CoPurchaseMinSupport shared
    // orders (the basket_frequent_pairs support philosophy). The raw
    // 1-incidental-order graph is uniformly dense (sf0.1: avg degree
    // 120, 148M wedges — and wedge volume is the STATISTIC's cost, no
    // orientation trick applies); thresholding is how production
    // co-purchase graphs are built, and keeps wedge volume proportional
    // to genuine repeat behavior at any corpus size
    "graph_common_neighbors" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val edges = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .groupBy(col("s1").as("a"), col("s2").as("b"))
        .agg(count(lit(1)).as("__cnt"))
        .filter(col("__cnt") >= CoPurchaseMinSupport)
        .select(col("a"), col("b"))
      graft.operators.Triangles.commonNeighbors(edges, topK = 20)
    }),
    // Jaccard neighborhood-overlap link prediction on the same
    // co-purchase graph: common/(deg_a+deg_b−common) — the normalized
    // score that stops hub pairs from outranking genuinely similar
    // low-degree pairs; one IEEE division of exact integers per pair,
    // ties totally ordered, so the top-k hash-checks
    "graph_jaccard_links" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val edges = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .groupBy(col("s1").as("a"), col("s2").as("b"))
        .agg(count(lit(1)).as("__cnt"))
        .filter(col("__cnt") >= CoPurchaseMinSupport)
        .select(col("a"), col("b"))
      graft.operators.Triangles.jaccardLinks(edges, topK = 20)
    }),
    // per-node local clustering coefficient on the SPARSE co-order
    // subgraph: 2T(v)/(d(d-1)) — the clique-ness score (community
    // seeding, bot detection); every triangle credits all three
    // vertices via closed-wedge counting, closure is one shuffled-hash
    // join against the canonical edge list
    "graph_clustering_coeff" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val edges = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .select(col("s1").as("a"), col("s2").as("b")).distinct()
      graft.operators.Triangles.clusteringCoeff(edges)
        .select(col("v").as("part"), col("degree"), col("triangles"), col("coeff"))
    }),
    // deterministic integer fixed-point PageRank over the same part
    // co-order graph: fixed rounds, damping 85/100, scale 10^9 — the
    // arithmetic is integer end-to-end, so the oracle replays the exact
    // recurrence (a float PageRank could never be hash-compared: the
    // summation order would leak into the result)
    "graph_pagerank" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
      graft.operators.PageRank.ranks(
        graft.operators.Triangles.canonicalEdges(pairs, "s1", "s2"),
        iters = PageRankIters)
        .select(col("v").as("part"), col("rank").as("rank_scaled"))
    }),
    // connected components over the SPARSE co-order subgraph (parts
    // linked when one order ships both in bulk) — large-star/small-star
    // alternation via Components, O(log²) rounds on any topology where
    // min-label propagation would pay one round per diameter unit (this
    // subgraph needs 59 propagation rounds at sf0.1). localThreshold=0
    // forces the distributed path: the named operator must exercise the
    // scale algorithm, not the driver union-find shortcut.
    "graph_components" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .select(col("s1").as("doc_a"), col("s2").as("doc_b"))
      graft.operators.Components.labels(
        lp.select(col("p").as("part")), pairs, "part")
        .select(col("part"), col("cluster_id").as("component"))
    }),
    // synchronous label-propagation communities on the same subgraph:
    // 3 deterministic most-frequent-label rounds (min tie-break) — the
    // community detector that, unlike components, respects density
    "graph_label_prop" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .select(col("s1").as("doc_a"), col("s2").as("doc_b"))
      graft.operators.LabelProp.labels(
        lp.select(col("p").as("part")), pairs, "part")
    }),
    // the CONVERGED variant: label propagation with a self-vote — the
    // damping that turns the oscillating synchronous rule (measured:
    // never stable on this graph, LabelProp scaladoc) into a true
    // fixpoint in 3-4 rounds; the oracle unrolls the same rule, and
    // ConvergenceSpec re-measures that StableRounds covers the fixpoint
    "graph_label_prop_stable" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .select(col("s1").as("doc_a"), col("s2").as("doc_b"))
      graft.operators.LabelProp.labelsStable(
        lp.select(col("p").as("part")), pairs, "part")
    }),
    // Newman modularity of the BRAND partition over the same
    // co-purchase graph — the partition-quality score any community/
    // label assignment is judged by, kept integral (Q·4m² in BIGINT,
    // one double division at the end). NO iteration: two label joins +
    // one map-side-combinable aggregate
    "graph_modularity" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .select(col("s1").as("src"), col("s2").as("dst")).distinct()
      val labels = table(s, dir, "part")
        .select(col("p_partkey").as("node"), col("p_brand").as("label"))
      graft.operators.Modularity.score(pairs, labels)
    }),
    // bounded k-core peel on the same sparse subgraph: 3 synchronous
    // peel rounds at k=3 — the degeneracy-ordering workhorse (densest
    // community seeds, spam-farm detection); survivors carry the degree
    // that passed the final check, so the oracle hash-checks the
    // cascade itself, not just membership
    "graph_kcore" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .select(col("s1").as("doc_a"), col("s2").as("doc_b")).distinct()
      graft.operators.KCore.peel(pairs, k = 3)
        .select(col("v").as("part"), col("core_degree"))
    }),
    // k-TRUSS bounded peel on the same thresholded graph — the EDGE
    // cohesion sibling (support = triangles per edge; k-truss ⊂
    // (k−1)-core, strictly: closed structure, not just contact). Per
    // round: one degree-ordered triangle enumeration (O(E^1.5) bound),
    // a 3-edge explode, one count per 16-byte edge key. The surviving
    // edges AND their final support hash-check, pinning the cascade.
    "graph_ktruss" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .select(col("s1").as("a"), col("s2").as("b")).distinct()
      graft.operators.Truss.peel(pairs, k = 4)
    }),
    // degree distribution of the part co-order graph — the graph-shape
    // profile (hub detection, skew diagnosis before any wedge-generating
    // algorithm): two keyed aggregations, no joins beyond the edge build
    // degree assortativity (Newman '02): Pearson correlation of
    // endpoint degrees over directed edge copies — positive = hubs
    // link hubs, negative = hub-and-spoke. Every moment is an exact
    // integer sum (degrees are counts), so the statistic is one IEEE
    // division of exact integers + two exact sqrts — deterministic,
    // like agg_corr_pricing. Same co-purchase graph as degree_hist.
    "graph_assortativity" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("a"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("b"))
      val edges = l1.join(l2, col("ok") === col("ok2") && col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
      graft.operators.Triangles.assortativity(edges)
    }),
    // multi-source BFS hop distance (depth-bounded) over the same
    // co-purchase graph: frontier iteration — two keyed shuffles per
    // round, frontier holds only newly-reached nodes, localCheckpoint
    // per round (the iterative-lineage discipline); truncation leaves
    // far nodes unreported, never mislabeled
    "graph_bfs" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val edges = lp.select(col("ok"), col("p").as("a"))
        .join(lp.select(col("ok").as("ok2"), col("p").as("b")),
          col("ok") === col("ok2") && col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
      val sources = lp.select(col("p")).distinct().filter(col("p") % 400 === 1)
      graft.operators.Bfs.levels(sources, edges, "p", "a", "b", maxDepth = BfsMaxDepth)
    }),
    "graph_degree_hist" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val edges = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .select(col("s1"), col("s2")).distinct()
      edges.select(col("s1").as("v")).unionAll(edges.select(col("s2").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    }),
    // time-series densification: per-user daily value series with every
    // silent day synthesized and the last observed value carried forward
    "ts_gapfill" -> ((s, dir) => {
      val obs = table(s, dir, "events")
        .select(col("user_id"),
          expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"), col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).cast("double").as("day_value"))
      graft.operators.GapFill.locf(obs, "user_id", "day", Seq("day_value"))
    }),
    // same densified grid, LINEAR interpolation instead of LOCF — the
    // resampling mode for continuous signals; one IEEE division per
    // output row in a fixed expression order, so the oracle hash-checks
    // the interpolated trajectory itself
    "ts_interpolate" -> ((s, dir) => {
      val obs = table(s, dir, "events")
        .select(col("user_id"),
          expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"), col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).cast("double").as("day_value"))
      graft.operators.GapFill.interpolate(obs, "user_id", "day", "day_value")
    }),
    // fuzzy duplicate part names: block on the noun token, verify with
    // Levenshtein ≤ 3 — blocking-key equi-join, never all-pairs
    "er_fuzzy_pairs" -> ((s, dir) =>
      graft.pipeline.Fuzzy.blockedPairs(
        table(s, dir, "part"), "p_name",
        nm => split(nm, " ").getItem(1), maxDist = FuzzyMaxDist,
        maxBlock = FuzzyMaxBlock)
        .select(col("left").as("name_a"), col("right").as("name_b"), col("dist"))),
    // blocking-recall harness (the ER sibling of dedup_minhash_recall):
    // exact truth from LOSSLESS length-band blocking (edit distance ≤ d
    // bounds the length gap at d — no all-pairs product even in the
    // truth arm), candidates from the production noun-token key; recall
    // = what the cheap key silently costs. Gated slice keeps the
    // harness's exact arm bounded at any sf.
    "er_blocking_recall" -> ((s, dir) =>
      graft.pipeline.Fuzzy.blockingRecall(
        table(s, dir, "part").filter(col("p_partkey") % 8 === 0),
        "p_name", nm => split(nm, " ").getItem(1),
        maxDist = FuzzyMaxDist, maxBlock = FuzzyMaxBlock)),
    // entity RESOLUTION end-to-end (the step after pair finding): fuzzy
    // match pairs become edges, connected components merge transitive
    // matches ("acme corp" ~ "acme co" ~ "acme inc" = one entity), each
    // multi-record entity surfaces under its min-name canonical id —
    // the composed record-linkage pipeline as ONE oracle query
    "er_entities" -> ((s, dir) => {
      val pairs = graft.pipeline.Fuzzy.blockedPairs(
          table(s, dir, "part"), "p_name",
          nm => split(nm, " ").getItem(1), maxDist = FuzzyMaxDist,
          maxBlock = FuzzyMaxBlock)
        .select(col("left").as("doc_a"), col("right").as("doc_b"))
      val names = table(s, dir, "part").select(col("p_name").as("name")).distinct()
      graft.pipeline.Dedup.clustersFromPairs(names, pairs, "name")
        .groupBy(col("cluster_id").as("canonical"))
        .agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") > 1)
    }),
    // the resolution DASHBOARD over the same clustering: cluster-size
    // histogram INCLUDING singletons, with each size's share of all
    // records — the dedup-rate numbers an ER run is judged by (division
    // of two exact longs, one 1-row broadcast)
    "er_cluster_stats" -> ((s, dir) => {
      val pairs = graft.pipeline.Fuzzy.blockedPairs(
          table(s, dir, "part"), "p_name",
          nm => split(nm, " ").getItem(1), maxDist = FuzzyMaxDist,
          maxBlock = FuzzyMaxBlock)
        .select(col("left").as("doc_a"), col("right").as("doc_b"))
      val names = table(s, dir, "part").select(col("p_name").as("name")).distinct()
      val sizes = graft.pipeline.Dedup.clustersFromPairs(names, pairs, "name")
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      val total = sizes.agg(sum(col("sz")).as("__total"))
      sizes.groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_records"))
        .crossJoin(broadcast(total))
        .select(col("cluster_size"), col("n_clusters"), col("n_records"),
          round(col("n_records").cast("double") / col("__total").cast("double"), 4)
            .as("pct_records"))
    }),
    // SURVIVORSHIP over the same clustering — the golden-record MDM
    // step ER feeds: every source row joins its cluster label, and one
    // keyed aggregate applies the field rules (min key = stable id,
    // max price = most-complete-wins, member counts). Only multi-name
    // clusters surface (the actual merges)
    "er_golden_record" -> ((s, dir) => {
      val part = table(s, dir, "part")
      val pairs = graft.pipeline.Fuzzy.blockedPairs(part, "p_name",
          nm => split(nm, " ").getItem(1), maxDist = FuzzyMaxDist,
          maxBlock = FuzzyMaxBlock)
        .select(col("left").as("doc_a"), col("right").as("doc_b"))
      val names = part.select(col("p_name").as("name")).distinct()
      val clusters = graft.pipeline.Dedup.clustersFromPairs(names, pairs, "name")
      part.join(clusters, part("p_name") === clusters("name"))
        .groupBy(col("cluster_id").as("canonical"))
        .agg(min(col("p_partkey")).as("golden_partkey"),
          max(col("p_retailprice").cast(DecimalType(18, 2))).as("__gp"),
          countDistinct(col("p_name")).as("n_names"),
          count(lit(1)).as("n_rows"))
        .filter(col("n_names") > 1)
        .select(col("canonical"), col("golden_partkey"),
          col("__gp").cast("double").as("golden_price"),
          col("n_names"), col("n_rows"))
    }),
    // big spenders FULL OUTER active users — the reconcile shape (ledger
    // vs telemetry) where either side may be missing; both aggregates
    // shuffle once on their key, the outer join on the shared id
    "join_full_outer" -> ((s, dir) => {
      val spend = table(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("spend"))
        .where(col("spend") > SpendBar)
      val active = table(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .where(col("n_events") >= ActiveBar)
      spend.join(active, col("o_custkey") === col("user_id"), "full_outer")
        .select(coalesce(col("o_custkey"), col("user_id")).as("id"),
          col("spend"), col("n_events"))
    }),
    // variable-length interval intersection: per-customer order windows
    // (duration scales with priority) that collide in time — binned
    // equi-join on (customer, time-bin), never a per-key product
    "interval_overlap_orders" -> ((s, dir) => {
      val day = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      val sp = table(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey").as("ok"), day.as("lo"),
        (day + lit(10L) * substring(col("o_orderpriority"), 1, 1).cast("long")).as("hi"))
      graft.operators.IntervalJoin.selfOverlaps(
        sp, Seq("o_custkey"), "ok", "lo", "hi", binWidth = OrderWindowBinDays)
        .select(col("o_custkey"), col("id_a").as("o_a"), col("id_b").as("o_b"),
          col("overlap").as("overlap_days"))
    }),
    // cohort retention: users bucketed by first-active day, activity
    // counted per day offset — the product-analytics staple; (user, day)
    // is distinct first, so the count needs no distinct aggregate
    "agg_cohort_retention" -> ((s, dir) => {
      val d = table(s, dir, "events")
        .select(col("user_id"),
          expr(s"($TsUsSql) div $RangeJoinDayUs").as("day")).distinct()
      val f = d.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      d.join(f, "user_id")
        .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
    }),
    // market-basket frequent pairs: parts co-ordered ≥ MinSupport times —
    // support counting over the same once-emitted pair stream as the
    // graph queries; one shuffle to count, the HAVING prunes the tail
    "basket_frequent_pairs" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      lp.select(col("ok"), col("p").as("p_a"))
        .join(lp.select(col("ok").as("ok2"), col("p").as("p_b")),
          col("ok") === col("ok2") && col("p_a") < col("p_b"))
        .groupBy(col("p_a"), col("p_b")).agg(count(lit(1)).as("support"))
        .where(col("support") >= MinSupport)
    }),
    // association RULES over the frequent pairs: confidence in both
    // directions and lift, each an exact-integer numerator/denominator
    // with ONE double division (rank-preserving rational form — no
    // transcendentals); the basket total is a 1-row broadcast
    "basket_rules" -> ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val itemN = lp.groupBy(col("p")).agg(count(lit(1)).as("n_item"))
      val pairs = lp.select(col("ok"), col("p").as("p_a"))
        .join(lp.select(col("ok").as("ok2"), col("p").as("p_b")),
          col("ok") === col("ok2") && col("p_a") < col("p_b"))
        .groupBy(col("p_a"), col("p_b")).agg(count(lit(1)).as("support"))
        .where(col("support") >= MinSupport)
      val baskets = lp.select(col("ok")).distinct()
        .agg(count(lit(1)).as("__n_baskets"))
      pairs
        .join(itemN.select(col("p").as("p_a"), col("n_item").as("__na")), Seq("p_a"))
        .join(itemN.select(col("p").as("p_b"), col("n_item").as("__nb")), Seq("p_b"))
        .crossJoin(broadcast(baskets))
        .select(col("p_a"), col("p_b"), col("support"),
          round(col("support").cast("double") / col("__na"), 4).as("conf_a_b"),
          round(col("support").cast("double") / col("__nb"), 4).as("conf_b_a"),
          round((col("support") * col("__n_baskets")).cast("double") /
            (col("__na") * col("__nb")), 4).as("lift"))
    }),
    // one-pass column profile of the events table: per-column null and
    // exact distinct counts via a melt + single hash aggregation
    "profile_columns" -> ((s, dir) =>
      graft.pipeline.Profile.columns(table(s, dir, "events"))),
    // FK discovery over declared candidate pairs: containment of
    // distinct value sets + referenced-side uniqueness — the catalog-
    // inference rule (three true FKs discover themselves near 1.0/1.0;
    // the deliberately wrong pair discriminates). Distinct sets shuffle
    // keys only; candidates are a metadata-sized list, never n².
    // distribution-drift monitor: per-source chi-square of the n_chars
    // histogram vs the corpus reference (the PSI shape without the
    // cross-engine-banned logarithm); fixed-order term chain keeps the
    // float statistic deterministic
    "profile_drift_chi2" -> ((s, dir) =>
      graft.pipeline.Profile.driftChi2(table(s, dir, "documents"), "source", col("n_chars"))),
    // ANALYZE-style NDV stats at sketch cost: ONE scan exploded to
    // (col_name, value), per-column KMV minima — the CBO stats pass
    // (exact countDistinct per column would be a full-width shuffle
    // each; KMV ships k 8-byte minima and MERGES across partitions)
    "profile_ndv" -> ((s, dir) =>
      graft.pipeline.Profile.ndvProfile(table(s, dir, "lineitem"), NdvCols)),
    // Cramér's V between return flag and line status — the categorical
    // association gate (MI minus the banned logarithm): the whole r×c
    // contingency table is ONE wide scan-aggregate row, marginals
    // derive by integer addition, terms added in fixed written order
    "profile_cramers_v" -> ((s, dir) =>
      graft.pipeline.Profile.cramersV(table(s, dir, "lineitem"),
        "l_returnflag", Seq("A", "N", "R"), "l_linestatus", Seq("F", "O"))),
    // frequent items per column (the other half of the ANALYZE pass
    // next to profile_ndv): exact counts, per-column top-3 via the
    // two-stage salted cover — never a single-reducer-per-column window
    "profile_topk_values" -> ((s, dir) =>
      graft.pipeline.Profile.topkValues(table(s, dir, "lineitem"), NdvCols)),
    "profile_fk_candidates" -> ((s, dir) => {
      graft.pipeline.Profile.fkCandidates(Seq(
        ("lineitem", table(s, dir, "lineitem"), "l_orderkey",
          "orders", table(s, dir, "orders"), "o_orderkey"),
        ("orders", table(s, dir, "orders"), "o_custkey",
          "customer", table(s, dir, "customer"), "c_custkey"),
        ("customer", table(s, dir, "customer"), "c_nationkey",
          "nation", table(s, dir, "nation"), "n_nationkey"),
        // the non-FK control: sizes are not nation keys
        ("part", table(s, dir, "part"), "p_size",
          "nation", table(s, dir, "nation"), "n_nationkey")))
    }),
    // declarative data-quality expectation suite (the Deequ shape):
    // every row-level predicate evaluates in ONE scan per table; each
    // uniqueness check is one keyed groupBy; each referential check one
    // containment join — one verdict row per check, the per-ingest
    // admission gate a warehouse publishes behind
    // pairwise Pearson matrix in ONE scan: exact DECIMAL moments (k
    // sums, k squares, k(k-1)/2 cross products side by side), each
    // correlation a fixed-order double expression; zero-variance -> null
    "profile_corr_matrix" -> ((s, dir) =>
      graft.pipeline.Profile.corrMatrix(table(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    // Tukey-fence outlier census: exact quartiles for every numeric
    // column in ONE aggregate (1-row broadcast back, scalar-subquery
    // shape), all fences counted in one second scan — two passes total
    // regardless of column count, never a melt shuffle
    "profile_outlier_iqr" -> ((s, dir) =>
      graft.pipeline.Profile.outlierIqr(table(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    "profile_dq_checks" -> ((s, dir) => {
      val orders = table(s, dir, "orders")
      val lineitem = table(s, dir, "lineitem")
      val customer = table(s, dir, "customer")
      graft.pipeline.Profile.dqChecks(orders,
        rowChecks = Seq(
          "orders.custkey_not_null" -> col("o_custkey").isNull,
          "orders.totalprice_positive" -> (col("o_totalprice") <= 0.0d),
          "orders.status_in_domain" -> !col("o_orderstatus").isin("F", "O", "P")),
        uniqueChecks = Seq("orders.orderkey_unique" -> Seq("o_orderkey")),
        fkChecks = Seq(("orders.custkey_fk_customer", "o_custkey", customer, "c_custkey")))
      .unionAll(graft.pipeline.Profile.dqChecks(lineitem,
        rowChecks = Seq(
          "lineitem.returnflag_in_domain" -> !col("l_returnflag").isin("A", "N", "R"),
          "lineitem.qty_in_range" -> (col("l_quantity") < 1.0d || col("l_quantity") > 50.0d),
          "lineitem.discount_in_range" -> (col("l_discount") < 0.0d || col("l_discount") > 0.1d)),
        uniqueChecks = Seq("lineitem.line_pk_unique" -> Seq("l_orderkey", "l_linenumber")),
        fkChecks = Seq(("lineitem.orderkey_fk_orders", "l_orderkey", orders, "o_orderkey"))))
    }),
    // range-partition boundary planning: gated sample + one exact
    // multi-quantile = the cut points a globally-sorted write's range
    // shuffle assigns by (metadata-sized, broadcast into the
    // partitioner); integral cents + power-of-two cuts keep the
    // interpolation IEEE-exact on both engines
    // retention planning (the TTL leg of table maintenance): event
    // "files" = (type, id-bucket) with min/max record ts; files wholly
    // below the cutoff retire as METADATA work, straddlers are counted
    // for the compaction planner; cutoff = min + 2/3 span (integer ops,
    // derived identically on both engines)
    "layout_retention" -> ((s, dir) => {
      val ev = table(s, dir, "events").select(col("event_type"),
        (col("event_id") / 500).cast("long").as("bucket"), expr(TsUsSql).as("t"))
      val files = ev.groupBy(col("event_type"), col("bucket"))
        .agg(min(col("t")).as("min_ts"), max(col("t")).as("max_ts"),
          (count(lit(1)) * 100).as("bytes"))
      val bounds = files.agg(min(col("min_ts")), max(col("max_ts"))).collect()(0)
      val cutoff = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 3 * 2
      graft.operators.Layout.retentionPlan(files, "event_type", "max_ts", "min_ts", "bytes", cutoff)
    }),
    // clustering-depth census: the SAME file assignment (insert order =
    // l_orderkey div 200) measured on two query keys — orderkey
    // intervals are disjoint (depth 1, clustered), partkey intervals
    // all span the key space (depth ≈ n_files, the recluster signal);
    // the before/after-OPTIMIZE comparison in one metadata sweep
    "layout_cluster_depth" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      def inv(tag: String, key: org.apache.spark.sql.Column) =
        li.select(lit(tag).as("layout"),
            expr("l_orderkey div 200").as("file"), key.as("k"))
          .groupBy(col("layout"), col("file"))
          .agg(min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      graft.operators.Layout.clusterDepth(
        inv("by_orderkey", col("l_orderkey")).unionAll(inv("by_partkey", col("l_partkey"))),
        "layout", "min_k", "max_k")
    }),
    // MEASURED zone-map skipping: the same rows laid out linearly vs
    // z-ordered into 64 equal files (GlobalRank ntile — never a
    // single-task window), per-file min/max zone maps on BOTH keys,
    // then four literal 2D range queries counted against the maps —
    // the "why pay for z-order" number (2D selective queries read far
    // fewer z-ordered files); pure metadata after the two ntile passes
    "layout_skip_measured" -> ((s, dir) => {
      val nFiles = 64
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
          col("l_linenumber").as("ln"))
      def zones(tag: String, ordered: DataFrame, ord: Seq[String]) =
        graft.operators.GlobalRank.withNtile(ordered, ord, nFiles, "file")
          .groupBy(col("file"))
          .agg(min(col("ok")).as("min_ok"), max(col("ok")).as("max_ok"),
            min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"))
          .withColumn("layout", lit(tag))
      val lin = zones("linear", li, Seq("ok", "pk", "ln"))
      val zo = zones("zorder",
        li.withColumn("zk", graft.operators.Layout.zkey(col("ok"), col("pk"))),
        Seq("zk", "ok", "pk", "ln"))
      val bounds = li.agg(min(col("ok")).as("ok_mn"), max(col("ok")).as("ok_mx"),
        min(col("pk")).as("pk_mn"), max(col("pk")).as("pk_mx"))
      val qs = Seq((1, 0, 10, 0, 10), (2, 45, 55, 45, 55),
        (3, 20, 30, 60, 80), (4, 0, 100, 30, 32))
      lin.unionAll(zo)
        .crossJoin(broadcast(bounds))
        .select(col("*"), explode(array(qs.map { case (id, a1, a2, b1, b2) =>
          struct(lit(id.toLong).as("qid"), lit(a1.toLong).as("alo"), lit(a2.toLong).as("ahi"),
            lit(b1.toLong).as("blo"), lit(b2.toLong).as("bhi"))
        }: _*)).as("q"))
        .withColumn("lo_ok", expr("ok_mn + ((ok_mx - ok_mn) * q.alo) div 100"))
        .withColumn("hi_ok", expr("ok_mn + ((ok_mx - ok_mn) * q.ahi) div 100"))
        .withColumn("lo_pk", expr("pk_mn + ((pk_mx - pk_mn) * q.blo) div 100"))
        .withColumn("hi_pk", expr("pk_mn + ((pk_mx - pk_mn) * q.bhi) div 100"))
        .groupBy(col("layout"), col("q.qid").as("qid"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("min_ok") <= col("hi_ok") && col("max_ok") >= col("lo_ok") &&
            col("min_pk") <= col("hi_pk") && col("max_pk") >= col("lo_pk"), 1L)
            .otherwise(0L)).as("n_read"))
        .select(col("layout"), col("qid"), col("n_files"), col("n_read"),
          round(lit(1.0) - col("n_read").cast("double") / col("n_files"), 4)
            .as("skip_ratio"))
    }),
    // dictionary-encoding benefit per string column — the storage-
    // planning estimate behind the file layout's encoding choice; all
    // integer bits (code width via a power-of-two ladder, no libm)
    "layout_dict_estimate" -> ((s, dir) =>
      graft.pipeline.Profile.dictEstimate(table(s, dir, "part"),
        Seq("p_name", "p_brand", "p_type"))),
    "layout_range_bounds" -> ((s, dir) =>
      graft.operators.Layout.rangeBounds(
        table(s, dir, "lineitem"),
        concat_ws("#", col("l_orderkey"), col("l_linenumber")),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long"),
        numPartitions = 8, rate = QuantileSampleRate)),
    // keyword search: top-10 documents by total matched-term frequency —
    // the lexical-retrieval path (integer scoring, so the oracle can
    // hash-check the ranking itself). The term set is a literal IN
    // filter evaluated scan-side; the explosion never leaves the map
    // stage and the top-k is one TakeOrdered, not a global sort
    "search_topk" -> ((s, dir) => {
      val toks = table(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.pipeline.TextPipeline.tokens(col("text"))).as("token"))
      toks.where(col("token").isin(SearchTerms: _*))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("score"), countDistinct(col("token")).as("n_terms"))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
    }),
    // exact PHRASE query over a positional inverted index: postings are
    // materialized only for the phrase's terms (isin pushes into the
    // scan), consecutive terms align via (doc, pos−i) equi-joins —
    // at 100 TB the read is three posting lists, never the corpus
    "search_phrase" -> ((s, dir) =>
      graft.pipeline.TextPipeline.phraseSearch(
        table(s, dir, "documents"), PhraseTerms)),
    // sequential pattern mining: event-type transition counts (first-order
    // Markov edges) per user timeline — one window pass on the µs-truncated
    // (ts, event_id) order both engines agree on, then one count shuffle
    "seq_transition_counts" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      table(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type").as("next"),
          expr(TsUsSql).as("tus"))
        .withColumn("prev", lag(col("next"), 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("n"))
    }),
    // Z-order layout key: Morton-interleave (custkey, order-day) — the
    // multi-dimensional clustering key whose range-sort gives tight
    // per-file min/max in BOTH dimensions (scan pruning at 100 TB);
    // pure integer bit ops, bit-identical on any engine
    "layout_zorder" -> ((s, dir) => {
      val day = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      table(s, dir, "orders").select(col("o_orderkey"),
        graft.operators.Layout.zkey(col("o_custkey"), day).as("zkey"))
    }),
    // Hilbert layout key (the liquid-clustering curve): consecutive
    // keys are ALWAYS adjacent cells, so key-range file boundaries
    // enclose tighter min/max boxes than Morton's quadrant jumps
    "layout_hilbert" -> ((s, dir) => {
      val day = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      // mask both dims to the key's 16-bit grid (the Morton precedent:
      // spreadBits masks to 31 bits) — at SF >= 0.5 raw custkeys exceed
      // 2^16 and the native walk would yield NULL while the oracle's
      // unmasked arithmetic would not; the pmod keeps both engines on
      // the same in-range inputs at ANY scale factor
      val grid = lit(1L << 16)
      table(s, dir, "orders").select(col("o_orderkey"),
        graft.operators.Layout.hilbertKey(s,
          pmod(col("o_custkey"), grid), pmod(day, grid)).as("hkey"))
    }),
    // small-file compaction planning (the OPTIMIZE step): the document
    // corpus simulated as a file inventory — one "file" per (source,
    // doc_id div 20) with its byte size — bin-packed in key order into
    // ~20 KB outputs. The plan runs over file METADATA only (one group
    // exchange + a per-group window); the manifest (files per bin,
    // bytes, key range) is what the rewrite job consumes, and keeping
    // the key order preserves the clustering the layout paid for
    "layout_compaction" -> ((s, dir) => {
      val files = table(s, dir, "documents")
        .groupBy(col("source"), (col("doc_id") / CompactionFileDocs)
          .cast("long").as("bucket"))
        .agg(sum(col("n_chars")).as("bytes"))
      graft.operators.Layout.compactionPlan(
        files, "source", "bucket", "bytes", CompactionTargetBytes)
    }),
    // deterministic sampled quantile: salted-hash 5% sample + exact
    // percentile over integral cents — approximate median with no
    // global sort and a hash-checkable estimate
    "sketch_quantile_sample" -> ((s, dir) =>
      graft.pipeline.Sketches.sampledQuantile(
        table(s, dir, "lineitem"),
        concat_ws("#", col("l_orderkey"), col("l_linenumber")),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long"),
        q = 0.5, rate = QuantileSampleRate)),
    // quantile-sketch MERGEABILITY as an oracle row (the kmv_rollup
    // sibling): per-ship-date samples (the daily pre-aggregate) merged,
    // one exact percentile over the union; the oracle computes the
    // DIRECT global sampled quantile — lossless merge is the claim,
    // and it holds because the Bernoulli gate is row-local
    "sketch_quantile_rollup" -> ((s, dir) =>
      graft.pipeline.Sketches.quantileRollup(
        table(s, dir, "lineitem"),
        col("l_shipdate"),
        concat_ws("#", col("l_orderkey"), col("l_linenumber")),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long"),
        q = 0.5, rate = QuantileSampleRate)),
    // argmax-by-count: each user's dominant event type (ties break
    // lexicographically) — two-level aggregate + one per-key window
    "agg_mode_event_type" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = table(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("n").desc, col("event_type"))
      counts.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
    }),
    // Pearson correlation of quantity vs price per return flag, in
    // deterministic arithmetic: the five moment sums accumulate in exact
    // DECIMAL (order-insensitive), then ONE fixed IEEE expression over
    // their double casts — identical on any engine, so the oracle
    // hash-checks the correlation itself (a float-accumulated corr()
    // could never be)
    "agg_corr_pricing" -> ((s, dir) => {
      val x = col("l_quantity").cast(DecimalType(18, 2))
      val y = col("l_extendedprice").cast(DecimalType(18, 2))
      table(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
          sum(x * y).cast("double").as("sxy"),
          sum(x * x).cast("double").as("sxx"), sum(y * y).cast("double").as("syy"))
        .select(col("l_returnflag"),
          // round(…, 6) absorbs the one-ULP DECIMAL→DOUBLE conversion
          // divergence between engines (observed at sf0.001: DuckDB's
          // int128/pow10 path vs BigDecimal.doubleValue differ in the
          // last bit for some exact sums)
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr_qty_price"))
    }),
    // curriculum binning: quality-score quartile bins over the corpus —
    // the difficulty-staged training order, composed from the quality
    // scorer and the scalable GlobalRank NTILE (no single-task window).
    // NULL scores (empty docs) are pinned to -1 so both engines agree on
    // their ordering (Spark sorts NULLS FIRST asc, DuckDB NULLS LAST)
    "split_curriculum" -> ((s, dir) => {
      val q = graft.pipeline.TextPipeline.quality(table(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("score"), lit(-1.0)).as("sort_score"))
      graft.operators.GlobalRank.withNtile(q, Seq("sort_score", "doc_id"), 4, "bin")
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("sort_score")).as("min_score"),
          max(col("sort_score")).as("max_score"))
    }),
    // KMV distinct-count sketch over order keys: the DETERMINISTIC
    // approximate-distinct (HLL's register layout is engine-defined, so
    // only a k-minimum-values sketch can be oracle-checked exactly)
    "sketch_kmv_distinct" -> ((s, dir) =>
      graft.pipeline.Sketches.kmvDistinct(table(s, dir, "lineitem"), "l_orderkey")),
    // per-group sketch: distinct props payloads per event type — the
    // "distinct per segment" profile at O(k·groups) driver cost
    "sketch_kmv_groups" -> ((s, dir) =>
      graft.pipeline.Sketches.kmvDistinctByGroup(
        table(s, dir, "events"), "event_type", "props")),
    // KMV set algebra: click-days vs purchase-days audience overlap
    // (union / Jaccard / intersection estimates) with NO join between
    // the populations — each side ships k 8-byte minima. The (user, day)
    // grain puts both sets well past k, so the oracle checks the
    // ESTIMATOR branch and a genuinely partial Jaccard, not the
    // small-set exact path
    "sketch_kmv_overlap" -> ((s, dir) => {
      val ev = table(s, dir, "events").withColumn("uday",
        concat(col("user_id").cast("string"), lit(":"),
          expr(s"($TsUsSql) div $RangeJoinDayUs").cast("string")))
      graft.pipeline.Sketches.kmvOverlap(
        ev.filter(col("event_type") === "click"), "uday",
        ev.filter(col("event_type") === "purchase"), "uday")
    }),
    // KMV rollup — sketch MERGEABILITY as an oracle row: per-day user
    // sketches merged into the global sketch; the oracle computes the
    // DIRECT global sketch, which the merge must equal exactly (any
    // globally-k-smallest hash is its own day's k-smallest). k=64 <
    // ~150 distinct users, so the estimator branch is the one checked
    "sketch_kmv_rollup" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"), col("user_id"))
      graft.pipeline.Sketches.kmvRollup(ev, "day", "user_id", KmvRollupK)
    }),
    // count-min heavy hitters over the token stream (Zipf-ish keys —
    // the distribution CMS is built for): depth×width counter grid in
    // one map-side-combined pass (1024 cells cross the exchange, never
    // the tokens), top-10 true-heaviest read back next to their sketch
    // estimates; est >= true always, and the overcount column MEASURES
    // collision inflation at this width before you trust the sketch
    // alone at a scale where the exact arm is unaffordable
    "sketch_cms_heavy" -> ((s, dir) => {
      val toks = table(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      graft.pipeline.Sketches.cmsHeavy(toks, "token", topK = 10)
    }),
    // windowed ordered funnel (view → click → purchase within 6 h of
    // the chain's first step): earliest-continuation chains via one
    // forward as-of pass per step — never a per-user event product —
    // then the per-user max depth histogram
    "seq_window_funnel" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"), expr(TsUsSql).as("t"), col("event_type"))
      graft.operators.Funnel.windowFunnel(ev, "user_id", "t", "event_type",
          Seq("view", "click", "purchase"), FunnelWindowUs)
        .groupBy(col("depth")).agg(count(lit(1)).as("n_users"))
    }),
    // ingest-monitoring anomaly flags: per-type daily event counts
    // scored by |n − median| > 3·MAD — medians at the .5 binary fraction
    // over integer counts interpolate IEEE-exactly on both engines, so
    // even the float comparisons are deterministic. Two tiny keyed
    // aggregates + broadcast joins back onto the day grain; at 100 TB
    // the moving rows are (type, day) pairs, never events
    "agg_daily_anomaly" -> ((s, dir) => {
      val d = table(s, dir, "events")
        .select(col("event_type"), expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
      val med = d.groupBy(col("event_type")).agg(expr("percentile(n, 0.5)").as("med"))
      val dev = d.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("n") - col("med")))
      val mad = dev.groupBy(col("event_type")).agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .select(col("event_type"), col("day"), col("n"), col("med"), col("mad"),
          (col("dev") > col("mad") * 3).as("is_anomaly"))
    }),
    // TPC-H Q21 SHAPE (multi-supplier blame assignment): late lines on
    // finished multi-supplier orders where NO other supplier was also
    // late — one correlated EXISTS and one correlated NOT EXISTS, both
    // ALSO correlated on the outer join's orders row. The Spark side is
    // real SQL so CATALYST does the decorrelation (EXISTS → left-semi,
    // NOT EXISTS → left-anti on the order key) — the declarative form a
    // reference user would actually write
    "agg_q21_blame" -> ((s, dir) => {
      table(s, dir, "supplier").createOrReplaceTempView("supplier")
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        |SELECT sp.s_suppkey, sp.s_name, count(*) AS numwait
        |FROM supplier sp
        |JOIN lineitem l1 ON sp.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL '60' DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND CAST(l3.l_shipdate AS DATE) >
        |                        CAST(o.o_orderdate AS DATE) + INTERVAL '60' DAY)
        |GROUP BY sp.s_suppkey, sp.s_name""".stripMargin)
    }),
    // TPC-H Q4 SHAPE (priority ordering health): orders counted per
    // priority when at least one line shipped > 30 days after the order
    // date — correlated EXISTS again correlated on the OUTER's date
    // column, decorrelated by Catalyst to a left-semi on the order key
    "agg_q4_priority" -> ((s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders")
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        |SELECT o.o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND CAST(l.l_shipdate AS DATE) >
        |                    CAST(o.o_orderdate AS DATE) + INTERVAL '30' DAY)
        |GROUP BY o.o_orderpriority""".stripMargin)
    }),
    // TPC-H Q14 SHAPE (promo revenue share): conditional aggregation —
    // one decimal-exact sum gated by the part-type predicate over the
    // same single join pass, the ratio one IEEE division at the end
    // TPC-H Q15 SHAPE (top supplier): per-supplier revenue over one
    // quarter, keep the max — the equality compare runs on the EXACT
    // decimal sums (a double-equality would be engine-dependent)
    "agg_q15_top_supplier" -> ((s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
      val r = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey")).agg(sum(rev).as("total_rev"))
      val m = r.agg(max(col("total_rev")).as("mx"))
      r.join(broadcast(m), col("total_rev") === col("mx"))
        .join(table(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_revenue"))
    }),
    // TPC-H Q8 SHAPE (national market share): NATION_7's share of
    // ASIA-customer revenue per ship year — two decimal sums over one
    // 6-way join pass, one IEEE division at the very end
    "agg_q8_market_share" -> ((s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
      val zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 2))
      table(s, dir, "lineitem")
        .join(table(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(table(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("sn_key") === col("s_nationkey"))
        .join(table(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(table(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(table(s, dir, "nation")
          .join(table(s, dir, "region"), col("r_regionkey") === col("n_regionkey"))
          .filter(col("r_name") === "ASIA")
          .select(col("n_nationkey").as("cn_key"))),
          col("cn_key") === col("c_nationkey"))
        .groupBy(year(col("l_shipdate")).as("l_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_7", rev).otherwise(zero))
            .cast("double").as("nation_revenue"),
          sum(rev).cast("double").as("total_revenue"))
        .select(col("l_year"), col("nation_revenue"), col("total_revenue"),
          round(col("nation_revenue") / col("total_revenue"), 4).as("mkt_share"))
    }),
    // TPC-H Q6 SHAPE (forecast revenue change): pure scan-side range
    // predicates — every filter must reach the parquet scan; one
    // decimal-exact product sum, no join at all
    "agg_q6_forecast" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          col("l_discount").cast(DecimalType(18, 2)))
          .cast("double").as("revenue"))),
    // TPC-H Q7 SHAPE (volume shipping): the 6-way join — lineitem →
    // supplier → nation AND → orders → customer → nation — grouped by
    // (supplier nation, customer nation, ship year); nation joins
    // broadcast, the fact table streams once
    "agg_q7_volume" -> ((s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(table(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(table(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("sn_key") === col("s_nationkey"))
        .join(table(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(table(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(table(s, dir, "nation")
          .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))),
          col("cn_key") === col("c_nationkey"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(rev).cast("double").as("revenue"))
    }),
    // TPC-H Q18 SHAPE (large-volume customers): per-order quantity sums
    // (exact — quantities are integral doubles) filtered above 250,
    // joined back to the order and buyer
    "agg_q18_top_buyers" -> ((s, dir) => {
      val big = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 250)
      big.join(table(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(table(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_totalprice"),
          col("total_qty"))
    }),
    // TPC-H Q13 SHAPE (customer order-count distribution): LEFT join so
    // zero-order customers land in the 0 bucket — the shape a plain
    // inner-join histogram silently gets wrong
    "agg_order_count_dist" -> ((s, dir) =>
      table(s, dir, "customer")
        .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))),
    "agg_q14_promo_share" -> ((s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
      table(s, dir, "lineitem")
        .join(table(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type").startsWith("PROMO"), rev)
            .otherwise(lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 2))))
            .cast("double").as("promo_revenue"),
          sum(rev).cast("double").as("total_revenue"))
        .select(col("promo_revenue"), col("total_revenue"),
          (col("promo_revenue") / col("total_revenue")).as("promo_share"))
    }),
    // TPC-H Q9 SHAPE (product profit): per (supplier nation, ship year)
    // profit over a name-LIKE-filtered part slice. The schema has no
    // partsupp, so line cost is the part's retail price scaled by
    // quantity at a fixed margin factor — decimal-exact throughout, one
    // IEEE cast at the end. The LIKE filter prunes the part dimension
    // BEFORE the fact join (broadcast after pruning), and nation
    // broadcasts; lineitem streams once
    "agg_q9_profit" -> ((s, dir) => {
      val d2 = DecimalType(18, 2)
      val rev = col("l_extendedprice").cast(d2) *
        (lit(java.math.BigDecimal.ONE).cast(d2) - col("l_discount").cast(d2))
      val cost = col("p_retailprice").cast(d2) * col("l_quantity").cast(d2) *
        lit(new java.math.BigDecimal("0.10")).cast(d2)
      table(s, dir, "lineitem")
        .join(broadcast(table(s, dir, "part")
          .filter(col("p_name").contains("red"))
          .select(col("p_partkey"), col("p_retailprice"))),
          col("p_partkey") === col("l_partkey"))
        .join(table(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(table(s, dir, "nation")), col("n_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("l_shipdate")).as("o_year"))
        .agg(sum(rev.cast(DecimalType(28, 6)) - cost.cast(DecimalType(28, 6)))
          .cast("double").as("sum_profit"))
    }),
    // TPC-H Q19 SHAPE (disjunctive cross-table predicate): revenue over
    // an OR of brand/size/quantity conjunctions spanning BOTH join
    // sides. The per-table residue of the disjunction (brand ∈ {…},
    // size ≤ 15, quantity ≤ 30) is what Catalyst can push into each
    // scan; the cross-table conjuncts evaluate post-join — the shape
    // that punishes engines which can only push conjunctive filters
    "agg_q19_disjunctive" -> ((s, dir) => {
      val d2 = DecimalType(18, 2)
      val rev = col("l_extendedprice").cast(d2) *
        (lit(java.math.BigDecimal.ONE).cast(d2) - col("l_discount").cast(d2))
      table(s, dir, "lineitem")
        .join(broadcast(table(s, dir, "part")), col("p_partkey") === col("l_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(count(lit(1)).as("n_lines"), sum(rev).cast("double").as("revenue"))
    }),
    // TPC-H Q11 SHAPE (important stock): per-part revenue groups gated
    // by a GLOBAL-total scalar subquery — the threshold gates GROUPS
    // (HAVING vs an uncorrelated aggregate), unlike Q22's row gate. The
    // total is a one-row broadcast nested-loop join; the compare stays
    // in exact decimals (rev·10⁴ > total — never a float fraction), so
    // the boundary groups are pinned cross-engine
    "agg_q11_share" -> ((s, dir) => {
      val d2 = DecimalType(18, 2)
      val rev = col("l_extendedprice").cast(d2) *
        (lit(java.math.BigDecimal.ONE).cast(d2) - col("l_discount").cast(d2))
      val li = table(s, dir, "lineitem")
      val per = li.groupBy(col("l_partkey")).agg(sum(rev).as("__v"))
      val total = li.agg(sum(rev).as("__t"))
      per.crossJoin(broadcast(total))
        .filter(col("__v") * 10000 > col("__t"))
        .select(col("l_partkey"), col("__v").cast("double").as("value"))
    }),
    // TPC-H Q12 SHAPE (shipmode priority): one fact pass, per-group
    // conditional two-way counts (CASE inside SUM — the pivot-in-an-
    // aggregate idiom); the date range prunes at the lineitem scan and
    // orders joins once on the key
    "agg_q12_modes" -> ((s, dir) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
    }),
    // TPC-H Q20 SHAPE (excess inventory): the nested semi-join chain —
    // suppliers IN (grouped-HAVING subquery over lineitem ⋈ filtered
    // part). The name filter prunes part BEFORE the fact join, the
    // HAVING group keys on (supplier, part) so the aggregate is
    // map-side combinable, and the outer membership is a LEFT SEMI
    // (never a dedup-then-inner-join); nation broadcasts
    "agg_q20_excess" -> ((s, dir) => {
      val excess = table(s, dir, "lineitem")
        .join(broadcast(table(s, dir, "part").filter(col("p_name").contains("red"))
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("__q"))
        .filter(col("__q") > 90)
        .select(col("l_suppkey"))
      table(s, dir, "supplier")
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
    }),
    // TPC-H Q22 SHAPE (idle rich customers): above-average balance with
    // no URGENT orders — an uncorrelated scalar aggregate subquery (one-row
    // broadcast) gating the scan plus a NOT EXISTS anti-join. The
    // average is an exact decimal sum with ONE IEEE division, so the
    // float threshold compare is deterministic cross-engine
    "agg_q22_idle_rich" -> ((s, dir) => {
      table(s, dir, "customer").createOrReplaceTempView("customer")
      table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        |SELECT c.c_custkey, c.c_acctbal
        |FROM customer c
        |WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |                            / COUNT(*)
        |                     FROM customer c2 WHERE c2.c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')""".stripMargin)
    }),
    // TPC-H Q2 SHAPE: rows achieving a correlated scalar-subquery
    // minimum (cheapest line per part, ties kept) — Catalyst rewrites
    // the scalar subquery to an aggregate + join; equality on the
    // UNMODIFIED double is exact (same parquet value both engines)
    "agg_q2_min_price" -> ((s, dir) => {
      table(s, dir, "part").createOrReplaceTempView("part")
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        |SELECT p.p_partkey, p.p_name, l.l_suppkey, l.l_extendedprice
        |FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        |WHERE l.l_extendedprice = (SELECT min(l2.l_extendedprice)
        |                           FROM lineitem l2
        |                           WHERE l2.l_partkey = p.p_partkey)""".stripMargin)
    }),
    // the warehouse layout path end-to-end: both sides bucketed on the
    // join key into scratch tables, then joined-aggregated THROUGH the
    // bucketed scans (zero-exchange join — the WarehouseSpec invariant).
    // Layout is invisible in the result, so the oracle is the plain join
    // — same contract as join_salted_agg
    "warehouse_bucketed_join" -> ((s, dir) => {
      val tmp = scratch(dir, "wh-q")
      graft.sources.Warehouse.writeBucketed(
        table(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus")),
        "wh_q_orders", "o_orderkey", 8, Some(s"$tmp/orders"))
      graft.sources.Warehouse.writeBucketed(
        table(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
        "wh_q_lineitem", "l_orderkey", 8, Some(s"$tmp/lineitem"))
      s.table("wh_q_lineitem")
        .join(s.table("wh_q_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    }),
    // the other warehouse layout path: documents written PARTITIONED by
    // lang into scratch, then read back through a partition-pruned scan
    // (the lang predicate resolves against directories at planning time
    // — WarehouseSpec pins the PartitionFilters plan line). Layout is
    // invisible in the result, so the oracle reads the ORIGINAL parquet
    // — proving the directory-encoded round trip preserves every value
    "warehouse_partition_prune" -> ((s, dir) => {
      val tmp = scratch(dir, "wh-p")
      graft.sources.Warehouse.writePartitioned(
        table(s, dir, "documents"), s"$tmp/docs", Seq("lang"))
      s.read.parquet(s"$tmp/docs").filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    }),
    // CDC MERGE (upsert): a deterministic changelog — updates on keys
    // ≡3 (mod 10), deletes on ≡7, inserts on ≡5 under shifted keys —
    // applied to the orders snapshot through Warehouse.applyChangelog
    // (ONE anti join + a union; the oracle re-derives the merged state
    // set-wise, so the whole MERGE semantics hash-checks: replaced
    // rows, removed keys, added keys, untouched remainder)
    "warehouse_merge_upsert" -> ((s, dir) => {
      val base = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val upd = base.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), lit("U").as("op"),
          lit("R").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0d).as("o_totalprice"))
      val del = base.filter(col("o_orderkey") % 10 === 7)
        .select(col("o_orderkey"), lit("D").as("op"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"))
      val ins = base.filter(col("o_orderkey") % 10 === 5)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("I").as("op"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.Warehouse.applyChangelog(
        base, upd.unionByName(del).unionByName(ins), "o_orderkey")
    }),
    // CDC EXTRACTION (the inverse of merge_upsert): two snapshots in,
    // minimal I/U/D changelog out via one full-outer key join with
    // null-safe column compares; the after-snapshot mutation recipe is
    // the same deterministic one merge_upsert applies, so the derived
    // changelog is exactly the one that round-trips
    "warehouse_snapshot_diff" -> ((s, dir) => {
      val base = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mod = col("o_orderkey") % 10
      val after = base.filter(mod =!= 7)
        .select(col("o_orderkey"),
          when(mod === 3, "R").otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(mod === 3, col("o_totalprice") + 1000.0d)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(base.filter(mod === 5)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice")))
      graft.sources.Warehouse.snapshotDiff(base, after, "o_orderkey")
    }),
    // incremental materialized-view maintenance: the pre-cutoff orders
    // aggregate is the stored view STATE, the post-cutoff rows are the
    // refresh delta — merge(agg(base), agg(delta)) must equal the
    // from-scratch aggregate, which is exactly what the oracle computes
    // (counts/exact-decimal sums add, mins/maxes fold; base never
    // rescanned)
    "warehouse_incr_agg" -> ((s, dir) => {
      val cutoff = lit(IncrAggCutoff).cast("timestamp")
      val orders = table(s, dir, "orders")
      val base = graft.sources.Warehouse.aggState(
        orders.filter(col("o_orderdate") < cutoff), Seq("o_custkey"), "o_totalprice")
      val delta = graft.sources.Warehouse.aggState(
        orders.filter(col("o_orderdate") >= cutoff), Seq("o_custkey"), "o_totalprice")
      graft.sources.Warehouse.mergeAggStates(Seq(base, delta),
          Seq("o_custkey"), "o_totalprice")
        .select(col("o_custkey"), col("cnt"),
          col("sum_o_totalprice").cast("double").as("sum_total"),
          col("min_o_totalprice").as("min_total"),
          col("max_o_totalprice").as("max_total"))
    }),
    // SCD TYPE-2 dimension history from the event log: per user, each
    // RUN of equal event_type states becomes one versioned interval
    // (valid_from/valid_to/version/is_current) — consecutive duplicates
    // extend the open version, only genuine changes cut a new row. One
    // key exchange, two windows, no joins (the audited shape)
    "warehouse_scd2" -> ((s, dir) => {
      val log = table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr(TsUsSql).as("t"), col("event_id"))
      graft.sources.Warehouse.scd2(log, "user_id", "event_type",
        Seq("t", "event_id"))
    }),
    // the JSONL ingest path end-to-end: documents serialized to JSON
    // lines in scratch with three syntactically-broken lines injected,
    // read back through the explicit-schema PERMISSIVE reader, and
    // split clean/quarantine. The oracle aggregates the ORIGINAL
    // parquet plus the literal corrupt count — proving the JSON round
    // trip preserves every value and malformed lines are QUARANTINED
    // (counted), never silently dropped
    "ingest_jsonl_quarantine" -> ((s, dir) => {
      import s.implicits._
      val tmp = scratch(dir, "jsonl")
      val good = table(s, dir, "documents")
        .select(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))).as("value"))
      val bad = Seq("{oops", "not json at all", "[}").toDF("value")
      good.unionAll(bad).write.mode("overwrite").text(s"$tmp/corpus")
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("lang", "string").add("n_chars", "long")
      // cache the PARSED frame: Spark refuses a raw-file query whose
      // pruned projection is only the corrupt-record column (the
      // quarantine count below is exactly that shape); the cached scan
      // carries every column, so the split queries run against it
      val read = graft.sources.TextIngest.readJsonl(s, s"$tmp/corpus", schema).cache()
      read.count()
      val (clean, quarantined) = graft.sources.TextIngest.withQuarantine(read)
      clean.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"))
        .unionAll(quarantined.agg(count(lit(1)).as("n"))
          .select(lit("_corrupt").as("lang"), col("n").as("n_docs"),
            lit(null).cast("long").as("sum_chars"), lit(null).cast("long").as("min_doc")))
    }),
    // parquet SCHEMA EVOLUTION: two ingest batches written with
    // different schemas (v2 adds a column), read back as ONE table via
    // mergeSchema — v1 rows surface the new column as null, and the
    // aggregate proves the union is lossless; the add-a-column migration
    // every long-lived 100 TB table goes through
    // STREAMING, oracle-checked: the watermarked daily window aggregation
    // driven through the REAL micro-batch machinery (file source in
    // event-time order, maxFilesPerTrigger 1, append mode, foreachBatch
    // parquet sink) — DuckDB can't see micro-batches, but it CAN check
    // what they leave behind: the union of per-batch finalized-window
    // emissions must equal the one-shot batch aggregate
    "streaming_window" -> ((s, dir) =>
      graft.streaming.StreamOracle.windowedDaily(s, dir, scratch(dir, "streamwin"))),
    // CUSTOM STREAMING STATE, oracle-checked: per-user event-time
    // sessionization (flatMapGroupsWithState with gap splits + event-time
    // timeouts) through the same real multi-batch source — the union of
    // gap-closed and timeout-flushed sessions must equal DuckDB's batch
    // gaps-and-islands derivation
    "streaming_sessionize" -> ((s, dir) =>
      graft.streaming.StreamOracle.sessionized(s, dir, scratch(dir, "streamsess"))),
    // EXACTLY-ONCE ACROSS A REAL QUERY RESTART, oracle-checked: query 1
    // sessionizes two chunks and STOPS with open sessions parked in the
    // state store; a brand-new query on the same checkpoint ingests the
    // rest. Sessions straddling the restart boundary must come back as
    // ONE session (state-store + watermark recovery, continued batch
    // ids) — the union of both lifetimes' emissions ≡ the same one-shot
    // gaps-and-islands oracle as streaming_sessionize
    "streaming_restart" -> ((s, dir) =>
      graft.streaming.StreamOracle.sessionizedRestart(s, dir, scratch(dir, "streamrst"))),
    // the swept VersionedSnapshot across a restart: query 2's first
    // fold resolves the __latest pointer to query 1's final committed
    // version (strict-below pin covers a replayed boundary batch) —
    // final estimate ≡ the one-shot batch sketch bit-for-bit
    "streaming_restart_kmv" -> ((s, dir) =>
      graft.streaming.StreamOracle.kmvStreamedRestart(s, dir, scratch(dir, "streamrstkmv"))),
    // CRASH-BEFORE-COMMIT under the oracle's own hash check: between
    // the two lifetimes the checkpoint's LAST COMMIT FILE is deleted
    // (offsets without commit — the exact on-disk shape a crash between
    // sink write and commit leaves), so query 2's first act is to
    // RE-EXECUTE the boundary batch; the snapshot's strict-below read
    // pins its input to pre-batch state and the versioned overwrite
    // makes the re-emission idempotent — final estimate still ≡ the
    // one-shot batch sketch
    "streaming_restart_replay" -> ((s, dir) =>
      graft.streaming.StreamOracle.kmvStreamedRestart(s, dir,
        scratch(dir, "streamrstreplay"), forceBoundaryReplay = true)),
    // BucketedState across a restart: query 2's first merge reads slot
    // assignment and prior state through query 1's final manifest —
    // final state ≡ the one-shot last-writer-wins derivation
    "streaming_restart_cdc" -> ((s, dir) =>
      graft.streaming.StreamOracle.cdcUpsertRestart(s, dir, scratch(dir, "streamrstcdc"))),
    // the split-capable BAND INDEX across a restart (the fourth state
    // shape): post-restart documents must be rejected by bands claimed
    // BEFORE the restart — the admission joins resolve through query
    // 1's final manifest; same one-shot oracle as streaming_neardup_admit
    "streaming_restart_neardup" -> ((s, dir) =>
      graft.streaming.StreamOracle.nearDupAdmissionRestart(s, dir, scratch(dir, "streamrstnd"))),
    // STREAMING CDC UPSERT, oracle-checked: the event stream as a keyed
    // changelog applied batch-by-batch via foreachBatch MERGE into
    // versioned state parquet — the final state version must equal the
    // one-shot last-writer-wins batch derivation (batch boundaries
    // invisible); the r10 CDC-merge parity spec promoted to the oracle
    "streaming_cdc_upsert" -> ((s, dir) =>
      graft.streaming.StreamOracle.cdcUpsert(s, dir, scratch(dir, "streamcdc"))),
    // STREAMING NEAR-DUP ADMISSION: the ingest-time LSH gate — per batch,
    // band signatures via the SAME Dedup generators, admission = no band
    // claimed by the persistent index or a smaller-id same-batch doc,
    // then the index advances; the oracle's one-shot global derivation
    // proves batch boundaries invisible
    "streaming_neardup_admit" -> ((s, dir) =>
      graft.streaming.StreamOracle.nearDupAdmission(s, dir, scratch(dir, "streamlsh"))),
    // RETENTION HORIZON on the band index: entries whose newest claim
    // is older than the horizon stop blocking (logical filter on the
    // slots each batch already reads) and a full-index TTL rewrite
    // reclaims them (BucketedState.retain, run after the stream) — over
    // the planted-duplicate corpus the re-sends land 2 chunks after
    // their originals and must RE-ADMIT, the delta vs the grow-only
    // index; the oracle derives the windowed verdicts in one shot
    "streaming_neardup_retire" -> ((s, dir) =>
      graft.streaming.StreamOracle.nearDupAdmissionRetained(s, dir, scratch(dir, "streamlshret"))),
    // retention state across a REAL QUERY RESTART: the last_batch
    // recency stamps restored from query 1's final manifest must keep
    // driving aliveness in query 2 (recent claims still block, expired
    // ones re-admit) — the redeploy path of a production TTL'd index;
    // same one-shot oracle as streaming_neardup_retire
    "streaming_restart_retire" -> ((s, dir) =>
      graft.streaming.StreamOracle.nearDupAdmissionRetainedRestart(s, dir,
        scratch(dir, "streamrstret"))),
    // STREAMING EXACT DEDUP (dropDuplicatesWithinWatermark), oracle-
    // checked with a stream-spanning watermark: nothing evicts, so the
    // admitted set must equal DuckDB's global first-arrival dedup —
    // exactly one admitted row per digest, from the earliest chunk
    // containing it (the tight-watermark eviction horizon is spec-pinned
    // in StreamsSpec instead — engine-internal, not batch-expressible)
    "streaming_dedup" -> ((s, dir) =>
      graft.streaming.StreamOracle.dedupAdmitted(s, dir, scratch(dir, "streamdedup"))),
    // STREAM-STATIC ENRICHMENT with per-batch dimension refresh: each
    // micro-batch broadcast-joins the dimension snapshot keyed by its
    // OWN batch id (versioned snapshots = retry-idempotent; a static
    // join would pin the query-start snapshot for the whole stream) —
    // batch k's events carry version-k values, recomputable from the
    // event's own timestamp, so one DuckDB join states the whole run
    "streaming_enrich" -> ((s, dir) =>
      graft.streaming.StreamOracle.enriched(s, dir, scratch(dir, "streamenrich"))),
    // INCREMENTAL CONNECTED COMPONENTS: edges arrive as order-keyed
    // micro-batches; per batch the delta graph is CONTRACTED to its
    // current roots (label forest resolution) and only the delta runs
    // the star alternation — state advances O(touched), never O(graph).
    // The final resolved labeling must equal the one-shot batch
    // components oracle (min reachable id), proving batch boundaries
    // invisible.
    "streaming_components" -> ((s, dir) =>
      graft.streaming.StreamOracle.incrementalComponents(s, dir, scratch(dir, "streamcc"))),
    // STREAMING MERGEABLE SKETCH: KMV k-minima folded across batches —
    // an associative/commutative fold, so the streamed state must land
    // EXACTLY on the one-shot batch sketch (same hash, k, kth, estimate)
    "streaming_kmv_distinct" -> ((s, dir) =>
      graft.streaming.StreamOracle.kmvStreamed(s, dir, scratch(dir, "streamkmv"))),
    // STREAMING SAMPLED QUANTILE: per-batch Bernoulli-gate samples
    // (gate = pure function of row identity, single-sourced) accumulate
    // append-only; their union IS the one-shot sample, so the final
    // exact percentile must equal the batch derivation
    "streaming_quantile" -> ((s, dir) =>
      graft.streaming.StreamOracle.quantileStreamed(s, dir,
        scratch(dir, "streamquant"), q = 0.5, rate = QuantileSampleRate)),
    // STREAMING COUNT-MIN: per-batch counter grids fold by ADDITION
    // (bounded state — CmsDepth × CmsWidth, independent of corpus size);
    // heavy hitters probed from the folded grid ≡ the one-shot sketch
    "streaming_cms_heavy" -> ((s, dir) =>
      graft.streaming.StreamOracle.cmsStreamed(s, dir, scratch(dir, "streamcms"))),
    // STREAM-STREAM INTERVAL JOIN, oracle-checked: same-user event
    // attribution within (0, 1h] across two watermarked sources — the
    // union of per-batch inner-join emissions must equal DuckDB's
    // one-shot batch self-join (bounded buffer state, no flush needed)
    "streaming_interval_join" -> ((s, dir) =>
      graft.streaming.StreamOracle.intervalJoined(s, dir, scratch(dir, "streamij"))),
    // LEFT OUTER stream-stream interval join: matched rows emit on
    // arrival like the inner join; a left event with NO same-user
    // follow-up inside the gap emits NULL-padded once the watermark
    // proves no future match can arrive — the union of emissions must
    // equal DuckDB's one-shot batch LEFT JOIN (outer rows exactly once)
    "streaming_interval_outer" -> ((s, dir) =>
      graft.streaming.StreamOracle.intervalJoinedOuter(s, dir, scratch(dir, "streamijo"))),
    // FULL OUTER stream-stream interval join: both absence directions
    // emit (no-follow-up lefts pad right-null, session-head rights pad
    // left-null, each exactly once on watermark proof) ≡ DuckDB's
    // one-shot batch FULL JOIN
    "streaming_interval_full" -> ((s, dir) =>
      graft.streaming.StreamOracle.intervalJoinedFull(s, dir, scratch(dir, "streamijf"))),
    // LEFT SEMI stream-stream interval join: each event emitted once iff
    // a same-user event follows within the gap (the streaming EXISTS;
    // first match emits, engine-marked state) ≡ DuckDB's one-shot EXISTS
    "streaming_interval_semi" -> ((s, dir) =>
      graft.streaming.StreamOracle.intervalJoinedSemi(s, dir, scratch(dir, "streamijs"))),
    // STREAMING PER-KEY QUOTA ADMISSION, oracle-checked: lifetime cap of
    // QuotaPerUser events per user via mapGroupsWithState (one long of
    // state per user), admitted in event-time order across real
    // micro-batches — must equal DuckDB's one-shot row_number cap
    "streaming_quota" -> ((s, dir) =>
      graft.streaming.StreamOracle.quotaAdmitted(s, dir, scratch(dir, "streamquota"))),
    // STREAMING WINDOWED TOP-K (Misra-Gries bounded state),
    // oracle-checked via the sketch_cms_heavy pattern: every TRUE-heavy
    // (window, item) must be present in the sketch's timeout-flushed
    // emission with true_count inside [min_count, max_count] and no
    // events lost — the deterministic guarantees both engines can state
    "streaming_topk" -> ((s, dir) =>
      graft.streaming.StreamOracle.topKChecked(s, dir, scratch(dir, "streamtopk"))),
    "ingest_schema_evolution" -> ((s, dir) => {
      val tmp = scratch(dir, "evolve")
      val orders = table(s, dir, "orders")
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$tmp/v1")
      orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/v2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_totalprice")).as("n_with_price"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
            .as("sum_price"))
    }),
    // seasonal-naive forecasting baseline (the eval every fancier
    // forecaster must beat): forecast(day) = total(day-7), scored as
    // exact-DECIMAL absolute errors with one double division at the end
    "ts_seasonal_naive" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .select(col("event_type"),
          expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"),
          col("value").cast(DecimalType(18, 2)).as("v"))
        .groupBy(col("event_type"), col("day")).agg(sum(col("v")).as("t"))
      val prior = daily.select(col("event_type"), (col("day") + 7).as("day"),
        col("t").as("prior"))
      daily.join(prior, Seq("event_type", "day"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_scored"),
          round(sum(abs(col("t") - col("prior"))).cast("double") /
            count(lit(1)), 4).as("mae"))
    }),
    // CUSUM level-shift changepoint per event type over the day-grain
    // series: the x maximizing |n·S_k − k·T| (Page '54, scaled to stay
    // integral) — ONE key-partitioned window chain; the argmin groupBy
    // reuses the window's hash partitioning, never a global sort
    "ts_cusum_changepoint" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .select(col("event_type"), expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
      graft.operators.Series.cusumChangepoint(daily)
    }),
    // LTTB display downsampling (fixed-anchor parallel variant) of the
    // global daily event count: 12 interior buckets + both endpoints;
    // triangle areas ranked in exact integer arithmetic (no division)
    "ts_lttb_downsample" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .select(expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("y"))
      graft.operators.Series.lttbDownsample(daily)
    }),
    // lag-1 / lag-7 autocorrelation of the daily event count — the
    // seasonality detector next to the CUSUM row; integer moments from
    // a lag-shifted self-join, one fixed IEEE expression per lag
    "ts_autocorr" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .select(expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("y"))
      graft.operators.Series.autocorr(daily)
    }),
    // k-anonymity census over (nation, segment, acctbal-bucket) — the
    // privacy gate before demographic-ish columns enter a training
    // mix: class sizes from ONE keyed groupBy, census from a 1-row
    // reduce over metadata
    // (balance bucket shifts to non-negative cents first: Spark `div`
    // truncates while the oracle's `//` floors — they agree only ≥ 0)
    "profile_k_anonymity" -> ((s, dir) =>
      graft.pipeline.Profile.kAnonymity(table(s, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment"),
          expr("(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 1000000) div 100000")
            .as("bal_bucket")))),
    // l-diversity over the same quasi-identifiers with the market
    // segment as the SENSITIVE attribute — the companion gate: a
    // k-anonymous class still leaks if every member shares the value
    "profile_l_diversity" -> ((s, dir) =>
      graft.pipeline.Profile.lDiversity(table(s, dir, "customer"),
        Seq(col("c_nationkey"),
          expr("(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 1000000) div 100000")),
        col("c_mktsegment"))),
    // Benford first-digit conformance of order totals — the fabricated-
    // data / unit-mixup gate; digit extracted ARITHMETICALLY (integer
    // ladder over exact cents, never number formatting), expectations
    // inlined as literals, fixed-order chi-square
    "profile_benford" -> ((s, dir) =>
      graft.pipeline.Profile.benford(table(s, dir, "orders"), col("o_totalprice"))),
    // two-sample Kolmogorov–Smirnov drift between src0 and src1 doc
    // lengths — the bucket-free sibling of profile_drift_chi2;
    // D·n_a·n_b stays an exact integer end to end
    "profile_ks_drift" -> ((s, dir) =>
      graft.pipeline.Profile.ksDrift(table(s, dir, "documents"),
        col("n_chars"), col("source") === "src0", col("source") === "src1")),
    // weekly seasonal profile of the daily event count: per day-of-week
    // index, the mean's ratio to the overall mean as ONE double division
    // of two exact integer products (dow_total·n_all / n_dow·total) —
    // the libm-free seasonal-decomposition leg; totals ride a 1-row
    // broadcast (scalar-subquery shape)
    "ts_seasonal_decompose" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .select(expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("y"))
      val totals = broadcast(daily.agg(sum(col("y")).as("__total"),
        count(lit(1)).as("__n_all")))
      daily.groupBy((col("day") % 7).as("dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("y")).as("dow_total"))
        .crossJoin(totals)
        .select(col("dow"), col("n_days"), col("dow_total"),
          round((col("dow_total") * col("__n_all")).cast("double") /
            (col("n_days") * col("__total")).cast("double"), 6).as("seasonal_ratio"))
    }),
    // lineitem ⋈ orders with the probe side salted 8 ways — the skew
    // tool; the salt is invisible in the result, so the oracle is the
    // PLAIN join (multiset equality is exactly the operator's contract)
    "join_salted_agg" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_quantity"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
      graft.operators.SaltedJoin.inner(li, o, Seq("okey"), saltFactor = 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    }),
    // batch sessionization: per-user sessions split on >30 min gaps
    "agg_sessionize" -> ((s, dir) =>
      graft.operators.Sessionize.byGap(
        table(s, dir, "events").withColumn("ts", expr(TsUsSql)),
        "user_id", "ts", SessionGapUs, "value")),
    "agg_latest_event_per_user" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id"))
      table(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    }),

    // ---- LLM-data-pipeline operators (graft.pipeline) ----
    "dedup_exact" -> ((s, dir) =>
      graft.pipeline.Dedup.exact(table(s, dir, "documents"), "doc_id", "text")),
    "dedup_exact_hash" -> ((s, dir) =>
      graft.pipeline.Dedup.exactByRowHash(table(s, dir, "documents"), "doc_id",
        "documents", Seq("lang", "source", "text"))),
    "dedup_minhash_sig" -> ((s, dir) =>
      graft.pipeline.Dedup.bandSignatures(table(s, dir, "documents"), "doc_id", "text")),
    "dedup_minhash_pairs" -> ((s, dir) =>
      graft.pipeline.Dedup.nearDupPairs(table(s, dir, "documents"), "doc_id", "text")),
    "dedup_jaccard_pairs" -> ((s, dir) =>
      graft.pipeline.Dedup.jaccardPairs(table(s, dir, "documents"), "doc_id", "text")),
    // the CAPPED path under adversarial skew: a corpus-wide boilerplate
    // block is appended to every doc in-plan (every boiler shingle hits
    // document frequency = corpus size, so uncapped candidate generation
    // degrades to all-pairs); maxShingleFreq drops those postings and
    // the bench row prices the guard instead of asserting it
    "dedup_skew_capped" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val synth = docs.select(col("doc_id"),
        concat(col("text"), lit(" " + graft.pipeline.Dedup.SkewBoiler)).as("text"))
      graft.pipeline.Dedup.jaccardPairs(synth, "doc_id", "text",
        threshold = 0.2, maxShingleFreq = Some(graft.pipeline.Dedup.SkewCapFreq))
    }),
    // asymmetric containment (partial-copy detection Jaccard misses)
    "dedup_containment_pairs" -> ((s, dir) =>
      graft.pipeline.Dedup.containmentPairs(table(s, dir, "documents"), "doc_id", "text")),
    "dedup_clusters" -> ((s, dir) =>
      graft.pipeline.Dedup.nearDupClusters(table(s, dir, "documents"), "doc_id", "text")),
    // keeper selection per cluster: highest quality wins, ties by id
    "dedup_canonical" -> ((s, dir) =>
      graft.pipeline.Dedup.canonicalKeepers(table(s, dir, "documents"), "doc_id", "text")),
    // PII redaction over the fixed fixture (a pure Java-vs-RE2 regex
    // parity check — the corpus itself carries no PII)
    "text_redact" -> ((s, dir) => {
      import s.implicits._
      graft.pipeline.TextPipeline.redact(
        graft.pipeline.TextPipeline.RedactionFixture.toDF("doc_id", "text"), "doc_id", "text")
    }),
    "split_assign" -> ((s, dir) =>
      graft.pipeline.Splits.hashSplit(table(s, dir, "documents"), "doc_id")),
    // k-fold CV assignment: salted-hash fold, shuffle-free and stable
    // under incremental ingest; pass a cluster id for group-safe folds
    "split_kfold" -> ((s, dir) =>
      graft.pipeline.Splits.kfold(table(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("fold"))),
    // temporal split with an embargo gap (purged split): train before
    // the integer-derived cutoff, test after cutoff+embargo, the window
    // between DROPPED — per-split counts and exact time bounds audit
    // the gap discipline; span bounds are a 1-row broadcast
    "split_time_embargo" -> ((s, dir) =>
      graft.pipeline.Splits.timeEmbargoSplit(table(s, dir, "events"),
        expr(TsUsSql), embargoUs = 3L * RangeJoinDayUs)),
    "dedup_simhash" -> ((s, dir) =>
      graft.pipeline.TextPipeline.simhash(table(s, dir, "documents"), "doc_id", "text")),
    "dedup_simhash_pairs" -> ((s, dir) =>
      graft.pipeline.Dedup.simhashPairs(table(s, dir, "documents"), "doc_id", "text")),
    "text_token_stats" -> ((s, dir) =>
      graft.pipeline.TextPipeline.tokenStats(table(s, dir, "documents"), "doc_id", "text")),
    // the same statistics under the unicode-word (BPE-style pre-token)
    // tokenizer — punctuation splits, letter/digit runs stay whole
    "text_token_stats_unicode" -> ((s, dir) =>
      graft.pipeline.TextPipeline.tokenStats(table(s, dir, "documents"), "doc_id", "text",
        graft.pipeline.TextPipeline.Tokenizer.UnicodeWords)),
    "text_quality" -> ((s, dir) =>
      graft.pipeline.TextPipeline.quality(table(s, dir, "documents"), "doc_id", "text")),
    // lang-ID evaluation: the heuristic's confusion matrix against the
    // corpus's labeled lang column — the accuracy artifact that decides
    // whether the n-gram ID is good enough to gate on
    "text_langid_confusion" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      graft.pipeline.TextPipeline.langId(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang").as("labeled")), "doc_id")
        .groupBy(col("labeled"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
    }),
    // per-language tokenizer fertility (unicode-word tokens per
    // whitespace token) — the multilingual tokenizer-choice statistic
    "text_fertility" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      import graft.pipeline.TextPipeline.Tokenizer
      d.select(col("lang"),
          size(Tokenizer.Whitespace.of(col("text"))).cast("long").as("n_ws"),
          size(Tokenizer.UnicodeWords.of(col("text"))).cast("long").as("n_uni"))
        .groupBy(col("lang"))
        .agg(sum(col("n_ws")).as("ws_tokens"), sum(col("n_uni")).as("uni_tokens"))
        .select(col("lang"), col("ws_tokens"), col("uni_tokens"),
          round(col("uni_tokens").cast("double") / col("ws_tokens"), 4).as("fertility"))
    }),
    // code-switching detector: whole-doc argmax lang-ID hides a mixed
    // document; per-window votes (n_langs, major_frac) surface it —
    // window explode is narrow, everything else keys on doc_id
    "text_code_switch" -> ((s, dir) =>
      graft.pipeline.TextPipeline.codeSwitch(table(s, dir, "documents"), "doc_id", "text")),
    "text_langid" -> ((s, dir) =>
      graft.pipeline.TextPipeline.langId(table(s, dir, "documents"), "doc_id", "text")),
    // C4-rule cross-document segment dedup: every exact 10-word segment
    // occurring in >= 2 distinct documents is deleted from ALL of them
    // and the surviving text reassembled in order — the global
    // boilerplate eraser (vs dedup_dup_spans' pairwise evidence). The
    // oracle rebuilds every document's post-dedup text, so the rule's
    // full effect hash-checks, not just the counts
    "text_line_dedup" -> ((s, dir) =>
      graft.pipeline.TextPipeline.segmentDedup(
        table(s, dir, "documents"), "doc_id", "text")),
    "text_fingerprint" -> ((s, dir) =>
      graft.pipeline.TextPipeline.fingerprint(table(s, dir, "documents"), "doc_id", "text")),
    "text_repetition" -> ((s, dir) =>
      graft.pipeline.TextPipeline.repetition(table(s, dir, "documents"), "doc_id", "text")),
    "text_contamination" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      graft.pipeline.Dedup.contamination(
        d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0),
        "doc_id", "text")
    }),
    // second curation composition, through the round-9 operators: LM
    // quality gate (corpus-bigram mean transition probability ≥ the
    // median) → token-budgeted source mixture over the survivors — the
    // census, weight total, and budgets all derive from the GATED set,
    // verified as ONE oracle query
    "pipeline_curate_lm" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val lm = graft.pipeline.TextPipeline.lmScore(docs, "doc_id", "text")
        .filter(col("lm_score") >= LmScoreMin)
        .select(col("doc_id"), col("lm_score"))
      val kept = docs.join(lm, "doc_id")
      graft.pipeline.Sampling.mixTokenBudget(kept, "doc_id", "source", "text",
          MixWeights, MixDefaultWeight, MixBudget)
        .filter(col("admitted"))
        .join(lm, "doc_id")
        .select(col("doc_id"), col("source"), col("n_tokens"), col("lm_score"))
    }),
    // end-to-end curation: quality gate → near-dup cluster dedup (keep
    // each cluster's representative) → concat-and-chunk packing — the
    // composed training-data pipeline, verified as ONE oracle query
    "pipeline_curate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val good = graft.pipeline.TextPipeline.quality(docs, "doc_id", "text")
        .filter(col("score") >= CurateMinScore).select("doc_id")
      val reps = graft.pipeline.Dedup.nearDupClusters(docs, "doc_id", "text")
        .filter(col("doc_id") === col("cluster_id")).select("doc_id")
      val keep = docs.select(col("doc_id"), col("text"))
        .join(good, "doc_id").join(reps, "doc_id")
      graft.pipeline.Packing.pack(keep, "doc_id", "text")
    }),
    // cross-modal curation: quality gate AND the embedding-space
    // semantic-keeper rule (vec_id ↔ doc_id), packed — inner-joining
    // the embedding side restricts to the embedded slice by contract
    "pipeline_curate_semantic" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val good = graft.pipeline.TextPipeline.quality(docs, "doc_id", "text")
        .filter(col("score") >= CurateMinScore).select("doc_id")
      val sem = graft.pipeline.Ann.semanticDedup(table(s, dir, "embeddings"))
        .filter(col("keeper_id") === col("vec_id"))
        .select(col("vec_id").as("doc_id"))
      val keep = docs.select(col("doc_id"), col("text"))
        .join(good, "doc_id").join(sem, "doc_id")
      graft.pipeline.Packing.pack(keep, "doc_id", "text")
    }),
    "text_vocab" -> ((s, dir) =>
      graft.pipeline.TextPipeline.vocab(table(s, dir, "documents"), "doc_id", "text")),
    // corpus-bigram-LM quality score (CCNet-style perplexity filter,
    // fixed-point rational variant): mean transition probability per doc
    "text_lm_score" -> ((s, dir) =>
      graft.pipeline.TextPipeline.lmScore(table(s, dir, "documents"), "doc_id", "text")),
    // windowed co-occurrence top-100 (word2vec/GloVe prep): log-free
    // PMI fraction rides along per pair
    "text_cooccurrence" -> ((s, dir) =>
      graft.pipeline.TextPipeline.cooccurrence(table(s, dir, "documents"), "doc_id", "text")),
    // one BPE merge round: adjacent-token-pair frequencies, top-100
    "text_bpe_pairs" -> ((s, dir) =>
      graft.pipeline.TextPipeline.bpePairs(table(s, dir, "documents"), "doc_id", "text")),
    // BPE TRAIN: the iterated trainer run to an actual merge table —
    // 8 rounds of pair-count → (cnt desc, l, r) argmax → re-encode,
    // one scan-side aggregation per round, one row per round crossing
    // the driver; DuckDB re-derives the table with the rounds unrolled
    "text_bpe_train" -> ((s, dir) =>
      graft.pipeline.TextPipeline.bpeTrain(table(s, dir, "documents"), "doc_id", "text")),
    // BPE APPLY: the fixed trained merge table applied in rank order to
    // every document (Sennrich-style leftmost merges as one codegen'd
    // delimiter-protected rewrite chain — no UDF, no shuffle); the
    // token sequences hash-check against DuckDB replaying the same
    // merge table through its own string engine
    "text_bpe_apply" -> ((s, dir) =>
      graft.pipeline.TextPipeline.bpeApply(table(s, dir, "documents"), "doc_id", "text")),
    // THE END-PRODUCT COMPOSITION: trained merges → per-distinct-word
    // tokenization → ids from a vocab derived FROM the merge table →
    // distributed-prefix-sum packing into fixed-length sequences →
    // deterministic shard assignment; one row per packed sequence with
    // an order-exact md5 over its token ids — DuckDB re-derives the
    // identical chain from the train CTEs in one statement
    "pipeline_tokenize_pack" -> ((s, dir) =>
      graft.pipeline.TextPipeline.tokenizePack(
        table(s, dir, "documents"), "doc_id", "text")),
    // Zipf profile: EVERY corpus term with its global frequency rank —
    // rank via the two-phase range-partitioned prefix sum (GlobalRank),
    // never Spark's single-task no-partition window; ties (tf, token)
    // make the order total so the rank column itself hash-checks
    // feature-hashing vectorizer: vocabulary-free text->vector (signed
    // md5 dim/sign hashes, O(dim) memory at any corpus size), sparse
    // long form (doc, dim, weight) with exact integer weights
    "text_hash_embed" -> ((s, dir) =>
      graft.pipeline.TextPipeline.hashEmbed(table(s, dir, "documents"),
        "doc_id", "text")),
    // char-distribution Gini: the entropy-style low-diversity detector
    // as a pure rational (no banned logarithm); map-side pre-agg means
    // at most |alphabet| rows per doc cross the exchange
    "text_char_gini" -> ((s, dir) =>
      graft.pipeline.TextPipeline.charGini(table(s, dir, "documents"),
        "doc_id", "text")),
    "text_zipf_rank" -> ((s, dir) => {
      val tf = table(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      graft.operators.GlobalRank.withRank(
        tf.withColumn("neg_tf", -col("tf")), Seq("neg_tf", "token"), "zipf_rank")
        .select(col("token"), col("tf"), col("zipf_rank"))
    }),
    // hapax-legomena share per language — the vocabulary-freshness /
    // noise signal (a high hapax share flags OCR garbage or boilerplate
    // explosion): two map-side-combinable aggregations, one division
    "text_hapax_ratio" -> ((s, dir) => {
      val tf = table(s, dir, "documents")
        .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("tf"))
      tf.groupBy(col("lang")).agg(
        count(lit(1)).as("n_terms"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .withColumn("hapax_ratio",
          col("n_hapax").cast("double") / col("n_terms").cast("double"))
    }),
    // dictionary encode: corpus tokens → vocab ids (rank in the top-100
    // vocab; 0 = OOV). The id table is vocab-sized → broadcast join; the
    // token explosion is scan-side; at 1000× only the explosion grows.
    // The id-assignment window sorts 100 rows — bounded by topK, not data
    "text_token_ids" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents")
      val ids = graft.pipeline.TextPipeline.vocab(docs, "doc_id", "text")
        .select(col("token"), row_number().over(
          Window.orderBy(col("tf").desc, col("token"))).as("token_id"))
      docs.select(col("doc_id"),
          posexplode(graft.pipeline.TextPipeline.tokens(col("text"))).as(Seq("pos", "token")))
        .join(broadcast(ids), Seq("token"), "left")
        .select(col("doc_id"), col("pos"),
          coalesce(col("token_id"), lit(0)).as("token_id"))
    }),
    // per-source quota: keep the 10 largest documents of every source
    // (testdata has 25 docs/source, so the cap genuinely bites)
    // class-balanced exact downsample: every label cut to the smallest
    // class's size (the quota is DATA-derived, broadcast as 1 row), in
    // salted-hash order — the reproducible imbalanced-training fix
    "sample_class_balance" -> ((s, dir) =>
      graft.pipeline.Sampling.classBalance(
        table(s, dir, "embeddings").select(col("vec_id"), col("label")),
        "vec_id", "label")),
    "sample_source_cap" -> ((s, dir) =>
      graft.pipeline.Sampling.capPerStratum(table(s, dir, "documents"),
        "doc_id", "source", "n_chars", 10)),
    // exact-k uniform eval draw: 20 hash-ranked docs per language
    "sample_uniform_k" -> ((s, dir) =>
      graft.pipeline.Sampling.uniformPerStratum(table(s, dir, "documents"),
        "doc_id", "lang", 20)),
    // token-budgeted mixture: integer-weighted per-source token budgets
    // (src0 upweighted 4x, src1 2x, src2 excluded, rest 1x), admission
    // in salted-hash order until each budget fills
    "sample_mix_budget" -> ((s, dir) =>
      graft.pipeline.Sampling.mixTokenBudget(table(s, dir, "documents"),
        "doc_id", "source", "text", MixWeights, MixDefaultWeight, MixBudget)),
    // length-bucket padding census: per power-of-two bucket, real vs
    // padded token mass and the waste ratio — the statistic that sets
    // bucketed-batching edges for inference (pack_sequences is the
    // concat-and-chunk alternative); narrow map + one tiny aggregation
    "pack_padding_census" -> ((s, dir) =>
      graft.pipeline.Packing.paddingCensus(table(s, dir, "documents"), "doc_id", "text")),
    "pack_sequences" -> ((s, dir) =>
      graft.pipeline.Packing.pack(table(s, dir, "documents"), "doc_id", "text")),
    "sample_stratified" -> ((s, dir) =>
      graft.pipeline.Sampling.stratified(table(s, dir, "documents"), "doc_id", "lang",
        SampleRates.toMap)),
    // as-of join: each click attributed to the user's most recent
    // purchase at-or-before it (union + one window pass — no join)
    "asof_click_purchase" -> ((s, dir) => {
      // epoch-µs ordering time — the grid both engines share (see TsUsSql)
      val ev = table(s, dir, "events").withColumn("ts", expr(TsUsSql))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.operators.AsofJoin.backward(clicks, purchases, Seq("user_id"), "ts",
        Seq("event_id", "value"), "event_id")
        .select(col("event_id"), col("user_id"), col("asof_event_id"), col("asof_value"))
    }),
    // forward as-of: each click's NEXT purchase at-or-after it (same
    // union-scan single-window formulation as the backward join, order
    // reversed) — the "time-to-conversion" primitive
    "asof_next_purchase" -> ((s, dir) => {
      val ev = table(s, dir, "events").withColumn("ts", expr(TsUsSql))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.operators.AsofJoin.forward(clicks, purchases, Seq("user_id"), "ts",
        Seq("event_id", "value"), "event_id")
        .select(col("event_id"), col("user_id"), col("asof_event_id"), col("asof_value"))
    }),
    // nearest as-of: each click's closest purchase in EITHER direction
    // (distance ties go backward) — two window passes over one shuffle,
    // still no join; the sensor-alignment primitive
    "asof_nearest_purchase" -> ((s, dir) => {
      val ev = table(s, dir, "events").withColumn("ts", expr(TsUsSql))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.operators.AsofJoin.nearest(clicks, purchases, Seq("user_id"), "ts",
        Seq("event_id", "value"), "event_id")
        .select(col("event_id"), col("user_id"), col("asof_event_id"), col("asof_value"))
    }),
    // per-user daily OHLC bars: open/close picked by min/max(struct) —
    // ONE hash aggregate with map-side partials, no window sort; ties
    // on ts break on the unique event id so the bar is deterministic
    "ts_ohlc_daily" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("user_id"), expr(TsUsSql).as("tsu"),
          col("event_id"), col("value"))
        .withColumn("day", expr(s"tsu div $RangeJoinDayUs"))
      e.groupBy(col("user_id"), col("day"))
        .agg(
          min(struct(col("tsu"), col("event_id"), col("value")))
            .getField("value").as("open"),
          max(struct(col("tsu"), col("event_id"), col("value")))
            .getField("value").as("close"),
          min(col("value")).as("low"),
          max(col("value")).as("high"),
          count(lit(1)).as("n_events"))
    }),
    // per-user inter-event gap profile: one window lag (partition-local
    // sort) + one hash aggregate; ties on ts are ordered by the unique
    // event id so every gap — and the max — is deterministic
    "win_event_gaps" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
      table(s, dir, "events")
        .select(col("user_id"), expr(TsUsSql).as("tsu"), col("event_id"))
        .withColumn("gap", col("tsu") - lag(col("tsu"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(col("gap")).as("max_gap_us"),
          // exact long sum ÷ count, one IEEE division — deterministic
          avg(col("gap")).as("mean_gap_us"))
    }),
    // trailing 7-observed-day rolling MEDIAN of per-user daily event
    // counts — robust smoothing (spike-insensitive, unlike the trailing
    // mean). The median runs over INTEGER-valued counts, where both
    // engines' even-count interpolation (a+(b−a)·0.5 vs (a+b)/2) is
    // exact and identical — arbitrary doubles could drift 1 ulp
    "win_rolling_median" -> ((s, dir) => {
      val d = table(s, dir, "events")
        .select(col("user_id"), expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"))
        .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day")).rowsBetween(-6, 0)
      d.withColumn("med7", expr("percentile(n, 0.5)").over(w))
    }),
    // banded range join: every non-signup event within a day after a
    // signup by the same user (bucketed equi-join, never a cross
    // product). µs-truncated time on both sides — see SessionGapUs note.
    "range_join_events" -> ((s, dir) => {
      val ev = table(s, dir, "events").withColumn("ts", expr(TsUsSql))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_event"), col("user_id"), col("ts"))
      val acts = ev.filter(col("event_type") =!= "signup")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      graft.operators.RangeJoin.band(signups, acts, Seq("user_id"), "ts",
        1L, RangeJoinDayUs, Seq("event_id", "event_type"))
        .select(col("signup_event"), col("user_id"), col("r_event_id"), col("r_event_type"))
    }),
    "mm_payload_stats" -> ((s, dir) =>
      graft.pipeline.MultiModal.payloadStats(table(s, dir, "documents"))),
    "mm_chunks" -> ((s, dir) =>
      graft.pipeline.MultiModal.chunkPayloads(table(s, dir, "documents"))),
    // frame-sample stub: every 4th 64-byte frame, indices GENERATED by a
    // stepped sequence (skipped frames never materialize)
    "mm_frame_sample" -> ((s, dir) =>
      graft.pipeline.MultiModal.sampleFrames(table(s, dir, "documents"))),
    // PNG IHDR / JPEG SOF dimensions by pure header byte-parse (no
    // codec): payloads synthesized in-plan with data-dependent segment
    // lengths, so the SOF walk is what recovers (width, height) — the
    // oracle re-derives both arithmetically from the generator inputs
    "mm_dimensions" -> ((s, dir) =>
      graft.pipeline.MultiModal.dimensions(table(s, dir, "documents"))),
    // WAV/RIFF fmt+data chunk metadata by pure header byte-parse: the
    // chunk walk (native graft_riff_chunk) must hop variable-length
    // LIST/JUNK chunks — including odd-size word-alignment pads — to
    // find the fields; the oracle re-derives them arithmetically
    "mm_audio_meta" -> ((s, dir) =>
      graft.pipeline.MultiModal.audioMeta(table(s, dir, "documents"))),
    // REAL audio sample decode: per-doc WAVs transit the JDK sound
    // stack both ways (AudioSystem write + read), samples summarized as
    // exact integers the oracle re-derives from the waveform formula —
    // PCM losslessness is the bridge, as PNG is for mm_pixel_dhash
    "mm_wav_pcm" -> ((s, dir) =>
      graft.pipeline.MultiModal.wavPcmStats(table(s, dir, "documents"))),
    // frame-level VAD over real decoded PCM: 16-sample frames, integer
    // energy silence flag, leading-silence trim offset, and the exact
    // zero-crossing count — every third frame renders near-silent by
    // construction so the flags are exercised; decode+frame+summarize
    // is one narrow map
    "mm_audio_vad" -> ((s, dir) =>
      graft.pipeline.MultiModal.audioVad(table(s, dir, "documents"))),
    // GIF block-chain metadata: the sub-block container walked by the
    // native graft_gif_frames loop (unbounded [len][bytes]...0 chains —
    // no fixed unrolling exists); dims read back from the bytes by the
    // decoder; truncated chains and non-GIF payloads classify opaque
    "mm_gif_meta" -> ((s, dir) =>
      graft.pipeline.MultiModal.gifMeta(table(s, dir, "documents"))),
    // sparse 16-bin luma histogram over real decoded pixels: the
    // exposure/contrast artifact per image; decode+bin is one narrow
    // map emitting at most 16 fixed-width rows per image
    "mm_image_histogram" -> ((s, dir) =>
      graft.pipeline.MultiModal.imageHistogram(table(s, dir, "documents"))),
    // ISO BMFF (MP4) box metadata by pure header byte-parse: the box
    // walk (native graft_bmff_box) hops variable-length free/udta boxes
    // at BOTH nesting levels (mvhd inside moov composes via binary
    // substr); the oracle re-derives the fields arithmetically
    "mm_video_meta" -> ((s, dir) =>
      graft.pipeline.MultiModal.videoMeta(table(s, dir, "documents"))),
    // TIFF/EXIF IFD metadata by pure byte-parse: the OFFSET-TABLE format
    // (native graft_tiff_tag walks the entry directory behind a
    // data-dependent junk gap, under BOTH byte orders); the oracle
    // re-derives the fields arithmetically
    "mm_tiff_meta" -> ((s, dir) =>
      graft.pipeline.MultiModal.tiffMeta(table(s, dir, "documents"))),
    // perceptual dedup plumbing: 64-bit dHash over strided payload
    // bytes (bytes standing in for luma — mm_pixel_dhash is the decoded
    // twin), exact grouping = threshold-0 perceptual dup candidates; the
    // fingerprint is a fused 64-comparison codegen dag, the only shuffle
    // is the 8-byte dup count
    "mm_phash_dupes" -> ((s, dir) =>
      graft.pipeline.MultiModal.phashDupes(table(s, dir, "documents"))),
    // REAL full-frame pixel decode: in-plan synthesized PNGs (one per
    // document, pattern = arithmetic function of doc_id) transit the
    // JDK ImageIO codec, and the dHash is computed over ACTUAL decoded
    // luma samples — the oracle re-derives every sample from the
    // generator formula (PNG losslessness is the bridge), so a codec or
    // plumbing bug breaks the hash check. Decode+hash is a narrow
    // per-partition map; the only shuffle is the 8-byte dup count.
    "mm_pixel_dhash" -> ((s, dir) =>
      graft.pipeline.MultiModal.pixelDhashDupes(table(s, dir, "documents"))),
    // composed image dedup: real decode -> dHash -> canonical keeper
    // in ONE plan (the image twin of text canonical-keeper selection)
    "pipeline_image_dedup" -> ((s, dir) =>
      graft.pipeline.MultiModal.imageDedup(table(s, dir, "documents"))),
    // REAL multi-frame container decode: per doc a multi-page TIFF is
    // written through the JDK sequence writer and decoded page-by-page
    // (getNumImages + indexed read); per-frame luma sums are exact
    // integers the oracle re-derives from the generator formula —
    // frame extraction on an actual container, not byte slices
    "mm_tiff_pages" -> ((s, dir) =>
      graft.pipeline.MultiModal.tiffPages(table(s, dir, "documents"))),
    // shot-boundary detection over REAL decoded frames: shots change
    // every 2 frames, frames within a shot only PAN one column — the
    // 16-bin luma-histogram L1 stays ≤ 2·H under the pan and jumps at
    // a cut; verdicts are integer-exact, zero shuffles (all of a doc's
    // frames live in one decoded payload)
    "mm_shot_boundaries" -> ((s, dir) =>
      graft.pipeline.MultiModal.shotBoundaries(table(s, dir, "documents"))),
    // nearest-neighbor resize over the SAME real decoded pixels (the
    // fixed-input-shape step before any vision feature extractor) —
    // integer-floor sampling, so the oracle re-derives the resized grid
    // exactly; summarized as exact integers (sum + corners)
    "mm_pixel_resize" -> ((s, dir) =>
      graft.pipeline.MultiModal.pixelResize(table(s, dir, "documents"))),
    // image-quality gate over real decoded pixels: exact integer
    // moments + the flat/dark/bright defect flags as pure integer
    // comparisons (one in five seeds renders flat, so the flag is
    // exercised); decode+moments is one narrow map
    "mm_image_quality" -> ((s, dir) =>
      graft.pipeline.MultiModal.imageQuality(table(s, dir, "documents"))),
    "ann_cosine_topk" -> ((s, dir) =>
      graft.pipeline.Ann.cosineTopK(table(s, dir, "embeddings"))),
    // contrastive TRIPLET mining (anchor, exact top-1 positive, hardest
    // semi-hard negative ≥ margin below) — the embedding-model
    // training-data operator; eval-slice exact baseline, IVF-restricted
    // at corpus scale (the family's standard pattern)
    "ann_triplets" -> ((s, dir) =>
      graft.pipeline.Ann.contrastiveTriplets(table(s, dir, "embeddings"))),
    "ann_lsh_buckets" -> ((s, dir) =>
      graft.pipeline.Ann.lshBuckets(table(s, dir, "embeddings"))),
    "ann_lsh_topk" -> ((s, dir) =>
      graft.pipeline.Ann.lshTopK(table(s, dir, "embeddings"))),
    // the recall/cost dial on the same hash family: each query also
    // probes its (planes) Hamming-1 buckets — explode on the broadcast
    // side only; the corpus never leaves its single bucket
    "ann_lsh_multiprobe" -> ((s, dir) =>
      graft.pipeline.Ann.lshMultiprobeTopK(table(s, dir, "embeddings"))),
    "ann_ivf_topk" -> ((s, dir) =>
      graft.pipeline.Ann.ivfTopK(table(s, dir, "embeddings"))),
    // TRAIN ONCE, STORE, SERVE WITHOUT RETRAINING: the trained centroid
    // book persisted as a versioned artifact (VersionedSnapshot:
    // _SUCCESS-gated versions behind the __latest pointer), restored in
    // a FRESH session, and served — results must equal the in-session
    // index to the bit (same oracle as ann_ivf_topk)
    "ann_ivf_persist" -> ((s, dir) =>
      graft.pipeline.Ann.ivfPersistServe(table(s, dir, "embeddings"),
        scratch(dir, "ivfpersist"))),
    // product-quantization ADC scan: trained per-subspace codebooks
    // inlined as literals — encode+score is a zero-join narrow map
    "ann_pq_topk" -> ((s, dir) =>
      graft.pipeline.Ann.pqTopK(table(s, dir, "embeddings"))),
    // the PQ half of train-once/store/serve: the trained per-subspace
    // codebooks persisted as one versioned artifact, restored in a
    // fresh session, served without retraining (same oracle as
    // ann_pq_topk — the claim is bit-equality)
    "ann_pq_persist" -> ((s, dir) =>
      graft.pipeline.Ann.pqPersistServe(table(s, dir, "embeddings"),
        scratch(dir, "pqpersist"))),
    // IVF × PQ composed: coarse cell restricts the probe, ADC over PQ
    // codes scores within it — the production ANN shape at corpus scale
    // IVF cell-balance census (faiss imbalance_factor): the expected
    // probe-cost multiplier from cell skew — exact integer sizes + one
    // fixed IEEE expression, so the planning statistic itself
    // hash-checks
    // semantic DECONTAMINATION (the cosine sibling of the n-gram
    // contamination gate): paraphrased eval items that n-grams miss;
    // same-cell candidates only (bounded), bench side broadcasts
    "dedup_semantic_contamination" -> ((s, dir) =>
      graft.pipeline.Ann.semanticContamination(table(s, dir, "embeddings"))),
    // IVF MULTI-PROBE (nprobe=2): the recall/cost dial — queries search
    // their 2 nearest cells (same dist² chain ranks centroids), so a
    // true neighbor just across a Voronoi boundary recovers; cost is
    // exactly nprobe× the single-probe scan
    "ann_ivf_nprobe" -> ((s, dir) =>
      graft.pipeline.Ann.ivfNprobeTopK(table(s, dir, "embeddings"))),
    // INCREMENTAL IVF MAINTENANCE: a new batch assigned to the FROZEN
    // base-trained centroids (O(batch) narrow map, no retrain) plus the
    // per-cell drift²-triggered retrain flag — the arrival path of a
    // live vector index; per-new-vector output pins every assignment
    // and every flag against DuckDB's re-derivation
    "ann_ivf_incremental" -> ((s, dir) =>
      graft.pipeline.Ann.ivfIncremental(table(s, dir, "embeddings"))),
    // the live-index RESTART lifecycle composed: train on the base
    // slice, publish the book through the versioned store, restore in
    // a FRESH session, ingest the new batch against the RESTORED
    // frozen centroids (same oracle as ann_ivf_incremental — one
    // perturbed centroid bit would flip an assignment or drift digit)
    "ann_ivf_persist_incr" -> ((s, dir) =>
      graft.pipeline.Ann.ivfPersistIncremental(table(s, dir, "embeddings"),
        scratch(dir, "ivfpersistincr"))),
    "ann_ivf_balance" -> ((s, dir) =>
      graft.pipeline.Ann.ivfBalance(table(s, dir, "embeddings"))),
    "ann_ivfpq_topk" -> ((s, dir) =>
      graft.pipeline.Ann.ivfPqTopK(table(s, dir, "embeddings"))),
    // ANN quality eval: bucketed-LSH top-1 recall against the exact
    // top-k — the harness a production deployment runs before trusting
    // an approximate path
    "ann_lsh_recall" -> ((s, dir) =>
      graft.pipeline.Ann.lshRecall(table(s, dir, "embeddings"))),
    // same family through the same harness: the recall delta vs
    // ann_lsh_recall is exactly what the Hamming-1 probes buy
    "ann_multiprobe_recall" -> ((s, dir) =>
      graft.pipeline.Ann.lshMultiprobeRecall(table(s, dir, "embeddings"))),
    // the same harness over the composed IVF x PQ production path
    "ann_ivfpq_recall" -> ((s, dir) =>
      graft.pipeline.Ann.ivfPqRecall(table(s, dir, "embeddings"))),
    // binary-quantized search: brute Hamming top-k over 64-bit sign
    // signatures (8 bytes/vector — the memory-bandwidth scale path; a
    // 100 TB float corpus scans as ~3 TB of signatures)
    "ann_hamming_topk" -> ((s, dir) =>
      graft.pipeline.Ann.hammingTopK(table(s, dir, "embeddings"))),
    // the production binary-quantization pattern measured: Hamming
    // shortlist + exact-cosine rerank, scored edge-for-edge against the
    // exact top-k (denominator = the full truth set)
    "ann_hamming_rerank" -> ((s, dir) =>
      graft.pipeline.Ann.hammingRecall(table(s, dir, "embeddings"))),
    // the harness over DIMENSION TRUNCATION (Matryoshka retrieval):
    // does the TruncDims-of-64-dim (48) prefix top-1 land in the full
    // top-k? — the eval that justifies shipping truncated embeddings
    // (less arithmetic/memory per comparison)
    "ann_truncated_recall" -> ((s, dir) =>
      graft.pipeline.Ann.truncatedRecall(table(s, dir, "embeddings"))),
    // contrastive hard-negative mining: per query, the top-k most
    // similar vectors with a DIFFERENT label — the confusable
    // non-matches whose gradients move an embedding model; mismatch
    // predicate prunes in the join, before any similarity arithmetic
    "emb_hard_negatives" -> ((s, dir) =>
      graft.pipeline.Ann.hardNegatives(table(s, dir, "embeddings"))),
    // filtered vector search: exact top-k over the label=3 corpus slice,
    // predicate pushed into the scan (pre-filter, never post-filter)
    "ann_filtered_topk" -> ((s, dir) =>
      graft.pipeline.Ann.filteredCosineTopK(table(s, dir, "embeddings"),
        col("label") === graft.pipeline.Ann.FilterLabel)),
    // per-label centroid outliers in exact fixed-point arithmetic — the
    // embedding-space QA sweep (mislabeled/corrupted cluster members)
    "emb_centroid_outliers" -> ((s, dir) =>
      graft.pipeline.Embeddings.centroidOutliers(table(s, dir, "embeddings"))),
    // per-label centroid drift between the even/odd corpus halves — the
    // snapshot-to-snapshot embedding monitor; exact-integer end to end
    // (quantize → long sums → truncating-div mean → integer drift²),
    // ONE map-side-combinable aggregate
    "emb_centroid_drift" -> ((s, dir) =>
      graft.pipeline.Embeddings.centroidDrift(table(s, dir, "embeddings"))),
    // exact-integer Gram matrix (PCA/whitening prep): order-independent
    // quantized second moments, one combinable aggregation into Dim²/2
    "emb_gram" -> ((s, dir) =>
      graft.pipeline.Embeddings.gramMatrix(table(s, dir, "embeddings"))),
    // whitening applied (the emb_gram consumer): exact-integer moments →
    // fixed-order unrolled Cholesky → per-row forward substitution, all
    // in-plan — bit-identical IEEE chains on both engines, so DuckDB
    // checks a linear-algebra transform it cannot eigendecompose. One
    // 15-sum aggregation + a 1-row broadcast + a narrow map.
    "emb_whiten" -> ((s, dir) =>
      graft.pipeline.Embeddings.whiten(table(s, dir, "embeddings"))),
    "dedup_embedding_pairs" -> ((s, dir) =>
      graft.pipeline.Ann.embeddingPairs(table(s, dir, "embeddings"))),
    // SemDeDup-shaped semantic dedup: trained k-means cells restrict
    // candidate generation; within a cell the EARLIEST eps-cosine
    // neighbor supersedes (keeper_id = vec_id marks the kept rows)
    "dedup_semantic" -> ((s, dir) =>
      graft.pipeline.Ann.semanticDedup(table(s, dir, "embeddings"))),
    // per-document top terms by log-free tf-idf (term extraction)
    "text_tfidf" -> ((s, dir) =>
      graft.pipeline.TextPipeline.tfidfTopTerms(table(s, dir, "documents"), "doc_id", "text")),
    // RAG-style sliding token windows: 32-token chunks every 24 tokens
    "text_chunks" -> ((s, dir) =>
      graft.pipeline.TextPipeline.chunkTokens(table(s, dir, "documents"), "doc_id", "text")),
    // content-defined chunking (Rabin/FastCDC at word granularity):
    // boundaries from a local rolling-window hash, so edits re-cut ONE
    // chunk and later boundaries resynchronize (unlike fixed segments);
    // per-doc duplicated-chunk ratio = the shift-robust boilerplate
    // measure; chunks travel as digests only
    "text_cdc_chunks" -> ((s, dir) =>
      graft.pipeline.TextPipeline.cdcChunks(table(s, dir, "documents"),
        "doc_id", "text")),
    // the named Gopher rule set (explicit boolean verdicts, vs the
    // blended quality score)
    "text_gopher_rules" -> ((s, dir) =>
      graft.pipeline.TextPipeline.gopherRules(table(s, dir, "documents"),
        "doc_id", "text")),
    // soft dedup: duplicated content down-weighted (1/cluster-size)
    // instead of dropped — the loss-scaling alternative policy
    "dedup_weights" -> ((s, dir) =>
      graft.pipeline.Dedup.softDedupWeights(table(s, dir, "documents"),
        "doc_id", "text")),
    // winnowing fingerprints (MOSS-style): every w-gram window selects
    // its min hash — guaranteed-coverage local-similarity sketch
    "text_winnow" -> ((s, dir) =>
      graft.pipeline.TextPipeline.winnowFingerprints(
        table(s, dir, "documents"), "doc_id", "text")),
    // cross-document duplicated 6-gram spans (substring-dup detection)
    "dedup_dup_spans" -> ((s, dir) =>
      graft.pipeline.Dedup.dupNgramSpans(table(s, dir, "documents"), "doc_id", "text")),
    // source-overlap matrix: how many content keys each PAIR of sources
    // shares — the crawl-dedup planning diagnostic (which feeds
    // overlap-aware source weighting). The key is the md5 of the
    // IncrementalPrefixLen-char prefix (the dedup_incremental content
    // identity — collision-rich on template corpora). One distinct on
    // (key, source), one self-equi-join on the digest (never all-pairs:
    // candidates only from shared keys), one count
    "dedup_source_overlap" -> ((s, dir) => {
      val fp = table(s, dir, "documents")
        .select(md5(substring(col("text"), 1, IncrementalPrefixLen)).as("k"),
          col("source")).distinct()
      fp.select(col("k"), col("source").as("source_a"))
        .join(fp.select(col("k").as("k_b"), col("source").as("source_b")),
          col("k") === col("k_b") && col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared"))
    }),
    // ...and the matching fix: excise every globally-duplicated span
    "dedup_excise_spans" -> ((s, dir) =>
      graft.pipeline.Dedup.exciseDupSpans(table(s, dir, "documents"), "doc_id", "text")),
    // α=0.5 temperature mixing over the (skewed) language distribution
    "sample_temperature" -> ((s, dir) =>
      graft.pipeline.Sampling.temperatureMix(table(s, dir, "documents"), "doc_id", "lang")),
    // Unicode NFC normalization via the native codegen'd expression —
    // stays inside whole-stage codegen (a UDF would break the stage)
    "text_normalize_nfc" -> ((s, dir) => {
      val t = table(s, dir, "documents")
      val n = graft.functions.Functions.nfc(s, col("text"))
      t.select(col("doc_id"), n.as("nfc_text"), (n =!= col("text")).as("changed"))
    }),
    // quality-weighted Bernoulli keep (p ∝ n_chars), integer-exact gate
    "sample_weighted" -> ((s, dir) =>
      graft.pipeline.Sampling.weightedBernoulli(
        table(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        "doc_id", "n_chars")),
    // deterministic sharded training order (the scalable global shuffle)
    "split_shuffle_order" -> ((s, dir) =>
      graft.pipeline.Splits.shuffleOrder(table(s, dir, "documents"), "doc_id")),
    // int8 symmetric quantization of the embedding column; the code
    // vector is rendered as a CSV string for the harness (the oracle
    // comparator sorts output columns — a raw array column is not
    // sortable there), pinning every code exactly, not just the L1
    "emb_quantize" -> ((s, dir) =>
      graft.pipeline.Embeddings.quantizeInt8(table(s, dir, "embeddings"))
        .withColumn("codes",
          array_join(transform(col("codes"), c => c.cast("string")), ","))),
    // IVF-restricted k-NN graph: per vector its 3 nearest same-cell
    // neighbors by exact cosine (total-ordered rank) — the neighborhood
    // structure clustering/diversity sampling starts from; the cell
    // equi-join is what keeps the build linear-ish at corpus scale
    "emb_knn_graph" -> ((s, dir) =>
      graft.pipeline.Ann.knnGraph(table(s, dir, "embeddings"))),
    // semantic clustering via the MUTUAL-kNN graph: reciprocated edges
    // only (the standard hub-denoising), connected components, size
    // histogram with singletons — the deterministic semantic-grouping
    // pass over an embedded corpus
    "emb_semantic_clusters" -> ((s, dir) =>
      graft.pipeline.Ann.semanticClusters(table(s, dir, "embeddings"))),
    // kNN-graph recall: exact brute-force top-k truth for the query
    // slice vs the cell-restricted graph — what the IVF restriction
    // loses, measured before clustering consumes the graph
    "emb_knn_recall" -> ((s, dir) =>
      graft.pipeline.Ann.knnRecall(table(s, dir, "embeddings"))),
    // RAG-style retrieval: exact ANN top-k joined back to the document
    // payloads (vec_id ↔ doc_id) — the cross-modal fetch step of a
    // retrieval pipeline; at scale the payload join is the cheap part
    // (k·queries rows against a bucketed documents table)
    "rag_retrieve" -> ((s, dir) =>
      ragRetrieve(table(s, dir, "embeddings"), table(s, dir, "documents"))),
    // incremental-ingest dedup: every 5th doc arrives as the "new batch",
    // keyed on the leading-60-char content prefix (collides on testdata)
    "dedup_incremental" -> ((s, dir) =>
      incrementalNewDocs(table(s, dir, "documents"))),
    // deterministic Bloom runtime filter: urgent-order keys build an
    // 8 KB literal bitset that pre-filters the lineitem scan (no join,
    // no shuffle); the row reports admitted vs exact vs false positives
    "join_bloom_filter" -> ((s, dir) =>
      graft.operators.BloomFilter.semiJoinStats(
        table(s, dir, "lineitem"), "l_orderkey",
        table(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        "o_orderkey")),
    // incremental NEAR-dup admission: new batch (doc_id % 5 = 0) vs the
    // index side's MinHash band table — any band collision flags the doc
    "dedup_incremental_near" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      graft.pipeline.Dedup.incrementalNearDup(
        d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
    }),
    // lossless prefix-filtered similarity join: same pairs as the full
    // inverted index at t=0.5, from a rarest-first prefix index roughly
    // half the size (AllPairs/SSJoin candidate reduction)
    "dedup_prefix_pairs" -> ((s, dir) =>
      graft.pipeline.Dedup.prefixFilterPairs(table(s, dir, "documents"),
        "doc_id", "text")),
    // LSH geometry eval: band-collision candidates vs exact-Jaccard
    // ground truth (recall/precision of the 8x3 banding at the shared
    // threshold) — run on a slice before gating a corpus on it
    "dedup_minhash_recall" -> ((s, dir) =>
      graft.pipeline.Dedup.minhashRecall(table(s, dir, "documents"),
        "doc_id", "text")),
    // the SimHash twin: the Hamming gate (pigeonhole-exact within the
    // radius) scored against the SAME exact-Jaccard truth — how well a
    // 64-bit token fingerprint at radius 3 proxies shingle Jaccard on
    // this corpus; tunes the two fingerprint families side by side
    "dedup_simhash_recall" -> ((s, dir) =>
      graft.pipeline.Dedup.simhashRecall(table(s, dir, "documents"),
        "doc_id", "text")),
    // per-doc corpus novelty: fraction of the doc's shingles first
    // seen IN this doc (ingest order) — the memorization/template
    // signal a mixture can down-weight; no pair generation, just the
    // gram min-agg + one join
    "dedup_novelty" -> ((s, dir) =>
      graft.pipeline.Dedup.noveltyPerDoc(table(s, dir, "documents"),
        "doc_id", "text")),
    // threshold tuning curve: co-shingle pairs bucketed by INTEGER
    // Jaccard decile ((10*inter) div union — no float boundary), with
    // the cumulative pairs-at-or-above count: "what would a gate at
    // d/10 collapse" read directly off ≤11 rows
    "dedup_threshold_sweep" -> ((s, dir) =>
      graft.pipeline.Dedup.jaccardThresholdSweep(table(s, dir, "documents"),
        "doc_id", "text")),
    // leakage-safe split: the split gate hashes the near-dup CLUSTER
    // label, not the doc id — a near-duplicate of a training document
    // can never land in val/test (the contamination channel a plain
    // per-doc split leaves open)
    "split_leakage_safe" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val clusters = graft.pipeline.Dedup.nearDupClusters(docs, "doc_id", "text")
      graft.pipeline.Splits.hashSplit(clusters, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("bucket"), col("split"))
    }),
  )

  // ---------------------------------------------------------------------
  // Scale probes (bench-only; merged into the bench by graft.Bench).
  // sf0.1 is the largest shipped dataset, so the 100×-scale claims need
  // MEASUREMENT, not just plan-shape arguments: each probe blows the
  // corpus up m× IN-PLAN while preserving its statistics, and the
  // measured t(m) slope is recorded against the candidate-bound math in
  // PLANS.md. Replication happens at the level the operator's
  // scale-sensitive machinery consumes (shingle index / edge list) —
  // everything above it is a trivially-linear narrow map.
  // ---------------------------------------------------------------------

  /** The document shingle index replicated into `m` DISJOINT shingle
    * spaces (ids offset, shingle keys shifted past the 60-bit space per
    * replica): per-replica statistics are EXACTLY the base corpus's —
    * same posting-frequency histogram, same band-bucket sizes — so
    * candidates grow m·C₁ and the null hypothesis is linear time. A
    * replica-as-near-dup design (unsalted) would instead multiply
    * candidates m²× and measure the pathology, not the throughput. */
  private def replicatedShingleIndex(s: SparkSession, dir: String, m: Int): DataFrame = {
    val docs = table(s, dir, "documents")
    graft.pipeline.Dedup.hashedShingleRows(
        graft.pipeline.Dedup.shingleRows(docs, "doc_id", "text",
          graft.pipeline.Dedup.ShingleN), "doc_id")
      .withColumn("rep", explode(sequence(lit(0L), lit(m - 1L))))
      // 58-bit base space + replica in the top bits: disjoint by
      // construction and (16·2^58 = 2^62) never overflows the long
      .select((col("doc_id") * m + col("rep")).as("doc_id"),
        (col("shingle") % lit(1L << 58) + col("rep") * lit(1L << 58)).as("shingle"))
  }

  /** The co-order part graph replicated into `m` disjoint node spaces
    * (degree distribution preserved — the "more users, same behavior"
    * 100 TB model). */
  private def replicatedEdges(s: SparkSession, dir: String, m: Int): DataFrame = {
    val lp = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    val l1 = lp.select(col("ok"), col("p").as("s1"))
    val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
    val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
    graft.operators.Triangles.canonicalEdges(pairs, "s1", "s2")
      .withColumn("rep", explode(sequence(lit(0L), lit(m - 1L))))
      .select((col("a") * m + col("rep")).as("a"), (col("b") * m + col("rep")).as("b"))
  }

  /** Basket-DENSIFIED co-order graph: each order's part set replicated
    * `m`× with salted part ids IN THE SAME order, so baskets grow m×
    * and the edge count grows ~m² — probing the oriented-wedge bound
    * (O(E^1.5)) under density growth rather than corpus growth. */
  private def densifiedEdges(s: SparkSession, dir: String, m: Int): DataFrame = {
    val lp = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      .withColumn("rep", explode(sequence(lit(0L), lit(m - 1L))))
      .select(col("ok"), (col("p") * m + col("rep")).as("p"))
    val l1 = lp.select(col("ok"), col("p").as("s1"))
    val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
    val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
    graft.operators.Triangles.canonicalEdges(pairs, "s1", "s2")
  }

  /** The embedding corpus replicated into `m` disjoint id spaces — the
    * "more vectors, same queries" 100 TB model for the signature-scan
    * probe (the query set stays NumQueries vectors; only the scanned
    * corpus grows). */
  private def replicatedEmbeddings(s: SparkSession, dir: String, m: Int): DataFrame =
    table(s, dir, "embeddings")
      .withColumn("rep", explode(sequence(lit(0L), lit(m - 1L))))
      .select((col("vec_id") * m + col("rep")).as("vec_id"), col("embedding"))

  /** The ENGINE's bulk-ingest surface replicated ×m: the `icl_fk_bulk`
    * statement script (set-wise `InsertFrom` through compiled anti-join
    * FK validation + compiled Exists quantifier + delete-cascade
    * re-check) against a customer key space replicated into m DISJOINT
    * ranges — fact cardinality grows m× (region × nation × m·customer)
    * while the constraint shapes stay fixed. Measures the claim
    * "compiled set-wise validation scales" as a slope instead of a
    * plan-shape argument. Staging (three small parquet writes) is inside
    * the probe but linear and dominated by the ingest. */
  /** Pid-scoped IMMUTABLE staged-input cache for the engine scale
    * probes — the [[graft.streaming.StreamOracle]] `cachedStage`
    * discipline: a probe's staged catalog tables depend only on
    * (dataset dir, tag), so they are built ONCE per JVM and reused by
    * every bench pass. Staging is data prep, not the machinery under
    * test — re-writing identical parquet on every timed pass measured
    * ~0.5 s (fkbulk) / ~3 s (dclmerge) per pass of pure writer time.
    * The engine itself never writes into the staged dir (the probes run
    * memory-resident sessions over a read-only catalog), so sharing the
    * immutable stage across passes is sound. Built in a tmp sibling and
    * ATOMIC_MOVE'd into place (a crashed build is never readable as
    * complete); dead JVMs' caches are swept by the scratch() walker,
    * which treats any non-pid entry under the family dir as residue. */
  private def cachedProbeInput(dir: String, tag: String)(
      build: java.nio.file.Path => Unit): String = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") +
      "-" + Integer.toHexString(dir.hashCode)
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-probestage")
    val self = ProcessHandle.current().pid()
    Option(base.toFile.listFiles()).foreach(_.foreach { f =>
      val alive = f.getName.stripPrefix("pid-").toLongOption
        .exists(p => p == self || ProcessHandle.of(p).isPresent)
      if (!alive) wipeTree(f)
    })
    val in = base.resolve(s"pid-$self").resolve(key).resolve(tag)
    in.toString.intern().synchronized {
      if (!java.nio.file.Files.exists(in)) {
        val tmp = in.resolveSibling(s".$tag.build")
        if (java.nio.file.Files.exists(tmp)) wipeTree(tmp.toFile)
        java.nio.file.Files.createDirectories(tmp)
        build(tmp)
        java.nio.file.Files.move(tmp, in,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
      }
    }
    in.toString
  }

  private def fkbulkProbe(m: Int): (SparkSession, String) => DataFrame = (s, dir) => {
    val tmp = cachedProbeInput(dir, s"fkbulk_x$m") { p =>
      table(s, dir, "region").write.mode("overwrite").parquet(s"$p/region.parquet")
      table(s, dir, "nation").write.mode("overwrite").parquet(s"$p/nation.parquet")
      table(s, dir, "customer").select(col("c_custkey"))
        .withColumn("rep", explode(sequence(lit(0L), lit(m - 1L))))
        .select((col("c_custkey") * m + col("rep")).as("c_custkey"))
        .write.mode("overwrite").parquet(s"$p/customer.parquet")
    }
    script(Seq(
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
      "(InsertTuple (relation cust_keys) (attributes ((c_custkey (Int 99999999)))))",
      "(DeleteWhere (target cust_keys) (predicate (Const ((c_custkey (Int 99999999))))))",
    ), "(Base fact)")(s, tmp)
  }

  /** DCL branch diff + 3-way merge slope: the claimed 100 TB branching
    * path is hash-set algebra on row digests (anti-joins for Dist
    * extensions), whose cost should track the DIFF size, not multiply
    * with it against the relation. The probe holds the base relation
    * FIXED (unique-keyed lineitem projection — the m-independent axis)
    * and scales the per-branch mutation sets m×: each branch bulk-
    * inserts 2000·m disjoint-key rows and bulk-deletes a disjoint
    * m-proportional slice of the base, then the two tips 3-way merge
    * (LCA = the shared trunk snapshot). Everything flows through the
    * wire statements (InsertFrom / DeleteWhere / CreateBranch /
    * Checkout / Merge) — the same dispatcher the dcl_* oracle rows
    * exercise. Staging (four small parquet writes + the fixed base) is
    * inside the probe but m-linear and dominated by the engine work. */
  private def dclmergeProbe(m: Int): (SparkSession, String) => DataFrame = (s, dir) => {
    // the catalog resolves a fixed table-name set, so the staged roles
    // borrow whitelisted names (the fkbulkProbe discipline):
    //   lineitem = fixed base, orders/customer = trunk/feature bulk
    //   inserts, region/nation = trunk/feature delete key sets
    val tmp = cachedProbeInput(dir, s"dclmerge_x$m") { p =>
      // deterministic survivor per key (min(v), not dropDuplicates'
      // arbitrary one): every JVM stages bit-identical input, so
      // cross-JVM probe re-proofs measure the same data (r16 ADVICE)
      val base = table(s, dir, "lineitem")
        .select((col("l_orderkey") * 8 + col("l_linenumber")).cast("int").as("k"),
          col("l_partkey").cast("int").as("v"))
        .groupBy(col("k")).agg(min(col("v")).as("v"))
      base.write.mode("overwrite").parquet(s"$p/lineitem.parquet")
      val n = 2000L * m
      s.range(n).select((col("id") + 1000000000L).cast("int").as("k"),
          (col("id") % 97).cast("int").as("v"))
        .write.mode("overwrite").parquet(s"$p/orders.parquet")
      s.range(n).select((col("id") + 1500000000L).cast("int").as("k"),
          (col("id") % 89).cast("int").as("v"))
        .write.mode("overwrite").parquet(s"$p/customer.parquet")
      // disjoint m-proportional delete slices of the BASE keys (hash-free:
      // k mod 2048 buckets; trunk takes [0, 2m), feature [1024, 1024+2m) —
      // disjoint for every shipped m)
      base.filter(pmod(col("k"), lit(2048)) < 2 * m).select(col("k"))
        .write.mode("overwrite").parquet(s"$p/region.parquet")
      base.filter(pmod(col("k"), lit(2048)) >= 1024 && pmod(col("k"), lit(2048)) < 1024 + 2 * m)
        .select(col("k"))
        .write.mode("overwrite").parquet(s"$p/nation.parquet")
    }
    script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name fact) (schema ((k integer) (v integer))))",
      "(InsertFrom (target fact) (source (Base lineitem)))",
      "(CreateBranch (name trunk))",
      "(Checkout trunk)",
      "(CreateBranch (name feature))",
      "(Checkout feature)",
      "(InsertFrom (target fact) (source (Base customer)))",
      "(DeleteWhere (target fact) (predicate (Base nation)))",
      "(Checkout trunk)",
      "(InsertFrom (target fact) (source (Base orders)))",
      "(DeleteWhere (target fact) (predicate (Base region)))",
      "(Merge (left trunk) (right feature) (strategy PreferLeft))",
    ), "(Base fact)")(s, tmp)
  }

  /** Write-through persistence slope: the claim (Persist scaladoc) is
    * O(changed snapshot) per transition — INDEPENDENT of total persisted
    * database size: unchanged relations re-reference their
    * content-addressed objects, manifests carry content roots
    * incrementally, restore parses manifests without reading relation
    * data, and gc lists the object dir instead of scanning objects. The
    * probe persists a 200k·m-row Dist relation ONCE per (sf, m, JVM) in
    * the untimed warmup pass (the root survives the bench's timed passes
    * — the streamStateProbe discipline), so each timed pass measures the
    * steady-state path alone: restore the store into a fresh
    * EngineSession, run 16 write-through transitions (8 insert+delete
    * pairs on a 3-row side relation, each one a full snapshot commit +
    * store rewrite + Dist re-anchor), prune + gc the retired history,
    * and re-read both relations. FLAT t(m) = the claim holds; a linear
    * slope would mean something O(database) hides in the per-transition
    * save (re-hashing or re-writing the big object). Self-checking: the
    * pass asserts the restored contents, so a persistence bug surfaces
    * as a bench error, not a fast wrong number. */
  private def persistProbe(m: Int): (SparkSession, String) => DataFrame = (s, dir) => {
    import java.nio.file.Files
    // probe store must SURVIVE this JVM's bench passes, so it can't use
    // scratch(), which wipes on every entry
    val probeDir = probeRoot("graft-persistprobe", dir, s"x$m")
    Files.createDirectories(probeDir)
    val root = probeDir.resolve("store").toString
    val cat = new ParquetCatalog(s, probeDir.toString)
    // 2× LocalThreshold at x1: the WHOLE ladder must sit in the Dist
    // (content-addressed parquet object) regime — at exactly 100k rows
    // the relation stays Local and serializes into every manifest, a
    // different (driver-bound) write path that isn't the 100 TB claim
    val nBig = 200000L * m
    if (!graft.engine.Persist.exists(s, root)) {
      // stage the big source under a whitelisted catalog name (warmup only)
      s.range(nBig).select(col("id").as("k"), (col("id") % 97).as("v"))
        .write.mode("overwrite").parquet(s"$probeDir/orders.parquet")
      val boot = new graft.server.EngineSession(s, Some(cat), Some(root))
      (Seq(
        "(CreateDatabase g)",
        "(CreateRelation (name big) (schema ((k integer) (v integer))))",
        "(InsertFrom (target big) (source (Base orders)))",
        "(CreateRelation (name side) (schema ((k integer) (v string))))") ++
        Seq("A", "B", "C").zipWithIndex.map { case (v, i) =>
          s"(InsertTuple (relation side) (attributes ((k (Int ${i + 1})) (v (Str $v)))))" })
        .foreach(stmt => boot.execute(stmt).fold(
          e => throw new IllegalArgumentException(s"$stmt -> $e"), _ => ()))
    }
    // ---- timed steady state: restore + 16 write-through transitions ----
    val session = new graft.server.EngineSession(s, Some(cat), Some(root))
    def run(stmt: String): Unit = session.execute(stmt).fold(
      e => throw new IllegalArgumentException(s"$stmt -> $e"), _ => ())
    (0 until 8).foreach { j =>
      run(s"(InsertTuple (relation side) (attributes ((k (Int ${9000000 + j})) (v (Str TMP$j)))))")
      run(s"(DeleteWhere (target side) (predicate (Const ((k (Int ${9000000 + j}))))))")
    }
    graft.engine.Persist.prune(s, root, graceMs = 0L)
      .fold(e => throw new IllegalStateException(s"prune failed: $e"), _ => ())
    def query(q: String): DataFrame = session.execute(s"(drl $q)") match {
      case Right(graft.server.QueryResult(df)) => df
      case other => throw new IllegalArgumentException(s"$q -> $other")
    }
    val gotBig = query("(Base big)").count()
    val side = query("(Base side)").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    if (gotBig != nBig || !side.sameElements(Array((1L, "A"), (2L, "B"), (3L, "C"))))
      throw new IllegalStateException(
        s"persisted state diverged: big=$gotBig side=${side.mkString(",")}")
    s.range(1).select(lit(m).as("m"), lit(gotBig).as("n_big"), lit(side.length).as("n_side"))
  }

  /** Skewed-join slope: the 100 TB killer is a single join key so hot
    * that one reducer owns it — a plain shuffle join's wall-clock
    * becomes the hot key's mass divided by ONE core. [[graft.operators.
    * SaltedJoin]] splits that key `saltFactor` ways (probe salted by row
    * content, build replicated per salt). The probe plants a synthetic
    * heavy-tail: 250k·m rows ALL on one key plus 250k·m uniform
    * background over the build's 10k keys, joined salted 32 ways and
    * aggregated. Expected shape: t(m) LINEAR in m with the hot key's
    * work spread across the full executor width — the per-row marginal
    * cost is the claim (a serialized hot reducer would show the same
    * linear exponent but a ~10× constant; the one-off salted-vs-plain
    * comparison lives in PLANS.md). Multiset identity of the salted
    * join is SaltedJoinSpec's pin; the oracle-checked `join_salted_agg`
    * row covers the operator's correctness at sf scale. */
  private def skewJoinProbe(m: Int): (SparkSession, String) => DataFrame = (s, dir) => {
    val hot = s.range(250000L * m)
      .select(lit(7L).as("okey"), (col("id") % 1000L).as("qty"))
    val background = s.range(250000L * m)
      .select((col("id") % 10000L).as("okey"), (col("id") % 1000L).as("qty"))
    val build = s.range(10000L)
      .select(col("id").as("okey"), (col("id") % 3L).as("status"))
    graft.operators.SaltedJoin.inner(hot.unionAll(background), build,
        Seq("okey"), saltFactor = 32)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
  }

  /** The incremental-components claim measured: one fixed 8-order batch
    * against m× accumulated graph state (200k·m seen vertices, 100k·m
    * label-forest entries, buckets scaled with state per the
    * BucketedState contract) through the IDENTICAL
    * [[graft.streaming.StreamOracle.ccBatch]] code path the
    * `streaming_components` oracle row runs. The state is built once per
    * (sf, m, JVM) in the untimed warmup pass; each timed pass appends
    * one batch whose 16 vertices touch a bounded slot set — resolution
    * reads only those slots, the delta graph is 8 contracted edges, and
    * both state merges rewrite touched slots only. FLAT t(m) = per-batch
    * cost tracks the batch, never the accumulated graph. */
  private def streamCcProbe(m: Int): (SparkSession, String) => DataFrame = (s, dir) => {
    import java.nio.file.Files
    val buckets = 16 * m
    val n = 100000L * m
    val root = probeRoot("graft-streamccprobe", dir, s"x$m")
    // a PARTIAL warmup build (e.g. killed between the two state writes)
    // must self-heal, not wedge the probe for the JVM's lifetime: the
    // guard requires BOTH states' v0 MANIFESTS (writeManifest is the
    // commit point — a __v=0 dir without its manifest reads as empty)
    // and rebuilds from scratch otherwise
    val v0ok = Files.exists(root.resolve("verts").resolve("__manifest-v=0")) &&
      Files.exists(root.resolve("forest").resolve("__manifest-v=0"))
    if (!v0ok) wipeTree(root.toFile)
    val verts = new graft.streaming.BucketedState(s, root.resolve("verts"), buckets)
    val forest = new graft.streaming.BucketedState(s, root.resolve("forest"), buckets)
    if (!v0ok) {
      // 2n seen vertices; forest = n depth-1 chains (high half → low half)
      val vs = s.range(2 * n).select(col("id").as("p"))
        .withColumn("__bucket", verts.bucketOf(0L, col("p")))
      verts.write(0L, vs, (0 until buckets).map(_.toString).toSet)
      val fe = s.range(n).select((col("id") + n).as("child"), col("id").as("parent"))
        .withColumn("__bucket", forest.bucketOf(0L, col("child")))
      forest.write(0L, fe, (0 until buckets).map(_.toString).toSet)
    }
    def nextVersion(r: java.nio.file.Path): Long =
      Option(r.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
        .flatMap(f => f.getName.stripPrefix("__v=").toLongOption)
        .maxOption.getOrElse(0L)
    val v = math.max(nextVersion(root.resolve("verts")), nextVersion(root.resolve("forest"))) + 1
    // 8 orders of 2 parts each: a forest child (resolves through its
    // chain) and a far root — the first batch merges them, later passes
    // re-resolve to the shared root (the steady-state read path)
    val batch = s.range(8).select(col("id").as("j"))
      .select(col("j").as("ok"),
        explode(array(lit(n) + col("j") * 31L, col("j") * 17L)).as("p"))
    graft.streaming.StreamOracle.ccBatch(verts, forest, v, batch)
    s.range(1).select(lit(m).as("m"), lit(v).as("batch_id"),
      lit(buckets).as("buckets"))
  }

  /** The bucketed-streaming-state claim measured: per-batch cost scales
    * with the batch's TOUCHED buckets, not with total state size. State
    * = 200k·m rows over 16·m buckets (bucket size CONSTANT — the 100 TB
    * deployment scales buckets with state, per the BucketedState
    * contract); the measured increment is a fixed 8-key merge, touching
    * ≤8 buckets at every m. The state is built once per (sf, m, JVM) in
    * the UNTIMED warmup pass (the dir persists across the bench's timed
    * passes), so the timed passes measure exactly one incremental batch:
    * read the touched buckets' newest versions, anti-join + union, write
    * one file per touched bucket, compact. Flat t(m) = the claim holds. */
  /** Pid-scoped PERSISTENT probe root: survives this JVM's bench passes
    * (unlike scratch(), which wipes on entry), swept once the owning pid
    * dies. The key carries a hash of the FULL dataset path — the
    * sanitized form alone is lossy, and two sf dirs must never share
    * surviving probe state (a reused cache would silently measure or
    * verify the wrong data). `listFiles` is null-guarded throughout: a
    * concurrent JVM's sweeper may delete a dead pid's dir between the
    * isDirectory check and the listing. */
  private def probeRoot(family: String, dir: String, sub: String): java.nio.file.Path = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") +
      "-" + Integer.toHexString(dir.hashCode)
    val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), family)
    val self = ProcessHandle.current().pid()
    Option(base.toFile.listFiles()).foreach(_.foreach { f =>
      val alive = f.getName.stripPrefix("pid-").toLongOption
        .exists(p => p == self || ProcessHandle.of(p).isPresent)
      if (!alive) wipeTree(f)
    })
    base.resolve(s"pid-$self").resolve(key).resolve(sub)
  }

  /** Recursive delete (null-guarded — see [[probeRoot]]). */
  private def wipeTree(x: java.io.File): Unit = {
    if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(wipeTree))
    x.delete(): Unit
  }

  private def streamStateProbe(m: Int): (SparkSession, String) => DataFrame = (s, dir) => {
    import java.nio.file.Files
    val buckets = 16 * m
    // probe state must SURVIVE the current JVM's bench passes, so it
    // can't use scratch(), which wipes on every entry
    val root = probeRoot("graft-stateprobe", dir, s"x$m/st")
    val st = new graft.streaming.BucketedState(s, root, buckets)
    // guard on the MANIFEST, not the version dir: writeManifest is
    // BucketedState's commit point (written after the parquet), so a
    // kill between the two must re-trigger the build, not read empty
    if (!Files.exists(root.resolve("__manifest-v=0"))) {
      wipeTree(root.toFile)
      val base = s.range(200000L * m)
        .select(col("id").as("k"), (col("id") % 97).as("payload"))
        .withColumn("__bucket", st.bucketOf(0L, col("k")))
      st.write(0L, base, (0 until buckets).map(_.toString).toSet)
    }
    // next free version (each bench pass appends one batch)
    val v = Option(root.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .flatMap(f => f.getName.stripPrefix("__v=").toLongOption)
      .maxOption.getOrElse(0L) + 1
    val inc = s.range(8L).select((col("id") * 31L).as("k"), lit(-1L).as("payload"))
      .withColumn("__bucket", st.bucketOf(v, col("k")))
    val touched = inc.select(col("__bucket")).distinct().collect().map(_.getString(0)).toSet
    val merged = st.before(v, Some(touched)) match {
      case None    => inc
      case Some(p) => p.join(inc.select(col("k")), Seq("k"), "left_anti").unionByName(inc)
    }
    st.write(v, merged, touched)
    st.compact(v - 1)
    // the work above ran eagerly; return a cheap verdict frame for count()
    s.range(1).select(lit(m).as("m"), lit(touched.size).as("touched_buckets"),
      lit(buckets).as("total_buckets"))
  }

  /** Bench-only probe queries: not oracle rows (the 1× operators are
    * oracle-checked; these measure how the same plans scale). */
  def scaleProbes: Map[String, (SparkSession, String) => DataFrame] = {
    def jac(m: Int): (SparkSession, String) => DataFrame =
      (s, dir) => graft.pipeline.Dedup.jaccardPairsFromIndex(
        replicatedShingleIndex(s, dir, m), "doc_id")
    def mh(m: Int): (SparkSession, String) => DataFrame =
      (s, dir) => {
        val rows = replicatedShingleIndex(s, dir, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.pipeline.Dedup.nearDupPairsFromIndex(rows, "doc_id")
      }
    def tri(m: Int): (SparkSession, String) => DataFrame =
      (s, dir) => graft.operators.Triangles.count(replicatedEdges(s, dir, m))
    // histogram-domain BPE training: fixed vocab (the one-scan corpus
    // histogram), m× the merge rounds — t(m) ∝ m (flat per-round cost,
    // independent of the merge count) is the claim; the corpus-domain
    // trainer this replaced re-scanned the corpus with an r-long
    // replace chain and would bend superlinear here
    def bpetrain(m: Int): (SparkSession, String) => DataFrame =
      (s, dir) => graft.pipeline.TextPipeline.bpeTrain(
        table(s, dir, "documents"), "doc_id", "text", rounds = 16 * m)
    def trid(m: Int): (SparkSession, String) => DataFrame =
      (s, dir) => graft.operators.Triangles.count(densifiedEdges(s, dir, m))
    Map(
      "scaleprobe_jaccard_x1" -> jac(1), "scaleprobe_jaccard_x4" -> jac(4),
      "scaleprobe_jaccard_x16" -> jac(16),
      "scaleprobe_minhash_x1" -> mh(1), "scaleprobe_minhash_x4" -> mh(4),
      "scaleprobe_minhash_x16" -> mh(16),
      "scaleprobe_triangles_x1" -> tri(1), "scaleprobe_triangles_x4" -> tri(4),
      "scaleprobe_triangles_x16" -> tri(16),
      "scaleprobe_tridense_x1" -> trid(1), "scaleprobe_tridense_x2" -> trid(2),
      "scaleprobe_tridense_x4" -> trid(4),
      "scaleprobe_bpetrain_x1" -> bpetrain(1), "scaleprobe_bpetrain_x4" -> bpetrain(4),
      // the binary-quantization claim measured: brute Hamming top-k over
      // an m×-replicated corpus should scale ~linearly in m (the whole
      // point of 8-byte signatures — a memory-bandwidth-bound scan)
      "scaleprobe_hamming_x1" -> ham(1), "scaleprobe_hamming_x4" -> ham(4),
      "scaleprobe_hamming_x16" -> ham(16),
      // engine bulk-ingest slope: constrained InsertFrom over m× the
      // fact cardinality (disjoint customer key spaces)
      "scaleprobe_fkbulk_x1" -> fkbulkProbe(1), "scaleprobe_fkbulk_x4" -> fkbulkProbe(4),
      "scaleprobe_fkbulk_x16" -> fkbulkProbe(16),
      // bucketed streaming state: fixed 8-key incremental batch against
      // m× state (buckets scaled with state) — flat t(m) is the claim
      "scaleprobe_streamstate_x1" -> streamStateProbe(1),
      "scaleprobe_streamstate_x4" -> streamStateProbe(4),
      "scaleprobe_streamstate_x16" -> streamStateProbe(16),
      // DCL branch diff + 3-way merge: fixed base relation, m× disjoint
      // per-branch mutations (bulk inserts + deletes) — cost should be
      // a fixed relation-scan term plus a term linear in the DIFF size
      "scaleprobe_dclmerge_x1" -> dclmergeProbe(1),
      "scaleprobe_dclmerge_x4" -> dclmergeProbe(4),
      "scaleprobe_dclmerge_x16" -> dclmergeProbe(16),
      // write-through persistence: restore + 16 fixed transitions +
      // prune/gc against an m× persisted database — flat t(m) is the
      // O(changed snapshot) claim
      "scaleprobe_persist_x1" -> persistProbe(1),
      "scaleprobe_persist_x4" -> persistProbe(4),
      "scaleprobe_persist_x16" -> persistProbe(16),
      // salted join under a planted single-hot-key heavy tail: linear
      // t(m) with the hot key's work spread across the executor width
      "scaleprobe_skewjoin_x1" -> skewJoinProbe(1),
      "scaleprobe_skewjoin_x4" -> skewJoinProbe(4),
      "scaleprobe_skewjoin_x16" -> skewJoinProbe(16),
      // incremental components: one fixed batch against m× accumulated
      // graph state — flat t(m) is the O(batch + delta) claim
      "scaleprobe_streamcc_x1" -> streamCcProbe(1),
      "scaleprobe_streamcc_x4" -> streamCcProbe(4),
      "scaleprobe_streamcc_x16" -> streamCcProbe(16),
      // multi-writer CAS contention: W socket writers race a FIXED total
      // of inserts against the whole-db CAS head — wall time should stay
      // bounded by the serialized commit cost while retries grow with W
      // (the whole-db-CAS write ceiling, measured; see CasLadder)
      "scaleprobe_caswriters_x1" -> caswritersProbe(1),
      "scaleprobe_caswriters_x4" -> caswritersProbe(4),
      "scaleprobe_caswriters_x8" -> caswritersProbe(8),
    )
  }

  /** The engine's whole-db CAS write path under real multi-writer
    * contention ([[graft.server.CasLadder]]): fixed 96 total inserts, W
    * racing socket threads, retry-on-conflict-only, exactly-once audited.
    * The verdict frame carries the retry count; wall time is the bench's
    * measurement. */
  private def caswritersProbe(w: Int): (SparkSession, String) => DataFrame = (s, dir) => {
    val r = graft.server.CasLadder.run(s, dir, writers = w, totalInserts = 96)
    s.range(1).select(lit(r.writers).as("writers"),
      lit(r.totalInserts).as("total_inserts"),
      lit(r.retries).as("retries"), lit(r.rowsLanded).as("rows_landed"))
  }

  private def ham(m: Int): (SparkSession, String) => DataFrame =
    (s, dir) => graft.pipeline.Ann.hammingTopK(replicatedEmbeddings(s, dir, m))

  def oracleSql: Map[String, String] = Map(
    "drl_base_scan" -> "SELECT * FROM region",
    "drl_const" -> "SELECT CAST(1 AS BIGINT) AS k, CAST('graft' AS VARCHAR) AS label",
    "drl_project" -> "SELECT n_name, n_regionkey FROM nation",
    "drl_rename" -> "SELECT n_name AS nation_name FROM nation",
    "drl_select_const" -> "SELECT * FROM nation WHERE n_regionkey = 2",
    "drl_select_semijoin" ->
      "SELECT o.* FROM orders o WHERE o.o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')",
    "drl_join" ->
      ("SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment, " +
        "o.o_orderkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority " +
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey"),
    "drl_join3" ->
      ("SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice, c.c_name " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "JOIN customer c ON o.o_custkey = c.c_custkey"),
    "drl_cartesian" -> "SELECT * FROM region CROSS JOIN nation",
    "drl_union" ->
      "SELECT n_regionkey FROM nation UNION ALL SELECT r_regionkey AS n_regionkey FROM region",
    "drl_diff" -> "SELECT l_returnflag FROM lineitem WHERE l_returnflag IS DISTINCT FROM 'A'",
    "drl_take" -> "SELECT * FROM region LIMIT 5",
    "drl_virtual_lt" ->
      ("SELECT o_custkey AS \"left\", o_orderkey AS \"right\" FROM orders " +
        "WHERE o_custkey >= 0 AND o_orderkey >= 0 AND o_custkey < o_orderkey"),
    "drl_virtual_plus" ->
      ("SELECT l_orderkey AS a, l_linenumber AS b, l_suppkey AS \"sum\" FROM lineitem " +
        "WHERE l_orderkey >= 0 AND l_linenumber >= 0 AND l_suppkey >= 0 " +
        "AND l_orderkey + l_linenumber = l_suppkey"),
    "drl_sort_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "drl_aggregate" ->
      ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows, " +
        "CAST(SUM(l_linenumber) AS BIGINT) AS sum_ln, " +
        "MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok FROM lineitem " +
        "GROUP BY l_returnflag, l_linestatus"),
    "drl_theta_join" ->
      ("SELECT s.s_suppkey, s.s_nationkey, n.n_nationkey, n.n_regionkey " +
        "FROM supplier s JOIN nation n ON s.s_suppkey < n.n_nationkey AND s.s_nationkey <> n.n_regionkey"),
    "drl_window" ->
      ("SELECT c_custkey, c_nationkey, c_acctbal, " +
        "ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn " +
        "FROM customer"),
    "drl_window_lag" ->
      ("SELECT n_nationkey, n_name, n_regionkey, " +
        "LAG(n_name) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS prev_name " +
        "FROM nation"),
    "drl_window_runsum" ->
      ("SELECT l_orderkey, l_linenumber, " +
        "SUM(l_linenumber) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber " +
        "ROWS UNBOUNDED PRECEDING)::BIGINT AS rs FROM lineitem"),
    "dml_pipeline" ->
      ("SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region WHERE r_regionkey <> 0 " +
        "UNION ALL SELECT 99, 'LAPUTA'"),
    "dml_assign" ->
      ("SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice " +
        "FROM orders WHERE o_orderstatus = 'F'"),
    // re-derives the engine's canonical tuple encoding + sha-256 over
    // rational (float-valued) attributes; the .25-grid literals render
    // identically as doubles in Spark and DuckDB
    "dml_rational_hash" ->
      ("""WITH t(item, price) AS (VALUES (CAST(1 AS BIGINT), CAST(10.5 AS DOUBLE)), """ +
        """(2, -2.75), (3, 4.0), (4, 0.25)), """ +
        """e AS (SELECT item, price, 'priced|item:i:' || octet_length(encode(item::VARCHAR)) """ +
        """|| ':' || item::VARCHAR || ';price:f:' || octet_length(encode(price::VARCHAR)) """ +
        """|| ':' || price::VARCHAR AS enc FROM t) """ +
        """SELECT item, price, sha256(enc) AS content_hash FROM e"""),
    "ddl_catalog" ->
      ("SELECT * FROM (VALUES ('sakura:relation'),('sakura:domain'),('sakura:attribute')," +
        "('sakura:constraint'),('sakura:on'),('sakura:timing'),('region_copy')) t(name)"),
    "ddl_attributes" ->
      ("SELECT * FROM (VALUES ('pair','k','integer'),('pair','v','string')) " +
        "t(relation_name, attr_name, domain_name)"),
    "ddl_domains" ->
      ("SELECT * FROM (VALUES ('integer'),('natural'),('rational'),('string'),('money')) " +
        "t(name)"),
    "dcl_branch_catalog" ->
      "SELECT * FROM (VALUES ('main'),('feature'),('main')) t(name)",
    "dcl_branch_retip" ->
      "SELECT CAST(1 AS INTEGER) AS k",
    "icl_fk_pipeline" ->
      ("SELECT CAST(n_nationkey AS BIGINT) AS emp_id, CAST(n_regionkey AS BIGINT) AS dept_id " +
        "FROM nation"),
    "icl_fk_bulk" ->
      ("SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, CAST(n_nationkey AS BIGINT) AS n_nationkey, " +
        "CAST(c_custkey AS BIGINT) AS c_custkey FROM region CROSS JOIN nation CROSS JOIN customer"),
    "icl_quantifier_pipeline" ->
      ("SELECT CAST(r_regionkey AS BIGINT) AS dept_id FROM region " +
        "UNION ALL SELECT 90"),
    "icl_exclusion_pipeline" ->
      "SELECT CAST(n_nationkey AS BIGINT) AS dept_id FROM nation WHERE n_nationkey > 4",
    "icl_conjunction_pipeline" ->
      ("SELECT CAST(n_nationkey AS BIGINT) AS sid, CAST(n_regionkey AS BIGINT) AS score " +
        "FROM nation"),
    "icl_nway_pipeline" ->
      ("SELECT * FROM (VALUES (CAST(1001 AS BIGINT), 'TowerA'), (1002, 'TowerA'), " +
        "(1003, 'TowerA')) t(suite_id, building_name)"),
    "icl_constraint_catalog" ->
      ("SELECT * FROM (VALUES ('score_range','scores'),('student_known','scores')) " +
        "t(name, relation_name)"),
    // the orphan-and-repair window nets out to the original FK-closed
    // state: every nation-derived employee joins its restored department
    "icl_deferred_commit" ->
      ("SELECT CAST(n_nationkey AS BIGINT) AS emp_id, CAST(n_regionkey AS BIGINT) AS dept_id " +
        "FROM nation"),
    "dcl_branch_merge" ->
      ("SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region " +
        "UNION ALL SELECT 88, 'MAIN' UNION ALL SELECT 77, 'FEATURE'"),
    // exactly the two divergent rows, tagged by direction
    "dcl_diff" ->
      """SELECT CAST(77 AS BIGINT) AS r_regionkey, 'FEATURE' AS r_name, 'added' AS change
        |UNION ALL
        |SELECT CAST(0 AS BIGINT), 'AFRICA', 'removed'""".stripMargin,
    // schema-conflict wholesale winner: the right branch's recreation
    "dcl_merge_right" ->
      "SELECT * FROM (VALUES (CAST(77 AS BIGINT), 'FEATURE')) t(k, who)",
    // schema-conflict, neither side wins: the LCA's original extension
    "dcl_merge_revert" ->
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region",
    // the conflict report the merge response must carry: one schema
    // conflict on `scores` (the only conflict kind — see
    // graft.dcl.Merge.Conflicts)
    "dcl_merge_conflicts" ->
      "SELECT 'schema' AS kind, 'scores' AS relation, CAST(1 AS BIGINT) AS n",
    "scl_cursor_stream" -> "SELECT * FROM nation",
    // every nation row must survive the socket + sexp round-trip intact
    "tcp_roundtrip" ->
      ("SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, " +
        "CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation"),
    // transport-invariance: the AF_UNIX socket carries the identical rows
    "tcp_unix_roundtrip" ->
      ("SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, " +
        "CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation"),
    // pre-mutation contents: the 777 insert and the key-0 delete landed
    // after Begin, so the cursor must stream exactly the original rows
    "scl_cursor_snapshot" ->
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region",
    // the cursor pinned main's state before the checkout+rewrite
    "scl_cursor_branch" ->
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region",
    // survives the restart: region rows (minus the k=0 delete) + both
    // singleton inserts; the rejected k=5000 insert must NOT appear
    "persist_restart" ->
      ("SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region WHERE r_regionkey <> 0 " +
        "UNION ALL SELECT 600, 'BEFORE_RESTART' UNION ALL SELECT 700, 'AFTER_RESTART'"),
    // history pruned, live state intact: region rows + the surviving
    // step-3 insert + the post-gc insert (step-1's insert/delete pair
    // nets out; its snapshots are the pruned garbage)
    "persist_gc" ->
      ("SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region " +
        "UNION ALL SELECT 200, 'STEP3' UNION ALL SELECT 300, 'AFTER_GC'"),
    // one shared head across two sockets: region minus B's delete, plus
    // both connections' inserts
    "tcp_shared_head" ->
      ("SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region WHERE r_regionkey <> 2 " +
        "UNION ALL SELECT 600, 'FROM_B' UNION ALL SELECT 700, 'FROM_A'"),
    // CAS conflict scenario: the conflicted attempt wrote nothing and the
    // retry wrote once — final state is region + exactly one row per insert
    "tcp_conflict" ->
      ("SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region " +
        "UNION ALL SELECT 700, 'FROM_A' UNION ALL SELECT 800, 'FROM_B'"),
    // 8 racing writer threads, disjoint keys: whatever the schedule, the
    // converged head is the seed plus EXACTLY one row per (thread, i) —
    // a conflicted attempt applied nothing, a committed one exactly once
    "tcp_concurrent_inserts" ->
      ("SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region " +
        "UNION ALL SELECT 1000 + t.t * 100 + i.i, " +
        "'T' || t.t::VARCHAR || '_' || i.i::VARCHAR " +
        "FROM generate_series(0, 7) AS t(t), generate_series(0, 11) AS i(i)"),
    "agg_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base, " +
        "COUNT(*) AS count_order FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    "agg_revenue_by_nation" ->
      ("SELECT n.n_name, " +
        "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue, " +
        "COUNT(*) AS n_items " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "JOIN customer c ON o.o_custkey = c.c_custkey " +
        "JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name"),
    "agg_top_orders" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "agg_supplier_variety" ->
      ("SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt, " +
        "COUNT(*) AS n_lineitems FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand, p_type"),
    // quadratic NOT-EXISTS dominance — fine at oracle scale; the Spark
    // side is the distributed sort-sweep
    "agg_pareto_front" ->
      """SELECT p_partkey, p_retailprice, p_size FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))""".stripMargin,
    "text_hash_embed" -> graft.pipeline.TextPipeline.hashEmbedOracle(
      "documents", "doc_id", "text"),
    "text_char_gini" -> graft.pipeline.TextPipeline.charGiniOracle(
      "documents", "doc_id", "text"),
    "text_zipf_rank" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents),
        |f AS (SELECT token, count(*) AS tf FROM t GROUP BY 1)
        |SELECT token, tf, row_number() OVER (ORDER BY tf DESC, token) AS zipf_rank FROM f""".stripMargin,
    "text_hapax_ratio" ->
      """WITH t AS (SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents),
        |f AS (SELECT lang, token, count(*) AS tf FROM t GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_terms,
        |  sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
        |  (sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE) AS hapax_ratio
        |FROM f GROUP BY lang""".stripMargin,
    "agg_q3_shipping" ->
      ("""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-06-30'
         |  AND l_shipdate > TIMESTAMP '1998-06-30'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    "agg_q5_local_supplier" ->
      ("""SELECT n_name,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n_name""".stripMargin),
    "agg_q10_returns" ->
      ("""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-07-01'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    "agg_nation_traffic" ->
      ("SELECT s_nationkey AS supp_nation, c_nationkey AS cust_nation, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS volume, " +
        "COUNT(*) AS n_items FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE s_nationkey <> c_nationkey GROUP BY 1, 2"),
    "agg_rollup" ->
      ("SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n_items FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"),
    "agg_running_total" ->
      ("""SELECT o_orderkey, o_custkey,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER cum AS DOUBLE) AS run_total,
         |  row_number() OVER ord AS rn
         |FROM orders
         |WINDOW cum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING),
         |  ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin),
    "agg_no_urgent_customers" ->
      ("SELECT c_nationkey, COUNT(*) AS n_customers FROM customer " +
        "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') " +
        "GROUP BY c_nationkey"),
    "agg_priority_pivot" ->
      ("""SELECT year(o_orderdate) AS yr,
         |  SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS urgent,
         |  SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT AS high,
         |  SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS medium,
         |  SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)::BIGINT AS notspec,
         |  SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS low
         |FROM orders GROUP BY yr""".stripMargin),
    "agg_quartiles" ->
      ("SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS q1, " +
        "quantile_cont(l_quantity, 0.5) AS med, quantile_cont(l_quantity, 0.75) AS q3, " +
        "COUNT(*) AS n FROM lineitem GROUP BY l_returnflag"),
    "agg_decile_profile" ->
      ("""WITH d AS (SELECT ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile,
         |  o_totalprice FROM orders)
         |SELECT decile, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS volume
         |FROM d GROUP BY decile""".stripMargin),
    "agg_small_quantity_revenue" ->
      ("""WITH pa AS (SELECT l_partkey AS pk, COUNT(*) AS cnt,
         |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq FROM lineitem GROUP BY 1)
         |SELECT COUNT(*) AS n_small,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM lineitem JOIN pa ON l_partkey = pk
         |WHERE CAST(5 * l_quantity AS DECIMAL(18,2)) * cnt < sq""".stripMargin),
    "agg_cube" ->
      ("SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls, " +
        "GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n_items FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"),
    "agg_grouping_sets" ->
      """WITH li AS (SELECT l_returnflag, l_linestatus,
        |              year(l_shipdate) AS ship_year, l_quantity FROM lineitem)
        |SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  COALESCE(ship_year::VARCHAR, 'ALL') AS yr,
        |  GROUPING(l_returnflag, l_linestatus, ship_year)::BIGINT AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM li
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())""".stripMargin,
    "agg_histogram" ->
      ("SELECT floor(l_extendedprice / 1000)::BIGINT AS bin, COUNT(*) AS n_items, " +
        "min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
        "FROM lineitem GROUP BY 1"),
    "events_props_agg" ->
      ("""SELECT event_type, count(*) AS n_events,
         |  count(json_extract_string(props, '$.k')) AS n_with_k,
         |  sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
         |  min(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS min_k,
         |  max(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS max_k
         |FROM events GROUP BY event_type""".stripMargin),
    "agg_funnel" ->
      ("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
         |s1 AS (SELECT user_id, min(tus) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(tus) AS t2 FROM e JOIN s1 USING (user_id)
         |       WHERE event_type = 'click' AND tus >= t1 GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(tus) AS t3 FROM e JOIN s2 USING (user_id)
         |       WHERE event_type = 'purchase' AND tus >= t2 GROUP BY 1)
         |SELECT (SELECT count(DISTINCT user_id) FROM e) AS n_users,
         |  (SELECT count(*) FROM s1) AS n_signup,
         |  (SELECT count(*) FROM s2) AS n_signup_click,
         |  (SELECT count(*) FROM s3) AS n_signup_click_purchase""".stripMargin),
    "agg_key_skew" ->
      ("""WITH sz AS (SELECT l_orderkey, count(*) AS sz FROM lineitem GROUP BY 1)
         |SELECT count(*) AS n_keys, max(sz) AS max_sz,
         |  quantile_cont(sz, 0.5) AS p50_sz, quantile_cont(sz, 0.75) AS p75_sz,
         |  sum(sz)::DOUBLE / count(*) AS avg_sz FROM sz""".stripMargin),
    "agg_gini_revenue" ->
      ("""WITH x AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
         |      FROM orders GROUP BY 1),
         |r AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS r FROM x),
         |s AS (SELECT count(*) AS n, sum(x) AS total, sum(r * x) AS rx FROM r)
         |SELECT n, round((2.0 * CAST(rx AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(total AS DOUBLE))
         |  / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)), 6) AS gini FROM s""".stripMargin),
    "agg_lorenz_deciles" ->
      ("""WITH x AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
         |      FROM orders GROUP BY 1),
         |d AS (SELECT x, ntile(10) OVER (ORDER BY x, o_custkey) AS decile FROM x),
         |g AS (SELECT decile, count(*) AS n_customers, sum(x) AS rev FROM d GROUP BY 1)
         |SELECT decile, n_customers, CAST(rev AS DOUBLE) AS decile_revenue,
         |  round(CAST(sum(rev) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    / CAST(sum(rev) OVER () AS DOUBLE), 6) AS cum_share
         |FROM g""".stripMargin),
    "profile_cramers_v" -> graft.pipeline.Profile.cramersVOracle(
      "lineitem", "l_returnflag", Seq("A", "N", "R"), "l_linestatus", Seq("F", "O")),
    "agg_trailing_30d" ->
      ("""SELECT o_orderkey, o_custkey, (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS day,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trail_total,
         |  COUNT(*) OVER w AS trail_n
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY (o_orderdate::DATE - DATE '1970-01-01')::BIGINT
         |  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin),
    // id-ordered closure (a < b < c) counts each triangle once — the same
    // multiset the degree-ordered Spark orientation produces
    "graph_triangles" ->
      ("""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
         |e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
         |n AS (SELECT count(DISTINCT v) AS n_nodes FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)),
         |ne AS (SELECT count(*) AS n_edges FROM e),
         |t AS (SELECT count(*) AS n_triangles FROM e e1
         |      JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT n_nodes, n_edges, n_triangles FROM n, ne, t""".stripMargin),
    // evidence-thresholded edges; every wedge via the symmetric
    // adjacency, already-linked pairs anti-joined out
    "graph_common_neighbors" ->
      (s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
         |e AS (SELECT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p
         |      GROUP BY 1, 2 HAVING count(*) >= $CoPurchaseMinSupport),
         |sym AS (SELECT a AS v, b AS u FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT v, count(*) AS d FROM sym GROUP BY 1),
         |w AS (SELECT s1.u AS a, s2.u AS b, (1000000 // deg.d) AS ra
         |      FROM sym s1 JOIN sym s2 ON s1.v = s2.v AND s1.u < s2.u
         |      JOIN deg ON deg.v = s1.v),
         |c AS (SELECT a, b, count(*) AS common, sum(ra)::BIGINT AS ra_score FROM w GROUP BY 1, 2),
         |nc AS (SELECT c.a, c.b, c.common, c.ra_score FROM c LEFT JOIN e ON c.a = e.a AND c.b = e.b
         |       WHERE e.a IS NULL)
         |SELECT a, b, common, ra_score FROM nc
         |ORDER BY common DESC, ra_score DESC, a, b LIMIT 20""".stripMargin),
    "graph_jaccard_links" ->
      (s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
         |e AS (SELECT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p
         |      GROUP BY 1, 2 HAVING count(*) >= $CoPurchaseMinSupport),
         |sym AS (SELECT a AS v, b AS u FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT v, count(*) AS d FROM sym GROUP BY 1),
         |c AS (SELECT s1.u AS a, s2.u AS b, count(*) AS common
         |      FROM sym s1 JOIN sym s2 ON s1.v = s2.v AND s1.u < s2.u GROUP BY 1, 2),
         |nc AS (SELECT c.a, c.b, c.common FROM c LEFT JOIN e ON c.a = e.a AND c.b = e.b
         |       WHERE e.a IS NULL),
         |s AS (SELECT nc.a, nc.b, nc.common, da.d AS deg_a, db.d AS deg_b,
         |        nc.common::DOUBLE / (da.d + db.d - nc.common)::DOUBLE AS jaccard
         |      FROM nc JOIN deg da ON nc.a = da.v JOIN deg db ON nc.b = db.v)
         |SELECT a, b, common, deg_a, deg_b, jaccard FROM s
         |ORDER BY jaccard DESC, common DESC, a, b LIMIT 20""".stripMargin),
    "graph_clustering_coeff" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |            FROM lineitem WHERE l_quantity > 45),
        |e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
        |sym AS (SELECT a AS v, b AS u FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT v, count(*) AS degree FROM sym GROUP BY 1),
        |w AS (SELECT s1.v, s1.u AS x, s2.u AS y
        |      FROM sym s1 JOIN sym s2 ON s1.v = s2.v AND s1.u < s2.u),
        |t AS (SELECT w.v, count(*) AS triangles FROM w
        |      JOIN e ON w.x = e.a AND w.y = e.b GROUP BY 1)
        |SELECT d.v AS part, d.degree, COALESCE(t.triangles, 0) AS triangles,
        |  round(2 * COALESCE(t.triangles, 0)::DOUBLE / (d.degree * (d.degree - 1))::DOUBLE, 4) AS coeff
        |FROM deg d LEFT JOIN t ON d.v = t.v WHERE d.degree >= 2""".stripMargin,
    "graph_pagerank" -> {
      def round(prev: String): String =
        s"""SELECT d.dst AS v, CAST($PageRankBase + (85 * sum($prev.r // deg.od)) // 100 AS BIGINT) AS r
           |      FROM d JOIN deg USING (src) JOIN $prev ON $prev.v = d.src GROUP BY d.dst""".stripMargin
      s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
         |e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
         |d AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT src, count(*) AS od FROM d GROUP BY src),
         |r0 AS (SELECT src AS v, CAST($PageRankScale AS BIGINT) AS r FROM deg),
         |r1 AS (${round("r0")}),
         |r2 AS (${round("r1")}),
         |r3 AS (${round("r2")})
         |SELECT v AS part, r AS rank_scaled FROM r3""".stripMargin
    },
    // min-reachable-id closure: the oracle replays connectivity by
    // recursive transitive reachability (fine at oracle scale; the
    // Spark side is the O(log²)-round star alternation)
    "graph_components" -> ComponentsClosureSql,
    "graph_kcore" -> graft.pipeline.Oracles.graphKCore(3,
      graft.operators.KCore.Rounds),
    "graph_ktruss" -> graft.pipeline.Oracles.graphKTruss(4,
      graft.operators.Truss.Rounds),
    "graph_label_prop" -> graft.pipeline.Oracles.graphLabelProp(
      graft.operators.LabelProp.Rounds),
    "graph_label_prop_stable" -> graft.pipeline.Oracles.graphLabelPropStable(
      graft.operators.LabelProp.StableRounds),
    "graph_modularity" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
        |      WHERE l_quantity > 45),
        |e AS (SELECT DISTINCT a.p AS src, b.p AS dst
        |      FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
        |t AS (SELECT pa.p_brand AS la, pb.p_brand AS lb FROM e
        |      JOIN part pa ON pa.p_partkey = e.src
        |      JOIN part pb ON pb.p_partkey = e.dst),
        |x AS (SELECT la AS c, CASE WHEN la = lb THEN 1 ELSE 0 END AS intra, 1 AS deg FROM t
        |      UNION ALL SELECT lb, 0, 1 FROM t),
        |pc AS (SELECT c, CAST(sum(intra) AS BIGINT) AS lc, CAST(sum(deg) AS BIGINT) AS dc
        |       FROM x GROUP BY 1)
        |SELECT count(*) AS n_groups, CAST(sum(dc) // 2 AS BIGINT) AS m_edges,
        |       CAST(2 * sum(dc) * sum(lc) - sum(dc * dc) AS BIGINT) AS q_num,
        |       round(CAST(2 * sum(dc) * sum(lc) - sum(dc * dc) AS BIGINT)::DOUBLE
        |             / (CAST(sum(dc) AS DOUBLE) * CAST(sum(dc) AS DOUBLE)), 6) AS modularity
        |FROM pc""".stripMargin,
    "graph_assortativity" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS s1, b.p AS s2 FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
        |d AS (SELECT v, count(*) AS deg
        |      FROM (SELECT s1 AS v FROM e UNION ALL SELECT s2 FROM e) GROUP BY 1),
        |de AS (SELECT s1 AS a, s2 AS b FROM e UNION ALL SELECT s2, s1 FROM e),
        |j AS (SELECT da.deg AS ja, db.deg AS kb
        |      FROM de JOIN d da ON da.v = de.a JOIN d db ON db.v = de.b),
        |s AS (SELECT count(*)::BIGINT AS m, sum(ja)::BIGINT AS sj, sum(kb)::BIGINT AS sk,
        |        sum(ja*ja)::BIGINT AS sjj, sum(kb*kb)::BIGINT AS skk,
        |        sum(ja*kb)::BIGINT AS sjk FROM j)
        |SELECT (m // 2)::BIGINT AS n_edges,
        |  round((m*sjk - sj*sk)::DOUBLE /
        |        (CASE WHEN m*sjj = sj*sj THEN NULL
        |              ELSE sqrt((m*sjj - sj*sj)::DOUBLE) * sqrt((m*skk - sk*sk)::DOUBLE) END),
        |        4) AS assortativity
        |FROM s""".stripMargin,
    "graph_bfs" -> graft.operators.Bfs.levelsOracle(
      """lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |ed AS (SELECT DISTINCT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
        |e AS (SELECT a AS src, b AS dst FROM ed UNION ALL SELECT b, a FROM ed)""".stripMargin,
      "s AS (SELECT DISTINCT p AS node FROM lp WHERE p % 400 = 1)",
      maxDepth = BfsMaxDepth),
    "graph_degree_hist" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
        |deg AS (SELECT v, count(*) AS degree
        |        FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v)
        |SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree""".stripMargin,
    "ts_gapfill" ->
      s"""WITH obs AS (SELECT user_id, epoch_us(ts) // $RangeJoinDayUs AS day,
         |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
         |      FROM events GROUP BY 1, 2),
         |span AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM obs GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day FROM span),
         |j AS (SELECT g.user_id, g.day, o.day_value, o.day IS NOT NULL AS obs_row
         |      FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day)
         |SELECT user_id, day,
         |  last_value(day_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day_value,
         |  NOT obs_row AS is_gap
         |FROM j""".stripMargin,
    // mirror of GapFill.interpolate: anchors travel as structs through
    // two opposed window passes; the arithmetic is the same fixed-order
    // expression (long subtractions, one multiply, ONE division)
    "ts_interpolate" ->
      s"""WITH obs AS (SELECT user_id, epoch_us(ts) // $RangeJoinDayUs AS day,
         |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
         |      FROM events GROUP BY 1, 2),
         |span AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM obs GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day FROM span),
         |j AS (SELECT g.user_id, g.day, o.day_value, o.day IS NOT NULL AS obs_row
         |      FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day),
         |a AS (SELECT user_id, day, obs_row,
         |  last_value(CASE WHEN day_value IS NOT NULL
         |                  THEN struct_pack(t := day, v := day_value) END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
         |  last_value(CASE WHEN day_value IS NOT NULL
         |                  THEN struct_pack(t := day, v := day_value) END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY day DESC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
         | FROM j)
         |SELECT user_id, day,
         |  CASE WHEN p IS NULL OR n IS NULL THEN NULL
         |       WHEN n.t = p.t THEN p.v
         |       ELSE p.v + (n.v - p.v) * ((day - p.t)::DOUBLE) / ((n.t - p.t)::DOUBLE)
         |  END AS day_value,
         |  NOT obs_row AS is_gap
         |FROM a""".stripMargin,
    // Key semantics mirror Spark's split(s,' ')[1]: a name with no
    // space has NO second token (NULL key, row dropped by the equi-
    // join) — distinct from a name whose second token is '' (kept).
    // The `keep` CTE mirrors Fuzzy.blockedPairs' maxBlock cap.
    "er_fuzzy_pairs" ->
      s"""WITH n AS (SELECT DISTINCT p_name AS s,
         |         CASE WHEN p_name LIKE '% %' THEN split_part(p_name, ' ', 2) END AS k
         |       FROM part),
         |f AS (SELECT s, k FROM n WHERE k IS NOT NULL),
         |keep AS (SELECT k FROM f GROUP BY k HAVING count(*) <= $FuzzyMaxBlock),
         |blk AS (SELECT f.s, f.k FROM f JOIN keep USING (k))
         |SELECT a.s AS name_a, b.s AS name_b, CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         |FROM blk a JOIN blk b ON a.k = b.k AND a.s < b.s
         |WHERE levenshtein(a.s, b.s) <= $FuzzyMaxDist""".stripMargin,
    // truth = lossless length-band pairs on the gated slice; candidates
    // = the production noun-token blocking on the same slice
    "er_blocking_recall" ->
      s"""WITH nm AS (SELECT DISTINCT p_name AS s FROM part WHERE p_partkey % 8 = 0),
         |tr AS (SELECT count(*)::BIGINT AS n_true_pairs
         |       FROM nm a JOIN nm b
         |         ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= $FuzzyMaxDist
         |       WHERE levenshtein(a.s, b.s) <= $FuzzyMaxDist),
         |k AS (SELECT s, CASE WHEN s LIKE '% %' THEN split_part(s, ' ', 2) END AS k FROM nm),
         |f AS (SELECT s, k FROM k WHERE k IS NOT NULL),
         |keep AS (SELECT k FROM f GROUP BY k HAVING count(*) <= $FuzzyMaxBlock),
         |blk AS (SELECT f.s, f.k FROM f JOIN keep USING (k)),
         |ca AS (SELECT count(*)::BIGINT AS n_blocked_pairs
         |       FROM blk a JOIN blk b ON a.k = b.k AND a.s < b.s
         |       WHERE levenshtein(a.s, b.s) <= $FuzzyMaxDist)
         |SELECT tr.n_true_pairs, ca.n_blocked_pairs,
         |  (tr.n_true_pairs - ca.n_blocked_pairs)::BIGINT AS n_missed,
         |  CASE WHEN tr.n_true_pairs = 0 THEN NULL
         |       ELSE round(ca.n_blocked_pairs::DOUBLE / tr.n_true_pairs::DOUBLE, 4)
         |  END AS recall
         |FROM tr, ca""".stripMargin,
    // transitive closure over the fuzzy-pair edges, min-name canonical
    "er_entities" ->
      s"""WITH RECURSIVE n AS (SELECT DISTINCT p_name AS s,
         |         CASE WHEN p_name LIKE '% %' THEN split_part(p_name, ' ', 2) END AS k
         |       FROM part),
         |f AS (SELECT s, k FROM n WHERE k IS NOT NULL),
         |keep AS (SELECT k FROM f GROUP BY k HAVING count(*) <= $FuzzyMaxBlock),
         |blk AS (SELECT f.s, f.k FROM f JOIN keep USING (k)),
         |p AS (SELECT a.s AS da, b.s AS db FROM blk a JOIN blk b ON a.k = b.k AND a.s < b.s
         |      WHERE levenshtein(a.s, b.s) <= $FuzzyMaxDist),
         |e AS (SELECT da AS src, db AS dst FROM p UNION ALL SELECT db, da FROM p),
         |an AS (SELECT DISTINCT p_name AS s FROM part),
         |reach AS (SELECT s AS id, s AS rid FROM an
         |          UNION
         |          SELECT r.id, e.dst AS rid FROM reach r JOIN e ON e.src = r.rid),
         |clus AS (SELECT id, min(rid) AS cluster_id FROM reach GROUP BY id)
         |SELECT cluster_id AS canonical, count(*) AS n_members FROM clus
         |GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    "er_golden_record" ->
      s"""WITH RECURSIVE n AS (SELECT DISTINCT p_name AS s,
         |         CASE WHEN p_name LIKE '% %' THEN split_part(p_name, ' ', 2) END AS k
         |       FROM part),
         |f AS (SELECT s, k FROM n WHERE k IS NOT NULL),
         |keep AS (SELECT k FROM f GROUP BY k HAVING count(*) <= $FuzzyMaxBlock),
         |blk AS (SELECT f.s, f.k FROM f JOIN keep USING (k)),
         |p AS (SELECT a.s AS da, b.s AS db FROM blk a JOIN blk b ON a.k = b.k AND a.s < b.s
         |      WHERE levenshtein(a.s, b.s) <= $FuzzyMaxDist),
         |e AS (SELECT da AS src, db AS dst FROM p UNION ALL SELECT db, da FROM p),
         |an AS (SELECT DISTINCT p_name AS s FROM part),
         |reach AS (SELECT s AS id, s AS rid FROM an
         |          UNION
         |          SELECT r.id, e.dst AS rid FROM reach r JOIN e ON e.src = r.rid),
         |clus AS (SELECT id, min(rid) AS cluster_id FROM reach GROUP BY id),
         |g AS (SELECT c.cluster_id AS canonical, min(pt.p_partkey) AS golden_partkey,
         |        max(CAST(pt.p_retailprice AS DECIMAL(18,2))) AS gp,
         |        count(DISTINCT pt.p_name) AS n_names, count(*) AS n_rows
         |      FROM part pt JOIN clus c ON c.id = pt.p_name GROUP BY 1)
         |SELECT canonical, golden_partkey, CAST(gp AS DOUBLE) AS golden_price,
         |       n_names, n_rows
         |FROM g WHERE n_names > 1""".stripMargin,
    "er_cluster_stats" ->
      s"""WITH RECURSIVE n AS (SELECT DISTINCT p_name AS s,
         |         CASE WHEN p_name LIKE '% %' THEN split_part(p_name, ' ', 2) END AS k
         |       FROM part),
         |f AS (SELECT s, k FROM n WHERE k IS NOT NULL),
         |keep AS (SELECT k FROM f GROUP BY k HAVING count(*) <= $FuzzyMaxBlock),
         |blk AS (SELECT f.s, f.k FROM f JOIN keep USING (k)),
         |p AS (SELECT a.s AS da, b.s AS db FROM blk a JOIN blk b ON a.k = b.k AND a.s < b.s
         |      WHERE levenshtein(a.s, b.s) <= $FuzzyMaxDist),
         |e AS (SELECT da AS src, db AS dst FROM p UNION ALL SELECT db, da FROM p),
         |an AS (SELECT DISTINCT p_name AS s FROM part),
         |reach AS (SELECT s AS id, s AS rid FROM an
         |          UNION
         |          SELECT r.id, e.dst AS rid FROM reach r JOIN e ON e.src = r.rid),
         |clus AS (SELECT id, min(rid) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT cluster_id, count(*) AS sz FROM clus GROUP BY 1),
         |t AS (SELECT sum(sz) AS total FROM sz)
         |SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters,
         |  sum(sz)::BIGINT AS n_records,
         |  round(sum(sz)::DOUBLE / t.total::DOUBLE, 4) AS pct_records
         |FROM sz, t GROUP BY sz, t.total""".stripMargin,
    "join_full_outer" ->
      s"""WITH s AS (SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
         |      FROM orders GROUP BY 1
         |      HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) > $SpendBar),
         |a AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1 HAVING count(*) >= $ActiveBar)
         |SELECT coalesce(o_custkey, user_id) AS id, spend, n_events
         |FROM s FULL JOIN a ON o_custkey = user_id""".stripMargin,
    "interval_overlap_orders" ->
      """WITH sp AS (SELECT o_custkey, o_orderkey AS ok,
        |  (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS lo,
        |  (o_orderdate::DATE - DATE '1970-01-01')::BIGINT
        |    + 10 * CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS hi
        |  FROM orders)
        |SELECT a.o_custkey, a.ok AS o_a, b.ok AS o_b,
        |  least(a.hi, b.hi) - greatest(a.lo, b.lo) AS overlap_days
        |FROM sp a JOIN sp b ON a.o_custkey = b.o_custkey AND a.ok < b.ok
        |  AND a.lo <= b.hi AND b.lo <= a.hi""".stripMargin,
    "agg_cohort_retention" ->
      s"""WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // $RangeJoinDayUs AS day FROM events),
         |f AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY 1)
         |SELECT f.cohort, d.day - f.cohort AS day_offset, count(*) AS n_active
         |FROM d JOIN f ON d.user_id = f.user_id GROUP BY 1, 2""".stripMargin,
    "basket_frequent_pairs" ->
      s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem)
         |SELECT a.p AS p_a, b.p AS p_b, count(*) AS support
         |FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p
         |GROUP BY 1, 2 HAVING count(*) >= $MinSupport""".stripMargin,
    "basket_rules" ->
      s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
         |n AS (SELECT p, count(*) AS n_item FROM lp GROUP BY 1),
         |pr AS (SELECT a.p AS p_a, b.p AS p_b, count(*)::BIGINT AS support
         |       FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p
         |       GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
         |t AS (SELECT count(DISTINCT ok) AS n_baskets FROM lp)
         |SELECT pr.p_a, pr.p_b, pr.support,
         |  round(pr.support::DOUBLE / na.n_item, 4) AS conf_a_b,
         |  round(pr.support::DOUBLE / nb.n_item, 4) AS conf_b_a,
         |  round((pr.support * t.n_baskets)::DOUBLE / (na.n_item * nb.n_item), 4) AS lift
         |FROM pr JOIN n na ON na.p = pr.p_a JOIN n nb ON nb.p = pr.p_b, t""".stripMargin,
    "profile_columns" ->
      """SELECT 'event_id' AS col_name, count(*) - count(event_id) AS n_nulls, count(DISTINCT event_id) AS n_distinct FROM events
        |UNION ALL SELECT 'ts', count(*) - count(ts), count(DISTINCT ts) FROM events
        |UNION ALL SELECT 'user_id', count(*) - count(user_id), count(DISTINCT user_id) FROM events
        |UNION ALL SELECT 'event_type', count(*) - count(event_type), count(DISTINCT event_type) FROM events
        |UNION ALL SELECT 'value', count(*) - count(value), count(DISTINCT value) FROM events
        |UNION ALL SELECT 'props', count(*) - count(props), count(DISTINCT props) FROM events""".stripMargin,
    "search_topk" -> {
      val terms = SearchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM documents)
         |SELECT doc_id, count(*) AS score, count(DISTINCT token) AS n_terms
         |FROM t WHERE token IN ($terms)
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    },
    "search_phrase" -> {
      graft.pipeline.TextPipeline.phraseSearchOracle("documents", PhraseTerms)
    },
    "seq_transition_counts" ->
      """WITH e AS (SELECT user_id, event_id, event_type AS next, epoch_us(ts) AS tus FROM events),
        |l AS (SELECT next, lag(next) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev FROM e)
        |SELECT prev, next, count(*) AS n FROM l WHERE prev IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "layout_zorder" ->
      s"""SELECT o_orderkey, ${graft.operators.Layout.zkeySql("o_custkey",
            "(o_orderdate::DATE - DATE '1970-01-01')::BIGINT")} AS zkey
         |FROM orders""".stripMargin,
    "layout_hilbert" -> {
      val levels = graft.operators.Layout.hilbertLevelsSql("orders",
        "o_custkey % 65536", "(o_orderdate::DATE - DATE '1970-01-01') % 65536",
        16, Seq("o_orderkey"))
      s"SELECT o_orderkey, hd AS hkey FROM $levels tfin"
    },
    "sketch_quantile_sample" ->
      graft.pipeline.Sketches.sampledQuantileOracle("lineitem",
        "l_orderkey::VARCHAR || '#' || l_linenumber::VARCHAR",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
        q = 0.5, rate = QuantileSampleRate),
    // merge-vs-direct: lossless merging is the contract being checked
    "profile_drift_chi2" -> graft.pipeline.Profile.driftChi2Oracle("documents", "source", "n_chars"),
    "profile_ndv" -> graft.pipeline.Profile.ndvProfileOracle("lineitem", NdvCols),
    "profile_topk_values" -> graft.pipeline.Profile.topkValuesOracle("lineitem", NdvCols),
    "profile_fk_candidates" -> graft.pipeline.Oracles.profileFkCandidates(Seq(
      ("lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("orders", "o_custkey", "customer", "c_custkey"),
      ("customer", "c_nationkey", "nation", "n_nationkey"),
      ("part", "p_size", "nation", "n_nationkey"))),
    "profile_outlier_iqr" -> graft.pipeline.Profile.outlierIqrOracle(
      "lineitem", Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    "profile_corr_matrix" -> graft.pipeline.Profile.corrMatrixOracle(
      "lineitem", Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    "profile_dq_checks" ->
      """WITH oc AS (
        |  SELECT 'orders.custkey_not_null' AS check_name, count(*)::BIGINT AS n_rows,
        |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders.totalprice_positive', count(*),
        |    sum(CASE WHEN o_totalprice <= 0.0 OR o_totalprice IS NULL
        |        THEN 1 ELSE 0 END) FROM orders
        |  UNION ALL
        |  SELECT 'orders.status_in_domain', count(*),
        |    sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') OR o_orderstatus IS NULL
        |        THEN 1 ELSE 0 END) FROM orders
        |  UNION ALL
        |  SELECT 'orders.orderkey_unique', sum(c), sum(c - 1)
        |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
        |  UNION ALL
        |  SELECT 'orders.custkey_fk_customer', count(*),
        |    sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer
        |                           WHERE c_custkey IS NOT NULL) c
        |    ON o.o_custkey = c.c_custkey
        |  UNION ALL
        |  SELECT 'lineitem.returnflag_in_domain', count(*),
        |    sum(CASE WHEN l_returnflag NOT IN ('A','N','R') OR l_returnflag IS NULL
        |        THEN 1 ELSE 0 END) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.qty_in_range', count(*),
        |    sum(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
        |        OR l_quantity IS NULL THEN 1 ELSE 0 END) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.discount_in_range', count(*),
        |    sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
        |        OR l_discount IS NULL THEN 1 ELSE 0 END) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.line_pk_unique', sum(c), sum(c - 1)
        |  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
        |  UNION ALL
        |  SELECT 'lineitem.orderkey_fk_orders', count(*),
        |    sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders
        |                             WHERE o_orderkey IS NOT NULL) o
        |    ON l.l_orderkey = o.o_orderkey)
        |SELECT check_name, n_rows::BIGINT AS n_rows,
        |  n_violations::BIGINT AS n_violations, n_violations = 0 AS pass
        |FROM oc""".stripMargin,
    "layout_retention" ->
      """WITH f AS (SELECT event_type, event_id // 500 AS bucket,
        |    min(epoch_us(ts)) AS min_ts, max(epoch_us(ts)) AS max_ts,
        |    (count(*) * 100)::BIGINT AS bytes
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(min_ts) AS mn, max(max_ts) AS mx FROM f),
        |c AS (SELECT mn + (mx - mn) // 3 * 2 AS cutoff FROM b)
        |SELECT event_type,
        |  sum(CASE WHEN max_ts < cutoff THEN 1 ELSE 0 END)::BIGINT AS n_expired_files,
        |  sum(CASE WHEN max_ts < cutoff THEN bytes ELSE 0 END)::BIGINT AS expired_bytes,
        |  sum(CASE WHEN min_ts < cutoff AND max_ts >= cutoff THEN 1 ELSE 0 END)::BIGINT AS n_straddling_files,
        |  sum(CASE WHEN min_ts < cutoff AND max_ts >= cutoff THEN bytes ELSE 0 END)::BIGINT AS straddling_bytes,
        |  sum(CASE WHEN min_ts >= cutoff THEN 1 ELSE 0 END)::BIGINT AS n_kept_files,
        |  sum(CASE WHEN min_ts >= cutoff THEN bytes ELSE 0 END)::BIGINT AS kept_bytes
        |FROM f, c GROUP BY event_type""".stripMargin,
    "layout_cluster_depth" ->
      """WITH li AS (SELECT l_orderkey // 200 AS file, l_orderkey, l_partkey FROM lineitem),
        |fo AS (SELECT 'by_orderkey' AS layout, file, min(l_orderkey) AS min_k, max(l_orderkey) AS max_k FROM li GROUP BY 1, 2),
        |fp AS (SELECT 'by_partkey' AS layout, file, min(l_partkey) AS min_k, max(l_partkey) AS max_k FROM li GROUP BY 1, 2),
        |f AS (SELECT * FROM fo UNION ALL SELECT * FROM fp),
        |ev AS (SELECT layout, min_k AS k, 1::BIGINT AS d FROM f
        |       UNION ALL SELECT layout, max_k AS k, -1::BIGINT AS d FROM f),
        |sw AS (SELECT layout, d,
        |         (sum(d) OVER (PARTITION BY layout ORDER BY k, d DESC
        |                       ROWS UNBOUNDED PRECEDING))::BIGINT AS depth FROM ev)
        |SELECT layout, count(*)::BIGINT AS n_files, max(depth) AS max_depth,
        |  round(sum(depth)::DOUBLE / count(*), 4) AS avg_depth
        |FROM sw WHERE d = 1 GROUP BY layout""".stripMargin,
    "layout_skip_measured" -> {
      val zk = graft.operators.Layout.zkeySql("ok", "pk")
      s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk, l_linenumber AS ln FROM lineitem),
         |lin AS (SELECT 'linear' AS layout, ntile(64) OVER (ORDER BY ok, pk, ln) AS file, ok, pk FROM li),
         |zo AS (SELECT 'zorder' AS layout, ntile(64) OVER (ORDER BY $zk, ok, pk, ln) AS file, ok, pk FROM li),
         |z AS (SELECT layout, file, min(ok) AS min_ok, max(ok) AS max_ok,
         |        min(pk) AS min_pk, max(pk) AS max_pk
         |      FROM (SELECT * FROM lin UNION ALL SELECT * FROM zo) GROUP BY 1, 2),
         |b AS (SELECT min(ok) AS ok_mn, max(ok) AS ok_mx, min(pk) AS pk_mn, max(pk) AS pk_mx FROM li),
         |q(qid, alo, ahi, blo, bhi) AS (VALUES (1,0,10,0,10), (2,45,55,45,55),
         |  (3,20,30,60,80), (4,0,100,30,32)),
         |e AS (SELECT z.layout, q.qid, z.min_ok, z.max_ok, z.min_pk, z.max_pk,
         |        b.ok_mn + ((b.ok_mx - b.ok_mn) * q.alo) // 100 AS lo_ok,
         |        b.ok_mn + ((b.ok_mx - b.ok_mn) * q.ahi) // 100 AS hi_ok,
         |        b.pk_mn + ((b.pk_mx - b.pk_mn) * q.blo) // 100 AS lo_pk,
         |        b.pk_mn + ((b.pk_mx - b.pk_mn) * q.bhi) // 100 AS hi_pk
         |      FROM z, b, q)
         |SELECT layout, qid::BIGINT AS qid, count(*)::BIGINT AS n_files,
         |  sum(CASE WHEN min_ok <= hi_ok AND max_ok >= lo_ok
         |        AND min_pk <= hi_pk AND max_pk >= lo_pk THEN 1 ELSE 0 END)::BIGINT AS n_read,
         |  round(1.0 - sum(CASE WHEN min_ok <= hi_ok AND max_ok >= lo_ok
         |        AND min_pk <= hi_pk AND max_pk >= lo_pk THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS skip_ratio
         |FROM e GROUP BY 1, 2""".stripMargin
    },
    "layout_dict_estimate" -> graft.pipeline.Profile.dictEstimateOracle(
      "part", Seq("p_name", "p_brand", "p_type")),
    "layout_range_bounds" -> graft.operators.Layout.rangeBoundsOracle(
      "lineitem", "l_orderkey::VARCHAR || '#' || l_linenumber::VARCHAR",
      "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
      numPartitions = 8, rate = QuantileSampleRate),
    "sketch_quantile_rollup" ->
      graft.pipeline.Sketches.quantileRollupOracle("lineitem", "l_shipdate",
        "l_orderkey::VARCHAR || '#' || l_linenumber::VARCHAR",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
        q = 0.5, rate = QuantileSampleRate),
    "agg_mode_event_type" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n,
        |        row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
        |      FROM c)
        |SELECT user_id, event_type AS mode_type, n FROM r WHERE rn = 1""".stripMargin,
    "agg_corr_pricing" ->
      """WITH m AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag,
        |  round(((n * sxy) - (sx * sy)) / (sqrt((n * sxx) - (sx * sx)) * sqrt((n * syy) - (sy * sy))), 6) AS corr_qty_price
        |FROM m""".stripMargin,
    "split_curriculum" ->
      (s"""WITH qual AS (${graft.pipeline.Oracles.textQuality}),
          |d AS (SELECT doc_id, n_tokens, COALESCE(score, -1.0) AS sort_score,
          |  ntile(4) OVER (ORDER BY COALESCE(score, -1.0), doc_id) AS bin FROM qual)
          |SELECT bin, COUNT(*) AS n_docs, SUM(n_tokens)::BIGINT AS total_tokens,
          |  min(sort_score) AS min_score, max(sort_score) AS max_score
          |FROM d GROUP BY bin""".stripMargin),
    "sketch_kmv_distinct" ->
      graft.pipeline.Sketches.kmvDistinctOracle("lineitem", "l_orderkey"),
    "sketch_kmv_groups" ->
      graft.pipeline.Sketches.kmvDistinctByGroupOracle("events", "event_type", "props"),
    "sketch_kmv_overlap" ->
      graft.pipeline.Sketches.kmvOverlapOracle("events",
        s"user_id || ':' || (epoch_us(ts) // $RangeJoinDayUs)",
        "event_type = 'click'", "event_type = 'purchase'"),
    // merge-vs-direct: the rollup's oracle is the from-scratch global
    // sketch — lossless merging IS the contract being checked
    "sketch_kmv_rollup" ->
      graft.pipeline.Sketches.kmvRollupOracle("events",
        s"(epoch_us(ts) // $RangeJoinDayUs)", "user_id", KmvRollupK),
    "sketch_cms_heavy" -> graft.pipeline.Sketches.cmsHeavyOracle(
      "(SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM documents) toks",
      "token", topK = 10),
    "warehouse_incr_agg" ->
      """SELECT o_custkey, count(*) AS cnt,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS sum_total,
        |  min(o_totalprice) AS min_total, max(o_totalprice) AS max_total
        |FROM orders GROUP BY 1""".stripMargin,
    "seq_window_funnel" ->
      (s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
         |v AS (SELECT user_id, t FROM e WHERE event_type = 'view'),
         |c AS (SELECT user_id, t FROM e WHERE event_type = 'click'),
         |p AS (SELECT user_id, t FROM e WHERE event_type = 'purchase'),
         |vc AS (SELECT v.user_id, v.t AS t0, min(c.t) AS t1raw
         |       FROM v LEFT JOIN c ON c.user_id = v.user_id AND c.t >= v.t
         |       GROUP BY 1, 2),
         |vc2 AS (SELECT user_id, t0,
         |          CASE WHEN t1raw <= t0 + $FunnelWindowUs THEN t1raw END AS t1 FROM vc),
         |vcp AS (SELECT vc2.user_id, vc2.t0, vc2.t1, min(p.t) AS t2raw
         |        FROM vc2 LEFT JOIN p ON p.user_id = vc2.user_id
         |          AND vc2.t1 IS NOT NULL AND p.t >= vc2.t1
         |        GROUP BY 1, 2, 3),
         |d AS (SELECT user_id,
         |        max(1 + (CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
         |          + (CASE WHEN t1 IS NOT NULL AND t2raw <= t0 + $FunnelWindowUs
         |              THEN 1 ELSE 0 END)) AS depth
         |      FROM vcp GROUP BY 1)
         |SELECT depth, count(*) AS n_users FROM d GROUP BY 1""".stripMargin),
    "agg_daily_anomaly" ->
      s"""WITH d AS (SELECT event_type, epoch_us(ts) // $RangeJoinDayUs AS day,
         |        count(*) AS n FROM events GROUP BY 1, 2),
         |m AS (SELECT event_type, quantile_cont(n, 0.5) AS med FROM d GROUP BY 1),
         |dev AS (SELECT d.event_type, d.day, d.n, m.med, abs(d.n - m.med) AS dev
         |        FROM d JOIN m USING (event_type)),
         |s AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY 1)
         |SELECT dev.event_type, dev.day, dev.n, dev.med, s.mad,
         |       dev.dev > s.mad * 3 AS is_anomaly
         |FROM dev JOIN s USING (event_type)""".stripMargin,
    "agg_sessionize" ->
      (s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tus, value FROM events),
          |b AS (SELECT user_id, tus, value,
          |  CASE WHEN tus - lag(tus) OVER w > $SessionGapUs THEN 1 ELSE 0 END AS boundary
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
          |s AS (SELECT user_id, tus, value,
          |  SUM(boundary) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
          |  FROM b)
          |SELECT user_id, session_idx, count(*) AS n_events,
          |  (max(tus) - min(tus))::BIGINT AS duration,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM s GROUP BY 1, 2""".stripMargin),
    "join_salted_agg" ->
      ("SELECT o_orderstatus, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderstatus"),
    "agg_q21_blame" ->
      """SELECT sp.s_suppkey, sp.s_name, count(*) AS numwait
        |FROM supplier sp
        |JOIN lineitem l1 ON sp.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate::DATE > o.o_orderdate::DATE + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate::DATE > o.o_orderdate::DATE + INTERVAL 60 DAY)
        |GROUP BY sp.s_suppkey, sp.s_name""".stripMargin,
    "agg_q2_min_price" ->
      """SELECT p.p_partkey, p.p_name, l.l_suppkey, l.l_extendedprice
        |FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        |WHERE l.l_extendedprice = (SELECT min(l2.l_extendedprice)
        |                           FROM lineitem l2
        |                           WHERE l2.l_partkey = p.p_partkey)""".stripMargin,
    "agg_q22_idle_rich" ->
      """SELECT c.c_custkey, c.c_acctbal
        |FROM customer c
        |WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |                            / COUNT(*)
        |                     FROM customer c2 WHERE c2.c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')""".stripMargin,
    "agg_q4_priority" ->
      """SELECT o.o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate::DATE > o.o_orderdate::DATE + INTERVAL 30 DAY)
        |GROUP BY o.o_orderpriority""".stripMargin,
    "agg_q15_top_supplier" ->
      """WITH r AS (SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM r JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM r)""".stripMargin,
    "agg_q8_market_share" ->
      """WITH rows_ AS (
        |  SELECT year(l_shipdate) AS l_year, n1.n_name AS supp_nation,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n2.n_regionkey
        |  WHERE r_name = 'ASIA')
        |SELECT l_year,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_revenue,
        |  CAST(SUM(rev) AS DOUBLE) AS total_revenue,
        |  round(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        |        CAST(SUM(rev) AS DOUBLE), 4) AS mkt_share
        |FROM rows_ GROUP BY 1""".stripMargin,
    "agg_q6_forecast" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "agg_q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin,
    "agg_q18_top_buyers" ->
      """WITH big AS (SELECT l_orderkey, SUM(l_quantity) AS total_qty
        |             FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250)
        |SELECT c_name, o_orderkey, o_totalprice, total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey""".stripMargin,
    "agg_order_count_dist" ->
      """WITH cc AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |            FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY 1)
        |SELECT c_count, count(*) AS custdist FROM cc GROUP BY 1""".stripMargin,
    "agg_q14_promo_share" ->
      ("""WITH r AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) *
         |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev,
         |    p_type
         |  FROM lineitem JOIN part ON l_partkey = p_partkey),
         |s AS (SELECT
         |    CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
         |    CAST(SUM(rev) AS DOUBLE) AS total_revenue
         |  FROM r)
         |SELECT promo_revenue, total_revenue,
         |       promo_revenue / total_revenue AS promo_share FROM s""".stripMargin),
    "agg_q9_profit" ->
      """SELECT n_name AS nation, year(l_shipdate) AS o_year,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,6)) -
        |      CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) *
        |        CAST(0.10 AS DECIMAL(18,2)) AS DECIMAL(28,6))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2""".stripMargin,
    "agg_q19_disjunctive" ->
      """SELECT count(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "agg_q11_share" ->
      """WITH r AS (SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS v
        |  FROM lineitem GROUP BY 1)
        |SELECT l_partkey, CAST(v AS DOUBLE) AS value FROM r
        |WHERE v * 10000 > (SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) FROM lineitem)""".stripMargin,
    "agg_q12_modes" ->
      """SELECT l_returnflag,
        |  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin,
    "agg_q20_excess" ->
      """SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%red%'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 90)""".stripMargin,
    // ingest-invisible: the JSONL round trip must reproduce the parquet
    // aggregate exactly, plus the three injected corrupt lines
    // the streaming sink holds only FINALIZED windows — equal to the batch
    // day-grain aggregate (epoch-aligned, UTC) once the sentinel closed
    // every real window
    "streaming_sessionize" -> graft.streaming.StreamOracle.sessionizedOracle(
      graft.streaming.StreamOracle.SessionGapMs),
    "streaming_cdc_upsert" -> graft.streaming.StreamOracle.cdcUpsertOracle,
    // restart rows: SAME oracle SQL as their single-lifetime siblings —
    // the claim is precisely that the stop/restart seam is invisible
    "streaming_restart" -> graft.streaming.StreamOracle.sessionizedOracle(
      graft.streaming.StreamOracle.SessionGapMs),
    "streaming_restart_kmv" ->
      graft.pipeline.Sketches.kmvDistinctOracle("events", "event_id"),
    "streaming_restart_replay" ->
      graft.pipeline.Sketches.kmvDistinctOracle("events", "event_id"),
    "streaming_restart_cdc" -> graft.streaming.StreamOracle.cdcUpsertOracle,
    "streaming_restart_neardup" -> graft.pipeline.Oracles.dedupStreamingAdmission,
    "streaming_neardup_admit" -> graft.pipeline.Oracles.dedupStreamingAdmission,
    "streaming_neardup_retire" -> graft.pipeline.Oracles.dedupStreamingRetention,
    "streaming_restart_retire" -> graft.pipeline.Oracles.dedupStreamingRetention,
    "streaming_dedup" -> graft.streaming.StreamOracle.dedupAdmittedOracle,
    "streaming_enrich" -> graft.streaming.StreamOracle.enrichedOracle,
    // the streamed fold must equal the one-shot sketch bit-for-bit
    "streaming_kmv_distinct" ->
      graft.pipeline.Sketches.kmvDistinctOracle("events", "event_id"),
    // union of per-batch gated samples ≡ the one-shot gated sample
    "streaming_quantile" ->
      graft.pipeline.Sketches.sampledQuantileOracle("events", "event_id",
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)",
        q = 0.5, rate = QuantileSampleRate),
    // added counters ≡ one-shot counters, probed at the exact top-k
    "streaming_cms_heavy" -> graft.pipeline.Sketches.cmsHeavyOracle(
      "(SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM documents) toks",
      "token", topK = 10),
    // the incremental maintenance must land exactly on the batch answer:
    // the SAME closure string as graph_components, so incremental ≡
    // one-shot is pinned by construction, not by parallel edits
    "streaming_components" -> ComponentsClosureSql,
    "streaming_interval_join" -> graft.streaming.StreamOracle.intervalJoinOracle,
    "streaming_interval_outer" -> graft.streaming.StreamOracle.intervalJoinOuterOracle,
    "streaming_interval_full" -> graft.streaming.StreamOracle.intervalJoinFullOracle,
    "streaming_interval_semi" -> graft.streaming.StreamOracle.intervalJoinSemiOracle,
    "streaming_quota" -> graft.streaming.StreamOracle.quotaOracle(
      graft.streaming.StreamOracle.QuotaPerUser),
    "streaming_topk" -> graft.streaming.StreamOracle.topKOracle(
      graft.streaming.StreamOracle.TopKWindowMs, graft.streaming.StreamOracle.TopKCapacity),
    "streaming_window" ->
      """SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS window_start_us,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "ingest_schema_evolution" ->
      """SELECT o_orderstatus,
        |  count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_with_price,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1
        |        THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,
    "ts_seasonal_naive" ->
      s"""WITH d AS (SELECT event_type, epoch_us(ts) // $RangeJoinDayUs AS day,
         |        sum(CAST(value AS DECIMAL(18,2))) AS t
         |      FROM events GROUP BY 1, 2),
         |j AS (SELECT a.event_type, a.day, a.t, b.t AS prior
         |      FROM d a JOIN d b ON b.event_type = a.event_type AND b.day = a.day - 7)
         |SELECT event_type, count(*)::BIGINT AS n_scored,
         |  round(CAST(sum(abs(t - prior)) AS DOUBLE) / count(*), 4) AS mae
         |FROM j GROUP BY 1""".stripMargin,
    "ts_cusum_changepoint" ->
      s"""WITH d AS (SELECT event_type, epoch_us(ts) // $RangeJoinDayUs AS day,
         |        count(*) AS y FROM events GROUP BY 1, 2),
         |w AS (SELECT event_type, day,
         |        count(*) OVER (PARTITION BY event_type) AS n,
         |        CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS t,
         |        CAST(sum(y) OVER (PARTITION BY event_type ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
         |        row_number() OVER (PARTITION BY event_type ORDER BY day) AS k
         |      FROM d),
         |c AS (SELECT event_type, day, n, CAST(abs(n*s - k*t) AS BIGINT) AS dev FROM w),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev DESC, day) AS rn FROM c)
         |SELECT event_type, day AS split_x, dev, n AS n_points FROM r WHERE rn = 1""".stripMargin,
    "ts_lttb_downsample" ->
      s"""WITH d AS (SELECT epoch_us(ts) // $RangeJoinDayUs AS day, count(*) AS y
         |      FROM events GROUP BY 1),
         |b AS (SELECT min(day) AS x0, arg_min(y, day) AS y0,
         |             max(day) AS x1, arg_max(y, day) AS y1 FROM d),
         |i AS (SELECT day, y, ((day - x0 - 1) * 12) // (x1 - x0 - 1) AS bucket
         |      FROM d, b WHERE day > x0 AND day < x1),
         |st AS (SELECT bucket, CAST(sum(day) AS BIGINT) AS sx,
         |         CAST(sum(y) AS BIGINT) AS sy, count(*) AS n FROM i GROUP BY 1),
         |a AS (SELECT i.bucket, i.day, i.y,
         |        coalesce(p.sx, b.x0) AS psx, coalesce(p.sy, b.y0) AS psy, coalesce(p.n, 1) AS pn,
         |        coalesce(q.sx, b.x1) AS nsx, coalesce(q.sy, b.y1) AS nsy, coalesce(q.n, 1) AS nn
         |      FROM i CROSS JOIN b
         |      LEFT JOIN st p ON p.bucket = i.bucket - 1
         |      LEFT JOIN st q ON q.bucket = i.bucket + 1),
         |sc AS (SELECT bucket, day, y,
         |        CAST(abs((psx*nn - nsx*pn)*(y*pn - psy) - (psx - day*pn)*(nsy*pn - psy*nn)) AS BIGINT) AS score
         |      FROM a),
         |r AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY score DESC, day) AS rn FROM sc)
         |SELECT bucket, day, y, score FROM r WHERE rn = 1
         |UNION ALL SELECT CAST(-1 AS BIGINT), x0, y0, CAST(0 AS BIGINT) FROM b
         |UNION ALL SELECT CAST(12 AS BIGINT), x1, y1, CAST(0 AS BIGINT) FROM b""".stripMargin,
    "ts_autocorr" ->
      s"""WITH d AS (SELECT epoch_us(ts) // $RangeJoinDayUs AS day, count(*) AS y
         |      FROM events GROUP BY 1),
         |p AS (SELECT l.lag, a.y AS ya, b.y AS yb
         |      FROM (SELECT unnest([1, 7]) AS lag) l
         |      JOIN d a ON true JOIN d b ON b.day = a.day + l.lag),
         |m AS (SELECT lag, count(*) AS n_pairs,
         |        CAST(sum(ya) AS BIGINT) AS sa, CAST(sum(yb) AS BIGINT) AS sb,
         |        CAST(sum(ya * yb) AS BIGINT) AS sab,
         |        CAST(sum(ya * ya) AS BIGINT) AS saa,
         |        CAST(sum(yb * yb) AS BIGINT) AS sbb
         |      FROM p GROUP BY 1)
         |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
         |  CASE WHEN n_pairs * saa - sa * sa <= 0 OR n_pairs * sbb - sb * sb <= 0
         |       THEN NULL
         |       ELSE round((n_pairs::DOUBLE * sab::DOUBLE - sa::DOUBLE * sb::DOUBLE)
         |         / (sqrt(n_pairs::DOUBLE * saa::DOUBLE - sa::DOUBLE * sa::DOUBLE)
         |            * sqrt(n_pairs::DOUBLE * sbb::DOUBLE - sb::DOUBLE * sb::DOUBLE)), 6)
         |  END AS acf
         |FROM m""".stripMargin,
    "profile_ks_drift" -> graft.pipeline.Profile.ksDriftOracle(
      "documents", "n_chars", "source = 'src0'", "source = 'src1'"),
    "profile_benford" -> graft.pipeline.Profile.benfordOracle("orders", "o_totalprice"),
    "profile_l_diversity" -> graft.pipeline.Profile.lDiversityOracle("customer",
      Seq("c_nationkey",
        "(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 1000000) // 100000"),
      "c_mktsegment"),
    "profile_k_anonymity" -> graft.pipeline.Profile.kAnonymityOracle("customer",
      Seq("c_nationkey", "c_mktsegment",
        "(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 1000000) // 100000 AS bal_bucket")),
    "ts_seasonal_decompose" ->
      s"""WITH d AS (SELECT epoch_us(ts) // $RangeJoinDayUs AS day, count(*) AS y
         |      FROM events GROUP BY 1),
         |t AS (SELECT CAST(sum(y) AS BIGINT) AS total, count(*) AS n_all FROM d),
         |g AS (SELECT day % 7 AS dow, count(*) AS n_days,
         |        CAST(sum(y) AS BIGINT) AS dow_total FROM d GROUP BY 1)
         |SELECT dow, n_days, dow_total,
         |  round(CAST(dow_total * n_all AS DOUBLE) / CAST(n_days * total AS DOUBLE), 6) AS seasonal_ratio
         |FROM g CROSS JOIN t""".stripMargin,
    "ingest_jsonl_quarantine" ->
      """SELECT lang, count(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS min_doc
        |FROM documents GROUP BY 1
        |UNION ALL
        |SELECT '_corrupt', 3, NULL, NULL""".stripMargin,
    // layout-invisible: the pruned partitioned read must equal the
    // plain filtered read of the original table
    "warehouse_partition_prune" ->
      """SELECT source, count(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin,
    // the merged snapshot re-derived set-wise: untouched base keys plus
    // non-delete changelog images
    "warehouse_snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |aft AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
        |  FROM base WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey % 10 = 5),
        |d AS (SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |        CASE WHEN a.o_orderkey IS NULL THEN 'I'
        |             WHEN b.o_orderkey IS NULL THEN 'D'
        |             WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
        |               OR a.o_totalprice IS DISTINCT FROM b.o_totalprice THEN 'U' END AS op,
        |        b.o_orderstatus, b.o_totalprice
        |      FROM base a FULL OUTER JOIN aft b ON a.o_orderkey = b.o_orderkey)
        |SELECT o_orderkey, op, o_orderstatus, o_totalprice FROM d WHERE op IS NOT NULL""".stripMargin,
    "warehouse_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |chg AS (
        |  SELECT o_orderkey, 'U' AS op, 'R' AS o_orderstatus,
        |         o_totalprice + 1000 AS o_totalprice
        |  FROM base WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 'D', NULL, NULL FROM base WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'I', o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey % 10 = 5)
        |SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice FROM base b
        |WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM chg)
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM chg WHERE op <> 'D'""".stripMargin,
    "warehouse_scd2" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev FROM e),
        |f AS (SELECT user_id, event_type, t, event_id FROM c
        |      WHERE prev IS DISTINCT FROM event_type),
        |v AS (SELECT user_id, event_type, t AS valid_from,
        |        lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to,
        |        row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS version
        |      FROM f)
        |SELECT user_id, event_type, valid_from, valid_to, version,
        |  valid_to IS NULL AS is_current FROM v""".stripMargin,
    "layout_compaction" ->
      s"""WITH f AS (SELECT source, doc_id // $CompactionFileDocs AS bucket,
         |    SUM(n_chars)::BIGINT AS bytes
         |  FROM documents GROUP BY 1, 2),
         |w AS (SELECT source, bucket, bytes,
         |    COALESCE(SUM(bytes) OVER (PARTITION BY source ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bfr
         |  FROM f)
         |SELECT source, (bfr // $CompactionTargetBytes)::BIGINT AS bin, count(*) AS n_files,
         |  SUM(bytes)::BIGINT AS total_bytes,
         |  min(bucket) AS first_key, max(bucket) AS last_key
         |FROM w GROUP BY 1, 2""".stripMargin,
    // layout-invisible: the plain join IS the bucketed join's contract
    "warehouse_bucketed_join" ->
      ("SELECT o_orderstatus, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderstatus"),
    "agg_latest_event_per_user" ->
      ("SELECT event_id, user_id, event_type, value FROM (" +
        "SELECT event_id, user_id, event_type, value, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn " +
        "FROM events) WHERE rn = 1"),

    // ---- LLM-data-pipeline oracles (generated in lockstep with the
    // Spark operators' constants — see graft.pipeline.Oracles) ----
    "dedup_exact" -> graft.pipeline.Oracles.dedupExact,
    "dedup_exact_hash" -> graft.pipeline.Oracles.dedupExactHash,
    "dedup_minhash_sig" -> graft.pipeline.Oracles.dedupMinhashSig,
    "dedup_minhash_pairs" -> graft.pipeline.Oracles.dedupMinhashPairs,
    "dedup_jaccard_pairs" -> graft.pipeline.Oracles.dedupJaccardPairs(0.2),
    "dedup_skew_capped" -> graft.pipeline.Oracles.dedupSkewCapped(0.2,
      graft.pipeline.Dedup.SkewCapFreq),
    "dedup_containment_pairs" -> graft.pipeline.Oracles.dedupContainmentPairs(0.8),
    "dedup_clusters" -> graft.pipeline.Oracles.dedupClusters,
    "dedup_canonical" -> graft.pipeline.Oracles.dedupCanonical,
    "text_redact" -> graft.pipeline.Oracles.textRedact,
    "split_assign" -> graft.pipeline.Oracles.splitAssign,
    "split_kfold" -> graft.pipeline.Oracles.splitKfold(5),
    "split_time_embargo" -> graft.pipeline.Splits.timeEmbargoOracle(
      "events", "epoch_us(ts)", embargoUs = 3L * RangeJoinDayUs),
    "dedup_simhash" -> graft.pipeline.Oracles.dedupSimhash,
    "dedup_simhash_pairs" -> graft.pipeline.Oracles.dedupSimhashPairs,
    "text_token_stats" -> graft.pipeline.Oracles.textTokenStats,
    "text_token_stats_unicode" -> graft.pipeline.Oracles.textTokenStatsWith(
      graft.pipeline.TextPipeline.Tokenizer.UnicodeWords),
    "text_quality" -> graft.pipeline.Oracles.textQuality,
    "text_code_switch" -> graft.pipeline.Oracles.textCodeSwitch(graft.pipeline.TextPipeline.CodeSwitchWindow),
    "text_langid" -> graft.pipeline.Oracles.textLangId,
    "text_fertility" -> graft.pipeline.Oracles.textFertility,
    "text_langid_confusion" -> graft.pipeline.Oracles.textLangIdConfusion,
    "text_fingerprint" -> graft.pipeline.Oracles.textFingerprint,
    "text_line_dedup" -> graft.pipeline.Oracles.textSegmentDedup(
      graft.pipeline.TextPipeline.SegmentWords,
      graft.pipeline.TextPipeline.SegmentMinDocs),
    "text_winnow" -> graft.pipeline.Oracles.textWinnow(
      3, graft.pipeline.TextPipeline.WinnowW),
    "text_gopher_rules" -> graft.pipeline.Oracles.textGopherRules(
      graft.pipeline.TextPipeline.GopherMinWords,
      graft.pipeline.TextPipeline.GopherMaxWords,
      graft.pipeline.TextPipeline.GopherMinMeanLen,
      graft.pipeline.TextPipeline.GopherMaxMeanLen,
      graft.pipeline.TextPipeline.GopherMinAlphaFrac,
      graft.pipeline.TextPipeline.GopherMinStops),
    "dedup_weights" -> graft.pipeline.Oracles.dedupWeights,
    "text_repetition" -> graft.pipeline.Oracles.textRepetition,
    "text_contamination" -> graft.pipeline.Oracles.textContamination(2),
    "pipeline_curate" ->
      graft.pipeline.Oracles.pipelineCurate(CurateMinScore, graft.pipeline.Packing.Capacity),
    "pipeline_curate_semantic" -> graft.pipeline.Oracles.pipelineCurateSemantic(
      CurateMinScore, graft.pipeline.Packing.Capacity),
    "pipeline_curate_lm" -> graft.pipeline.Oracles.pipelineCurateLm(
      LmScoreMin, MixWeights, MixDefaultWeight, MixBudget,
      graft.pipeline.Sampling.DefaultSalt),
    "text_vocab" -> graft.pipeline.Oracles.textVocab(100),
    "text_lm_score" -> graft.pipeline.Oracles.textLmScore(),
    "text_cooccurrence" -> graft.pipeline.Oracles.textCooccurrence(window = 4, topK = 100),
    "text_bpe_pairs" -> graft.pipeline.Oracles.bpePairs(100),
    // rank-order merges replayed by DuckDB's own string engine from the
    // SAME single-sourced merge table
    "text_bpe_apply" -> graft.pipeline.Oracles.bpeApply(),
    "pipeline_tokenize_pack" -> graft.pipeline.Oracles.tokenizePack(),
    "text_bpe_train" -> graft.pipeline.Oracles.bpeTrain(),
    "text_token_ids" ->
      (s"""WITH v AS (${graft.pipeline.Oracles.textVocab(100)}),
          |ids AS (SELECT token, row_number() OVER (ORDER BY tf DESC, token) AS token_id FROM v),
          |w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
          |p AS (SELECT doc_id, t.i - 1 AS pos, ws[t.i] AS token
          |  FROM w, unnest(generate_series(1, len(ws))) AS t(i))
          |SELECT p.doc_id, p.pos, COALESCE(ids.token_id, 0) AS token_id
          |FROM p LEFT JOIN ids ON p.token = ids.token""".stripMargin),
    "sample_source_cap" -> graft.pipeline.Oracles.sampleSourceCap(10),
    "sample_class_balance" -> graft.pipeline.Sampling.classBalanceOracle(
      "embeddings", "vec_id", "label", "vec_id, label"),
    "sample_mix_budget" -> graft.pipeline.Oracles.sampleMixBudget(
      MixWeights, MixDefaultWeight, MixBudget, graft.pipeline.Sampling.DefaultSalt),
    "sample_uniform_k" ->
      graft.pipeline.Oracles.sampleUniformK(20, graft.pipeline.Sampling.DefaultSalt),
    "pack_padding_census" -> graft.pipeline.Packing.paddingCensusOracle("documents", "text"),
    "pack_sequences" -> graft.pipeline.Oracles.packSequences(graft.pipeline.Packing.Capacity),
    "sample_stratified" ->
      graft.pipeline.Oracles.sampleStratified(SampleRates, graft.pipeline.Sampling.DefaultSalt),
    // window-formulation mirror of AsofJoin.backward: same tagged union,
    // same (ts, side, tie) ordering, same inclusive frame — and the same
    // STRUCT-filled payload, so the matched right row travels whole
    "asof_click_purchase" ->
      ("""WITH u AS (
         |  SELECT user_id, ts, 1 AS side, NULL::BIGINT AS tie, event_id,
         |         NULL::STRUCT(e BIGINT, v DOUBLE) AS pay
         |  FROM events WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT user_id, ts, 0, event_id, NULL,
         |         struct_pack(e := event_id, v := value)
         |  FROM events WHERE event_type = 'purchase'
         |), f AS (
         |  SELECT side, event_id, user_id,
         |    last_value(pay IGNORE NULLS) OVER win AS pay
         |  FROM u
         |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, tie
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT event_id, user_id, pay.e AS asof_event_id, pay.v AS asof_value
         |FROM f WHERE side = 1""".stripMargin),
    // mirror of the forward as-of: ts DESC, rights before lefts at the
    // same ts, smallest event id winning ties (tie DESC under last_value)
    "asof_next_purchase" ->
      ("""WITH u AS (
         |  SELECT user_id, ts, 1 AS side, NULL::BIGINT AS tie, event_id,
         |         NULL::STRUCT(e BIGINT, v DOUBLE) AS pay
         |  FROM events WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT user_id, ts, 0, event_id, NULL,
         |         struct_pack(e := event_id, v := value)
         |  FROM events WHERE event_type = 'purchase'
         |), f AS (
         |  SELECT side, event_id, user_id,
         |    last_value(pay IGNORE NULLS) OVER win AS pay
         |  FROM u
         |  WINDOW win AS (PARTITION BY user_id ORDER BY ts DESC, side, tie DESC
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT event_id, user_id, pay.e AS asof_event_id, pay.v AS asof_value
         |FROM f WHERE side = 1""".stripMargin),
    // mirror of the nearest as-of: the backward and forward candidates
    // from their respective window passes, then the smaller-delta pick
    // (ties backward) on the µs grid both engines share
    "asof_nearest_purchase" ->
      ("""WITH u AS (
         |  SELECT user_id, epoch_us(ts) AS ts, 1 AS side, NULL::BIGINT AS tie, event_id,
         |         NULL::STRUCT(e BIGINT, v DOUBLE, t BIGINT) AS pay
         |  FROM events WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT user_id, epoch_us(ts), 0, event_id, NULL,
         |         struct_pack(e := event_id, v := value, t := epoch_us(ts))
         |  FROM events WHERE event_type = 'purchase'
         |), w AS (
         |  SELECT side, event_id, user_id, ts,
         |    last_value(pay IGNORE NULLS) OVER wb AS bp,
         |    last_value(pay IGNORE NULLS) OVER wf AS fp
         |  FROM u
         |  WINDOW wb AS (PARTITION BY user_id ORDER BY ts, side, tie
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wf AS (PARTITION BY user_id ORDER BY ts DESC, side, tie DESC
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), p AS (
         |  SELECT event_id, user_id,
         |    CASE WHEN bp IS NULL THEN fp WHEN fp IS NULL THEN bp
         |         WHEN ts - bp.t <= fp.t - ts THEN bp ELSE fp END AS pay
         |  FROM w WHERE side = 1)
         |SELECT event_id, user_id, pay.e AS asof_event_id, pay.v AS asof_value
         |FROM p""".stripMargin),
    "ts_ohlc_daily" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu,
         |        epoch_us(ts) // $RangeJoinDayUs AS day, event_id, value FROM events),
         |w AS (SELECT user_id, day, value,
         |        first_value(value) OVER
         |          (PARTITION BY user_id, day ORDER BY tsu, event_id) AS open,
         |        last_value(value) OVER
         |          (PARTITION BY user_id, day ORDER BY tsu, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close
         |      FROM e)
         |SELECT user_id, day, min(open) AS open, min(close) AS close,
         |       min(value) AS low, max(value) AS high, count(*) AS n_events
         |FROM w GROUP BY 1, 2""".stripMargin,
    "win_event_gaps" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events),
        |g AS (SELECT user_id,
        |        tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS gap
        |      FROM e)
        |SELECT user_id, count(*) AS n_events, max(gap) AS max_gap_us,
        |       avg(gap) AS mean_gap_us
        |FROM g GROUP BY 1""".stripMargin,
    "win_rolling_median" ->
      s"""WITH d AS (SELECT user_id, epoch_us(ts) // $RangeJoinDayUs AS day,
         |        count(*) AS n FROM events GROUP BY 1, 2)
         |SELECT user_id, day, n,
         |  quantile_cont(n, 0.5) OVER (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
         |FROM d""".stripMargin,
    // the band is [1 µs, 1 day] after the signup, on µs-truncated time
    // (identical on both engines — see the SessionGapUs note)
    "range_join_events" ->
      (s"""SELECT l.event_id AS signup_event, l.user_id,
          |       r.event_id AS r_event_id, r.event_type AS r_event_type
          |FROM events l JOIN events r ON l.user_id = r.user_id
          |  AND epoch_us(r.ts) - epoch_us(l.ts) BETWEEN 1 AND $RangeJoinDayUs
          |WHERE l.event_type = 'signup' AND r.event_type <> 'signup'""".stripMargin),
    "mm_payload_stats" -> graft.pipeline.Oracles.mmPayloadStats,
    "mm_chunks" -> graft.pipeline.Oracles.mmChunks(64),
    "mm_frame_sample" -> graft.pipeline.Oracles.mmFrameSample(64, 4),
    // re-derive the synthesized dimensions from the generator arithmetic
    // (64 + n_chars % 1901, 64 + doc_id*31 % 1013, kind = doc_id % 4) —
    // Spark must recover the same numbers by parsing the bytes
    "mm_dimensions" ->
      """WITH d AS (SELECT doc_id, 64 + (n_chars % 1901) AS w,
        |  64 + ((doc_id * 31) % 1013) AS h, doc_id % 4 AS kind FROM documents)
        |SELECT doc_id,
        |  CASE WHEN kind = 0 THEN 'png' WHEN kind IN (1,2) THEN 'jpeg'
        |       ELSE 'opaque' END AS format,
        |  CASE WHEN kind IN (0,1,2) THEN w END AS width,
        |  CASE WHEN kind IN (0,1,2) THEN h END AS height,
        |  CASE WHEN kind IN (0,1,2)
        |       THEN (w >= 200 AND h >= 200 AND w <= 2*h AND h <= 2*w)
        |       ELSE FALSE END AS keep
        |FROM d""".stripMargin,
    // arithmetic re-derivation of the WAV generator inputs; Spark must
    // recover the same values by walking the RIFF chunks
    "mm_audio_meta" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(8000 + (n_chars % 37) * 100 AS BIGINT) AS sr,
        |  CAST(1 + (doc_id % 2) AS BIGINT) AS ch,
        |  CAST(1 + ((doc_id // 3) % 3) AS BIGINT) AS depth,
        |  CAST(100 + ((n_chars * 7) % 9973) AS BIGINT) AS db,
        |  doc_id % 3 AS k FROM documents)
        |SELECT doc_id,
        |  CASE WHEN k = 0 THEN 'wav' ELSE 'opaque' END AS kind,
        |  CASE WHEN k = 0 THEN sr END AS sample_rate,
        |  CASE WHEN k = 0 THEN ch END AS channels,
        |  CASE WHEN k = 0 THEN 8 * depth END AS bits_per_sample,
        |  CASE WHEN k = 0 THEN sr * ch * depth END AS byte_rate,
        |  CASE WHEN k = 0 THEN db END AS data_bytes,
        |  CASE WHEN k = 0 THEN (db * 1000) // (sr * ch * depth) END AS duration_ms
        |FROM d""".stripMargin,
    // arithmetic re-derivation of the MP4 generator inputs; Spark must
    // recover the same values by walking the boxes at both levels
    "mm_tiff_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 4 THEN 'opaque' ELSE 'tiff' END AS format,
        |  CASE WHEN doc_id % 5 = 4 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CASE WHEN doc_id % 5 = 4 THEN NULL
        |       ELSE CAST(64 + (n_chars % 1901) AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 5 = 4 THEN NULL
        |       ELSE CAST(64 + ((doc_id * 31) % 1013) AS BIGINT) END AS height
        |FROM documents""".stripMargin,
    "mm_video_meta" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(600 + (n_chars % 11) * 100 AS BIGINT) AS ts,
        |  CAST(((doc_id * 13) % 99991) + 1 AS BIGINT) AS dur,
        |  doc_id % 3 AS k, doc_id % 2 AS br FROM documents)
        |SELECT doc_id,
        |  CASE WHEN k = 0 THEN 'mp4' ELSE 'opaque' END AS kind,
        |  CASE WHEN k = 0 THEN (CASE WHEN br = 0 THEN 'isom' ELSE 'mp42' END) END AS major_brand,
        |  CASE WHEN k = 0 THEN ts END AS timescale,
        |  CASE WHEN k = 0 THEN dur END AS duration,
        |  CASE WHEN k = 0 THEN (dur * 1000) // ts END AS duration_ms
        |FROM d""".stripMargin,
    "ann_cosine_topk" -> graft.pipeline.Oracles.annCosineTopK,
    "ann_triplets" -> graft.pipeline.Oracles.annContrastiveTriplets,
    "ann_lsh_buckets" -> graft.pipeline.Oracles.annLshBuckets,
    "ann_lsh_topk" -> graft.pipeline.Oracles.annLshTopK,
    "ann_lsh_multiprobe" -> graft.pipeline.Oracles.annLshMultiprobeTopK,
    "ann_ivf_topk" -> graft.pipeline.Oracles.annIvfTopK,
    "ann_ivf_persist" -> graft.pipeline.Oracles.annIvfTopK,
    "ann_pq_topk" -> graft.pipeline.Oracles.annPqTopK,
    "ann_pq_persist" -> graft.pipeline.Oracles.annPqTopK,
    "dedup_semantic_contamination" -> graft.pipeline.Oracles.annSemanticContamination(
      graft.pipeline.Ann.BenchSetSize, graft.pipeline.Ann.SemanticEps),
    "ann_ivf_balance" -> graft.pipeline.Oracles.annIvfBalance,
    "ann_ivf_incremental" -> graft.pipeline.Oracles.annIvfIncremental(),
    "ann_ivf_persist_incr" -> graft.pipeline.Oracles.annIvfIncremental(),
    "ann_ivf_nprobe" -> graft.pipeline.Oracles.annIvfNprobe(),
    "ann_ivfpq_topk" -> graft.pipeline.Oracles.annIvfPqTopK,
    "ann_filtered_topk" ->
      graft.pipeline.Oracles.annFilteredTopK(graft.pipeline.Ann.FilterLabel),
    "ann_lsh_recall" -> graft.pipeline.Oracles.annLshRecall,
    "ann_multiprobe_recall" -> graft.pipeline.Oracles.annLshMultiprobeRecall,
    "ann_ivfpq_recall" -> graft.pipeline.Oracles.annIvfPqRecall,
    "ann_truncated_recall" ->
      graft.pipeline.Oracles.annTruncatedRecall(graft.pipeline.Ann.TruncDims),
    "ann_hamming_topk" -> graft.pipeline.Oracles.annHammingTopK,
    "ann_hamming_rerank" -> graft.pipeline.Oracles.annHammingRecall,
    "emb_hard_negatives" -> graft.pipeline.Oracles.embHardNegatives,
    "mm_phash_dupes" ->
      graft.pipeline.Oracles.mmPhashDupes(graft.pipeline.MultiModal.PhashBits),
    "mm_pixel_dhash" -> graft.pipeline.MultiModal.pixelDhashOracle,
    "pipeline_image_dedup" -> graft.pipeline.MultiModal.pixelImageDedupOracle,
    "mm_tiff_pages" -> graft.pipeline.MultiModal.tiffPagesOracle,
    "mm_shot_boundaries" -> graft.pipeline.MultiModal.shotBoundariesOracle,
    "mm_wav_pcm" -> graft.pipeline.MultiModal.wavPcmOracle,
    "mm_audio_vad" -> graft.pipeline.MultiModal.audioVadOracle,
    "mm_gif_meta" -> graft.pipeline.MultiModal.gifMetaOracle,
    "mm_image_histogram" -> graft.pipeline.MultiModal.imageHistogramOracle,
    "mm_pixel_resize" -> graft.pipeline.MultiModal.pixelResizeOracle,
    "mm_image_quality" -> graft.pipeline.MultiModal.imageQualityOracle,
    "emb_centroid_outliers" -> graft.pipeline.Oracles.embCentroidOutliers(
      graft.pipeline.Embeddings.OutlierTopK),
    "emb_centroid_drift" -> graft.pipeline.Embeddings.centroidDriftOracle(),
    "emb_gram" -> graft.pipeline.Oracles.embGramMatrix,
    "emb_whiten" -> graft.pipeline.Oracles.embWhiten,
    "dedup_embedding_pairs" -> graft.pipeline.Oracles.dedupEmbeddingPairs,
    "dedup_semantic" -> graft.pipeline.Oracles.dedupSemantic,
    "text_tfidf" -> graft.pipeline.Oracles.textTfidfTopK(
      graft.pipeline.TextPipeline.TfidfTopK,
      graft.pipeline.TextPipeline.Tokenizer.Whitespace),
    "text_cdc_chunks" -> graft.pipeline.TextPipeline.cdcChunksOracle(
      "documents", "doc_id", "text"),
    "text_chunks" -> graft.pipeline.Oracles.textChunks(
      graft.pipeline.TextPipeline.ChunkWindow, graft.pipeline.TextPipeline.ChunkStride,
      graft.pipeline.TextPipeline.Tokenizer.Whitespace),
    "dedup_dup_spans" -> graft.pipeline.Oracles.dedupDupNgramSpans(
      graft.pipeline.Dedup.DupSpanN, graft.pipeline.Dedup.DupSpanTopK),
    "dedup_source_overlap" ->
      s"""WITH fp AS (SELECT DISTINCT
         |    md5(substr(text, 1, $IncrementalPrefixLen)) AS k, source
         |  FROM documents)
         |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
         |FROM fp a JOIN fp b ON a.k = b.k AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,
    "sample_weighted" ->
      graft.pipeline.Oracles.sampleWeighted(graft.pipeline.Sampling.DefaultSalt),
    "text_normalize_nfc" ->
      ("SELECT doc_id, nfc_normalize(text) AS nfc_text, " +
        "nfc_normalize(text) <> text AS changed FROM documents"),
    "sample_temperature" -> graft.pipeline.Oracles.sampleTemperatureMix(
      graft.pipeline.Sampling.DefaultSalt),
    "split_shuffle_order" -> graft.pipeline.Oracles.splitShuffleOrder(
      graft.pipeline.Splits.NumShards, graft.pipeline.Splits.DefaultSalt),
    "emb_quantize" -> graft.pipeline.Oracles.embQuantizeInt8,
    "emb_knn_graph" -> graft.pipeline.Oracles.embKnnGraph,
    "emb_semantic_clusters" -> graft.pipeline.Oracles.embSemanticClusters,
    "emb_knn_recall" -> graft.pipeline.Oracles.embKnnRecall,
    "dedup_incremental" -> graft.pipeline.Oracles.dedupIncremental(IncrementalPrefixLen),
    "dedup_incremental_near" -> graft.pipeline.Oracles.dedupIncrementalNear,
    "join_bloom_filter" -> graft.pipeline.Oracles.joinBloomFilter(
      graft.operators.BloomFilter.DefaultBits,
      graft.operators.BloomFilter.DefaultHashes),
    "dedup_minhash_recall" -> graft.pipeline.Oracles.dedupMinhashRecall(
      graft.pipeline.Dedup.JaccardThreshold),
    "dedup_simhash_recall" -> graft.pipeline.Oracles.dedupSimhashRecall(
      graft.pipeline.Dedup.JaccardThreshold),
    "dedup_threshold_sweep" -> graft.pipeline.Oracles.dedupThresholdSweep,
    "dedup_novelty" -> graft.pipeline.Oracles.dedupNovelty,
    "dedup_prefix_pairs" -> graft.pipeline.Oracles.dedupPrefixPairs(
      graft.pipeline.Dedup.JaccardThreshold),
    "split_leakage_safe" -> graft.pipeline.Oracles.splitLeakageSafe,
    "dedup_excise_spans" -> graft.pipeline.Oracles.dedupExciseSpans(
      graft.pipeline.Dedup.DupSpanN),
    "rag_retrieve" ->
      s"""WITH topk AS (${graft.pipeline.Oracles.annCosineTopK})
         |SELECT t.query_id, t.vec_id, t.sim, d.lang, md5(d.text) AS text_md5, d.n_chars
         |FROM topk t JOIN documents d ON d.doc_id = t.vec_id""".stripMargin,
  )
}
