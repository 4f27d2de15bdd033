package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.QuerySpec
import graft.QueryHarness._

/** The beyond-reference operator rows of the driver contract:
  * `graph_*`, `ts_*`, `er_*`, `profile_*`, `layout_*`, `search_*`,
  * `sketch_*`, `warehouse_*` and `ingest_*`. Each row's build sits
  * beside the DuckDB SQL that checks it. */
private[graft] object OperatorQueries {

  /** `graph_common_neighbors` edge-evidence floor: a co-purchase edge
    * needs this many shared orders (support threshold — see the query's
    * comment; 1-incidental-order edges make the graph uniformly dense
    * and the wedge volume quadratic for no signal). */
  val CoPurchaseMinSupport = 2L

  /** `profile_ndv` column list — integer/string columns only (both
    * engines must render identical strings before hashing). */
  val NdvCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_returnflag", "l_linestatus")

  /** `layout_compaction` geometry: documents per simulated input file
    * and the target output-file size the planner packs toward (sized so
    * sf0.01's ~6 KB file rows pack several-to-a-bin). */
  val CompactionFileDocs = 20L
  val CompactionTargetBytes = 20000L

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

  /** Query terms for `search_topk` (high-df corpus tokens). */
  val SearchTerms: Seq[String] = Seq("hash", "join", "vector")
  /** Consecutive-token phrase for the positional-index search row
    * (chosen to occur at every shipped sf: 9/3/10 hits at
    * sf0.001/0.01/0.1). */
  val PhraseTerms: Seq[String] = Seq("big", "order", "scan")

  /** Hop bound for `graph_bfs` (and its oracle's recursion depth). */
  val BfsMaxDepth: Int = 3

  val specs: Seq[QuerySpec] = Seq(
    // triangle count over the part-co-order graph (parts linked when one
    // order contains both): degree-ordered wedge generation bounds the
    // explosion at O(m^1.5) regardless of hub skew — see Triangles
    QuerySpec("graph_triangles", ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      // emit each unordered pair once (s1 < s2): halves the distinct's input
      val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
      graft.operators.Triangles.count(
        graft.operators.Triangles.canonicalEdges(pairs, "s1", "s2"))
    }),
      // id-ordered closure (a < b < c) counts each triangle once — the same
      // multiset the degree-ordered Spark orientation produces
      ("""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
         |e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
         |n AS (SELECT count(DISTINCT v) AS n_nodes FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)),
         |ne AS (SELECT count(*) AS n_edges FROM e),
         |t AS (SELECT count(*) AS n_triangles FROM e e1
         |      JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT n_nodes, n_edges, n_triangles FROM n, ne, t""".stripMargin)),
    // common-neighbor link prediction over the EVIDENCE-THRESHOLDED
    // co-purchase graph: an edge needs >= CoPurchaseMinSupport shared
    // orders (the basket_frequent_pairs support philosophy). The raw
    // 1-incidental-order graph is uniformly dense (sf0.1: avg degree
    // 120, 148M wedges — and wedge volume is the STATISTIC's cost, no
    // orientation trick applies); thresholding is how production
    // co-purchase graphs are built, and keeps wedge volume proportional
    // to genuine repeat behavior at any corpus size
    QuerySpec("graph_common_neighbors", ((s, dir) => {
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
      // evidence-thresholded edges; every wedge via the symmetric
      // adjacency, already-linked pairs anti-joined out
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
         |ORDER BY common DESC, ra_score DESC, a, b LIMIT 20""".stripMargin)),
    // Jaccard neighborhood-overlap link prediction on the same
    // co-purchase graph: common/(deg_a+deg_b−common) — the normalized
    // score that stops hub pairs from outranking genuinely similar
    // low-degree pairs; one IEEE division of exact integers per pair,
    // ties totally ordered, so the top-k hash-checks
    QuerySpec("graph_jaccard_links", ((s, dir) => {
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
         |ORDER BY jaccard DESC, common DESC, a, b LIMIT 20""".stripMargin)),
    // per-node local clustering coefficient on the SPARSE co-order
    // subgraph: 2T(v)/(d(d-1)) — the clique-ness score (community
    // seeding, bot detection); every triangle credits all three
    // vertices via closed-wedge counting, closure is one shuffled-hash
    // join against the canonical edge list
    QuerySpec("graph_clustering_coeff", ((s, dir) => {
      val lp = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val edges = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .select(col("s1").as("a"), col("s2").as("b")).distinct()
      graft.operators.Triangles.clusteringCoeff(edges)
        .select(col("v").as("part"), col("degree"), col("triangles"), col("coeff"))
    }),
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
        |FROM deg d LEFT JOIN t ON d.v = t.v WHERE d.degree >= 2""".stripMargin),
    // deterministic integer fixed-point PageRank over the same part
    // co-order graph: fixed rounds, damping 85/100, scale 10^9 — the
    // arithmetic is integer end-to-end, so the oracle replays the exact
    // recurrence (a float PageRank could never be hash-compared: the
    // summation order would leak into the result)
    QuerySpec("graph_pagerank", ((s, dir) => {
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
      {
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
    }),
    // connected components over the SPARSE co-order subgraph (parts
    // linked when one order ships both in bulk) — large-star/small-star
    // alternation via Components, O(log²) rounds on any topology where
    // min-label propagation would pay one round per diameter unit (this
    // subgraph needs 59 propagation rounds at sf0.1). localThreshold=0
    // forces the distributed path: the named operator must exercise the
    // scale algorithm, not the driver union-find shortcut.
    QuerySpec("graph_components", ((s, dir) => {
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
      // min-reachable-id closure: the oracle replays connectivity by
      // recursive transitive reachability (fine at oracle scale; the
      // Spark side is the O(log²)-round star alternation)
      ComponentsClosureSql),
    // synchronous label-propagation communities on the same subgraph:
    // 3 deterministic most-frequent-label rounds (min tie-break) — the
    // community detector that, unlike components, respects density
    QuerySpec("graph_label_prop", ((s, dir) => {
      val lp = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .select(col("s1").as("doc_a"), col("s2").as("doc_b"))
      graft.operators.LabelProp.labels(
        lp.select(col("p").as("part")), pairs, "part")
    }),
      graft.pipeline.Oracles.graphLabelProp(
        graft.operators.LabelProp.Rounds)),
    // the CONVERGED variant: label propagation with a self-vote — the
    // damping that turns the oscillating synchronous rule (measured:
    // never stable on this graph, LabelProp scaladoc) into a true
    // fixpoint in 3-4 rounds; the oracle unrolls the same rule, and
    // ConvergenceSpec re-measures that StableRounds covers the fixpoint
    QuerySpec("graph_label_prop_stable", ((s, dir) => {
      val lp = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .select(col("s1").as("doc_a"), col("s2").as("doc_b"))
      graft.operators.LabelProp.labelsStable(
        lp.select(col("p").as("part")), pairs, "part")
    }),
      graft.pipeline.Oracles.graphLabelPropStable(
        graft.operators.LabelProp.StableRounds)),
    // Newman modularity of the BRAND partition over the same
    // co-purchase graph — the partition-quality score any community/
    // label assignment is judged by, kept integral (Q·4m² in BIGINT,
    // one double division at the end). NO iteration: two label joins +
    // one map-side-combinable aggregate
    QuerySpec("graph_modularity", ((s, dir) => {
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
        |FROM pc""".stripMargin),
    // bounded k-core peel on the same sparse subgraph: 3 synchronous
    // peel rounds at k=3 — the degeneracy-ordering workhorse (densest
    // community seeds, spam-farm detection); survivors carry the degree
    // that passed the final check, so the oracle hash-checks the
    // cascade itself, not just membership
    QuerySpec("graph_kcore", ((s, dir) => {
      val lp = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .select(col("s1").as("doc_a"), col("s2").as("doc_b")).distinct()
      graft.operators.KCore.peel(pairs, k = 3)
        .select(col("v").as("part"), col("core_degree"))
    }),
      graft.pipeline.Oracles.graphKCore(3,
        graft.operators.KCore.Rounds)),
    // k-TRUSS bounded peel on the same thresholded graph — the EDGE
    // cohesion sibling (support = triangles per edge; k-truss ⊂
    // (k−1)-core, strictly: closed structure, not just contact). Per
    // round: one degree-ordered triangle enumeration (O(E^1.5) bound),
    // a 3-edge explode, one count per 16-byte edge key. The surviving
    // edges AND their final support hash-check, pinning the cascade.
    QuerySpec("graph_ktruss", ((s, dir) => {
      val lp = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("s1"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
      val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
        .select(col("s1").as("a"), col("s2").as("b")).distinct()
      graft.operators.Truss.peel(pairs, k = 4)
    }),
      graft.pipeline.Oracles.graphKTruss(4,
        graft.operators.Truss.Rounds)),
    // degree distribution of the part co-order graph — the graph-shape
    // profile (hub detection, skew diagnosis before any wedge-generating
    // algorithm): two keyed aggregations, no joins beyond the edge build
    // degree assortativity (Newman '02): Pearson correlation of
    // endpoint degrees over directed edge copies — positive = hubs
    // link hubs, negative = hub-and-spoke. Every moment is an exact
    // integer sum (degrees are counts), so the statistic is one IEEE
    // division of exact integers + two exact sqrts — deterministic,
    // like agg_corr_pricing. Same co-purchase graph as degree_hist.
    QuerySpec("graph_assortativity", ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val l1 = lp.select(col("ok"), col("p").as("a"))
      val l2 = lp.select(col("ok").as("ok2"), col("p").as("b"))
      val edges = l1.join(l2, col("ok") === col("ok2") && col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
      graft.operators.Triangles.assortativity(edges)
    }),
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
        |FROM s""".stripMargin),
    // multi-source BFS hop distance (depth-bounded) over the same
    // co-purchase graph: frontier iteration — two keyed shuffles per
    // round, frontier holds only newly-reached nodes, localCheckpoint
    // per round (the iterative-lineage discipline); truncation leaves
    // far nodes unreported, never mislabeled
    QuerySpec("graph_bfs", ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val edges = lp.select(col("ok"), col("p").as("a"))
        .join(lp.select(col("ok").as("ok2"), col("p").as("b")),
          col("ok") === col("ok2") && col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
      val sources = lp.select(col("p")).distinct().filter(col("p") % 400 === 1)
      graft.operators.Bfs.levels(sources, edges, "p", "a", "b", maxDepth = BfsMaxDepth)
    }),
      graft.operators.Bfs.levelsOracle(
      """lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |ed AS (SELECT DISTINCT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
        |e AS (SELECT a AS src, b AS dst FROM ed UNION ALL SELECT b, a FROM ed)""".stripMargin,
      "s AS (SELECT DISTINCT p AS node FROM lp WHERE p % 400 = 1)",
      maxDepth = BfsMaxDepth)),
    QuerySpec("graph_degree_hist", ((s, dir) => {
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
      """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
        |deg AS (SELECT v, count(*) AS degree
        |        FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v)
        |SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree""".stripMargin),
    // time-series densification: per-user daily value series with every
    // silent day synthesized and the last observed value carried forward
    QuerySpec("ts_gapfill", ((s, dir) => {
      val obs = table(s, dir, "events")
        .select(col("user_id"),
          expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"), col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).cast("double").as("day_value"))
      graft.operators.GapFill.locf(obs, "user_id", "day", Seq("day_value"))
    }),
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
         |FROM j""".stripMargin),
    // same densified grid, LINEAR interpolation instead of LOCF — the
    // resampling mode for continuous signals; one IEEE division per
    // output row in a fixed expression order, so the oracle hash-checks
    // the interpolated trajectory itself
    QuerySpec("ts_interpolate", ((s, dir) => {
      val obs = table(s, dir, "events")
        .select(col("user_id"),
          expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"), col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).cast("double").as("day_value"))
      graft.operators.GapFill.interpolate(obs, "user_id", "day", "day_value")
    }),
      // mirror of GapFill.interpolate: anchors travel as structs through
      // two opposed window passes; the arithmetic is the same fixed-order
      // expression (long subtractions, one multiply, ONE division)
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
         |FROM a""".stripMargin),
    // fuzzy duplicate part names: block on the noun token, verify with
    // Levenshtein ≤ 3 — blocking-key equi-join, never all-pairs
    QuerySpec("er_fuzzy_pairs", ((s, dir) =>
      graft.pipeline.Fuzzy.blockedPairs(
        table(s, dir, "part"), "p_name",
        nm => split(nm, " ").getItem(1), maxDist = FuzzyMaxDist,
        maxBlock = FuzzyMaxBlock)
        .select(col("left").as("name_a"), col("right").as("name_b"), col("dist"))),
      // Key semantics mirror Spark's split(s,' ')[1]: a name with no
      // space has NO second token (NULL key, row dropped by the equi-
      // join) — distinct from a name whose second token is '' (kept).
      // The `keep` CTE mirrors Fuzzy.blockedPairs' maxBlock cap.
      s"""WITH n AS (SELECT DISTINCT p_name AS s,
         |         CASE WHEN p_name LIKE '% %' THEN split_part(p_name, ' ', 2) END AS k
         |       FROM part),
         |f AS (SELECT s, k FROM n WHERE k IS NOT NULL),
         |keep AS (SELECT k FROM f GROUP BY k HAVING count(*) <= $FuzzyMaxBlock),
         |blk AS (SELECT f.s, f.k FROM f JOIN keep USING (k))
         |SELECT a.s AS name_a, b.s AS name_b, CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         |FROM blk a JOIN blk b ON a.k = b.k AND a.s < b.s
         |WHERE levenshtein(a.s, b.s) <= $FuzzyMaxDist""".stripMargin),
    // blocking-recall harness (the ER sibling of dedup_minhash_recall):
    // exact truth from LOSSLESS length-band blocking (edit distance ≤ d
    // bounds the length gap at d — no all-pairs product even in the
    // truth arm), candidates from the production noun-token key; recall
    // = what the cheap key silently costs. Gated slice keeps the
    // harness's exact arm bounded at any sf.
    QuerySpec("er_blocking_recall", ((s, dir) =>
      graft.pipeline.Fuzzy.blockingRecall(
        table(s, dir, "part").filter(col("p_partkey") % 8 === 0),
        "p_name", nm => split(nm, " ").getItem(1),
        maxDist = FuzzyMaxDist, maxBlock = FuzzyMaxBlock)),
      // truth = lossless length-band pairs on the gated slice; candidates
      // = the production noun-token blocking on the same slice
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
         |FROM tr, ca""".stripMargin),
    // entity RESOLUTION end-to-end (the step after pair finding): fuzzy
    // match pairs become edges, connected components merge transitive
    // matches ("acme corp" ~ "acme co" ~ "acme inc" = one entity), each
    // multi-record entity surfaces under its min-name canonical id —
    // the composed record-linkage pipeline as ONE oracle query
    QuerySpec("er_entities", ((s, dir) => {
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
      // transitive closure over the fuzzy-pair edges, min-name canonical
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
         |GROUP BY 1 HAVING count(*) > 1""".stripMargin),
    // the resolution DASHBOARD over the same clustering: cluster-size
    // histogram INCLUDING singletons, with each size's share of all
    // records — the dedup-rate numbers an ER run is judged by (division
    // of two exact longs, one 1-row broadcast)
    QuerySpec("er_cluster_stats", ((s, dir) => {
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
         |FROM sz, t GROUP BY sz, t.total""".stripMargin),
    // SURVIVORSHIP over the same clustering — the golden-record MDM
    // step ER feeds: every source row joins its cluster label, and one
    // keyed aggregate applies the field rules (min key = stable id,
    // max price = most-complete-wins, member counts). Only multi-name
    // clusters surface (the actual merges)
    QuerySpec("er_golden_record", ((s, dir) => {
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
         |FROM g WHERE n_names > 1""".stripMargin),
    // one-pass column profile of the events table: per-column null and
    // exact distinct counts via a melt + single hash aggregation
    QuerySpec("profile_columns", ((s, dir) =>
      graft.pipeline.Profile.columns(table(s, dir, "events"))),
      """SELECT 'event_id' AS col_name, count(*) - count(event_id) AS n_nulls, count(DISTINCT event_id) AS n_distinct FROM events
        |UNION ALL SELECT 'ts', count(*) - count(ts), count(DISTINCT ts) FROM events
        |UNION ALL SELECT 'user_id', count(*) - count(user_id), count(DISTINCT user_id) FROM events
        |UNION ALL SELECT 'event_type', count(*) - count(event_type), count(DISTINCT event_type) FROM events
        |UNION ALL SELECT 'value', count(*) - count(value), count(DISTINCT value) FROM events
        |UNION ALL SELECT 'props', count(*) - count(props), count(DISTINCT props) FROM events""".stripMargin),
    // FK discovery over declared candidate pairs: containment of
    // distinct value sets + referenced-side uniqueness — the catalog-
    // inference rule (three true FKs discover themselves near 1.0/1.0;
    // the deliberately wrong pair discriminates). Distinct sets shuffle
    // keys only; candidates are a metadata-sized list, never n².
    // distribution-drift monitor: per-source chi-square of the n_chars
    // histogram vs the corpus reference (the PSI shape without the
    // cross-engine-banned logarithm); fixed-order term chain keeps the
    // float statistic deterministic
    QuerySpec("profile_drift_chi2", ((s, dir) =>
      graft.pipeline.Profile.driftChi2(table(s, dir, "documents"), "source", col("n_chars"))),
      graft.pipeline.Profile.driftChi2Oracle("documents", "source", "n_chars")),
    // ANALYZE-style NDV stats at sketch cost: ONE scan exploded to
    // (col_name, value), per-column KMV minima — the CBO stats pass
    // (exact countDistinct per column would be a full-width shuffle
    // each; KMV ships k 8-byte minima and MERGES across partitions)
    QuerySpec("profile_ndv", ((s, dir) =>
      graft.pipeline.Profile.ndvProfile(table(s, dir, "lineitem"), NdvCols)),
      graft.pipeline.Profile.ndvProfileOracle("lineitem", NdvCols)),
    // Cramér's V between return flag and line status — the categorical
    // association gate (MI minus the banned logarithm): the whole r×c
    // contingency table is ONE wide scan-aggregate row, marginals
    // derive by integer addition, terms added in fixed written order
    QuerySpec("profile_cramers_v", ((s, dir) =>
      graft.pipeline.Profile.cramersV(table(s, dir, "lineitem"),
        "l_returnflag", Seq("A", "N", "R"), "l_linestatus", Seq("F", "O"))),
      graft.pipeline.Profile.cramersVOracle(
        "lineitem", "l_returnflag", Seq("A", "N", "R"), "l_linestatus", Seq("F", "O"))),
    // frequent items per column (the other half of the ANALYZE pass
    // next to profile_ndv): exact counts, per-column top-3 via the
    // two-stage salted cover — never a single-reducer-per-column window
    QuerySpec("profile_topk_values", ((s, dir) =>
      graft.pipeline.Profile.topkValues(table(s, dir, "lineitem"), NdvCols)),
      graft.pipeline.Profile.topkValuesOracle("lineitem", NdvCols)),
    QuerySpec("profile_fk_candidates", ((s, dir) => {
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
      graft.pipeline.Oracles.profileFkCandidates(Seq(
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("part", "p_size", "nation", "n_nationkey")))),
    // declarative data-quality expectation suite (the Deequ shape):
    // every row-level predicate evaluates in ONE scan per table; each
    // uniqueness check is one keyed groupBy; each referential check one
    // containment join — one verdict row per check, the per-ingest
    // admission gate a warehouse publishes behind
    // pairwise Pearson matrix in ONE scan: exact DECIMAL moments (k
    // sums, k squares, k(k-1)/2 cross products side by side), each
    // correlation a fixed-order double expression; zero-variance -> null
    QuerySpec("profile_corr_matrix", ((s, dir) =>
      graft.pipeline.Profile.corrMatrix(table(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
      graft.pipeline.Profile.corrMatrixOracle(
        "lineitem", Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    // Tukey-fence outlier census: exact quartiles for every numeric
    // column in ONE aggregate (1-row broadcast back, scalar-subquery
    // shape), all fences counted in one second scan — two passes total
    // regardless of column count, never a melt shuffle
    QuerySpec("profile_outlier_iqr", ((s, dir) =>
      graft.pipeline.Profile.outlierIqr(table(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
      graft.pipeline.Profile.outlierIqrOracle(
        "lineitem", Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    QuerySpec("profile_dq_checks", ((s, dir) => {
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
        |FROM oc""".stripMargin),
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
    QuerySpec("layout_retention", ((s, dir) => {
      val ev = table(s, dir, "events").select(col("event_type"),
        (col("event_id") / 500).cast("long").as("bucket"), expr(TsUsSql).as("t"))
      val files = ev.groupBy(col("event_type"), col("bucket"))
        .agg(min(col("t")).as("min_ts"), max(col("t")).as("max_ts"),
          (count(lit(1)) * 100).as("bytes"))
      val bounds = files.agg(min(col("min_ts")), max(col("max_ts"))).collect()(0)
      val cutoff = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 3 * 2
      graft.operators.Layout.retentionPlan(files, "event_type", "max_ts", "min_ts", "bytes", cutoff)
    }),
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
        |FROM f, c GROUP BY event_type""".stripMargin),
    // clustering-depth census: the SAME file assignment (insert order =
    // l_orderkey div 200) measured on two query keys — orderkey
    // intervals are disjoint (depth 1, clustered), partkey intervals
    // all span the key space (depth ≈ n_files, the recluster signal);
    // the before/after-OPTIMIZE comparison in one metadata sweep
    QuerySpec("layout_cluster_depth", ((s, dir) => {
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
        |FROM sw WHERE d = 1 GROUP BY layout""".stripMargin),
    // MEASURED zone-map skipping: the same rows laid out linearly vs
    // z-ordered into 64 equal files (GlobalRank ntile — never a
    // single-task window), per-file min/max zone maps on BOTH keys,
    // then four literal 2D range queries counted against the maps —
    // the "why pay for z-order" number (2D selective queries read far
    // fewer z-ordered files); pure metadata after the two ntile passes
    QuerySpec("layout_skip_measured", ((s, dir) => {
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
      {
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
    }),
    // dictionary-encoding benefit per string column — the storage-
    // planning estimate behind the file layout's encoding choice; all
    // integer bits (code width via a power-of-two ladder, no libm)
    QuerySpec("layout_dict_estimate", ((s, dir) =>
      graft.pipeline.Profile.dictEstimate(table(s, dir, "part"),
        Seq("p_name", "p_brand", "p_type"))),
      graft.pipeline.Profile.dictEstimateOracle(
        "part", Seq("p_name", "p_brand", "p_type"))),
    QuerySpec("layout_range_bounds", ((s, dir) =>
      graft.operators.Layout.rangeBounds(
        table(s, dir, "lineitem"),
        concat_ws("#", col("l_orderkey"), col("l_linenumber")),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long"),
        numPartitions = 8, rate = QuantileSampleRate)),
      graft.operators.Layout.rangeBoundsOracle(
        "lineitem", "l_orderkey::VARCHAR || '#' || l_linenumber::VARCHAR",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
        numPartitions = 8, rate = QuantileSampleRate)),
    // keyword search: top-10 documents by total matched-term frequency —
    // the lexical-retrieval path (integer scoring, so the oracle can
    // hash-check the ranking itself). The term set is a literal IN
    // filter evaluated scan-side; the explosion never leaves the map
    // stage and the top-k is one TakeOrdered, not a global sort
    QuerySpec("search_topk", ((s, dir) => {
      val toks = table(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.pipeline.TextPipeline.tokens(col("text"))).as("token"))
      toks.where(col("token").isin(SearchTerms: _*))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("score"), countDistinct(col("token")).as("n_terms"))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
    }),
      {
      val terms = SearchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM documents)
         |SELECT doc_id, count(*) AS score, count(DISTINCT token) AS n_terms
         |FROM t WHERE token IN ($terms)
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    }),
    // exact PHRASE query over a positional inverted index: postings are
    // materialized only for the phrase's terms (isin pushes into the
    // scan), consecutive terms align via (doc, pos−i) equi-joins —
    // at 100 TB the read is three posting lists, never the corpus
    QuerySpec("search_phrase", ((s, dir) =>
      graft.pipeline.TextPipeline.phraseSearch(
        table(s, dir, "documents"), PhraseTerms)),
      {
        graft.pipeline.TextPipeline.phraseSearchOracle("documents", PhraseTerms)
      }),
    // Z-order layout key: Morton-interleave (custkey, order-day) — the
    // multi-dimensional clustering key whose range-sort gives tight
    // per-file min/max in BOTH dimensions (scan pruning at 100 TB);
    // pure integer bit ops, bit-identical on any engine
    QuerySpec("layout_zorder", ((s, dir) => {
      val day = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      table(s, dir, "orders").select(col("o_orderkey"),
        graft.operators.Layout.zkey(col("o_custkey"), day).as("zkey"))
    }),
      s"""SELECT o_orderkey, ${graft.operators.Layout.zkeySql("o_custkey",
            "(o_orderdate::DATE - DATE '1970-01-01')::BIGINT")} AS zkey
         |FROM orders""".stripMargin),
    // Hilbert layout key (the liquid-clustering curve): consecutive
    // keys are ALWAYS adjacent cells, so key-range file boundaries
    // enclose tighter min/max boxes than Morton's quadrant jumps
    QuerySpec("layout_hilbert", ((s, dir) => {
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
      {
        val levels = graft.operators.Layout.hilbertLevelsSql("orders",
          "o_custkey % 65536", "(o_orderdate::DATE - DATE '1970-01-01') % 65536",
          16, Seq("o_orderkey"))
        s"SELECT o_orderkey, hd AS hkey FROM $levels tfin"
      }),
    // small-file compaction planning (the OPTIMIZE step): the document
    // corpus simulated as a file inventory — one "file" per (source,
    // doc_id div 20) with its byte size — bin-packed in key order into
    // ~20 KB outputs. The plan runs over file METADATA only (one group
    // exchange + a per-group window); the manifest (files per bin,
    // bytes, key range) is what the rewrite job consumes, and keeping
    // the key order preserves the clustering the layout paid for
    QuerySpec("layout_compaction", ((s, dir) => {
      val files = table(s, dir, "documents")
        .groupBy(col("source"), (col("doc_id") / CompactionFileDocs)
          .cast("long").as("bucket"))
        .agg(sum(col("n_chars")).as("bytes"))
      graft.operators.Layout.compactionPlan(
        files, "source", "bucket", "bytes", CompactionTargetBytes)
    }),
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
         |FROM w GROUP BY 1, 2""".stripMargin),
    // deterministic sampled quantile: salted-hash 5% sample + exact
    // percentile over integral cents — approximate median with no
    // global sort and a hash-checkable estimate
    QuerySpec("sketch_quantile_sample", ((s, dir) =>
      graft.pipeline.Sketches.sampledQuantile(
        table(s, dir, "lineitem"),
        concat_ws("#", col("l_orderkey"), col("l_linenumber")),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long"),
        q = 0.5, rate = QuantileSampleRate)),
      graft.pipeline.Sketches.sampledQuantileOracle("lineitem",
        "l_orderkey::VARCHAR || '#' || l_linenumber::VARCHAR",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
        q = 0.5, rate = QuantileSampleRate)),
    // quantile-sketch MERGEABILITY as an oracle row (the kmv_rollup
    // sibling): per-ship-date samples (the daily pre-aggregate) merged,
    // one exact percentile over the union; the oracle computes the
    // DIRECT global sampled quantile — lossless merge is the claim,
    // and it holds because the Bernoulli gate is row-local
    QuerySpec("sketch_quantile_rollup", ((s, dir) =>
      graft.pipeline.Sketches.quantileRollup(
        table(s, dir, "lineitem"),
        col("l_shipdate"),
        concat_ws("#", col("l_orderkey"), col("l_linenumber")),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long"),
        q = 0.5, rate = QuantileSampleRate)),
      // merge-vs-direct: lossless merging is the contract being checked
      graft.pipeline.Sketches.quantileRollupOracle("lineitem", "l_shipdate",
        "l_orderkey::VARCHAR || '#' || l_linenumber::VARCHAR",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
        q = 0.5, rate = QuantileSampleRate)),
    // KMV distinct-count sketch over order keys: the DETERMINISTIC
    // approximate-distinct (HLL's register layout is engine-defined, so
    // only a k-minimum-values sketch can be oracle-checked exactly)
    QuerySpec("sketch_kmv_distinct", ((s, dir) =>
      graft.pipeline.Sketches.kmvDistinct(table(s, dir, "lineitem"), "l_orderkey")),
      graft.pipeline.Sketches.kmvDistinctOracle("lineitem", "l_orderkey")),
    // per-group sketch: distinct props payloads per event type — the
    // "distinct per segment" profile at O(k·groups) driver cost
    QuerySpec("sketch_kmv_groups", ((s, dir) =>
      graft.pipeline.Sketches.kmvDistinctByGroup(
        table(s, dir, "events"), "event_type", "props")),
      graft.pipeline.Sketches.kmvDistinctByGroupOracle("events", "event_type", "props")),
    // KMV set algebra: click-days vs purchase-days audience overlap
    // (union / Jaccard / intersection estimates) with NO join between
    // the populations — each side ships k 8-byte minima. The (user, day)
    // grain puts both sets well past k, so the oracle checks the
    // ESTIMATOR branch and a genuinely partial Jaccard, not the
    // small-set exact path
    QuerySpec("sketch_kmv_overlap", ((s, dir) => {
      val ev = table(s, dir, "events").withColumn("uday",
        concat(col("user_id").cast("string"), lit(":"),
          expr(s"($TsUsSql) div $RangeJoinDayUs").cast("string")))
      graft.pipeline.Sketches.kmvOverlap(
        ev.filter(col("event_type") === "click"), "uday",
        ev.filter(col("event_type") === "purchase"), "uday")
    }),
      graft.pipeline.Sketches.kmvOverlapOracle("events",
        s"user_id || ':' || (epoch_us(ts) // $RangeJoinDayUs)",
        "event_type = 'click'", "event_type = 'purchase'")),
    // KMV rollup — sketch MERGEABILITY as an oracle row: per-day user
    // sketches merged into the global sketch; the oracle computes the
    // DIRECT global sketch, which the merge must equal exactly (any
    // globally-k-smallest hash is its own day's k-smallest). k=64 <
    // ~150 distinct users, so the estimator branch is the one checked
    QuerySpec("sketch_kmv_rollup", ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"), col("user_id"))
      graft.pipeline.Sketches.kmvRollup(ev, "day", "user_id", KmvRollupK)
    }),
      // merge-vs-direct: the rollup's oracle is the from-scratch global
      // sketch — lossless merging IS the contract being checked
      graft.pipeline.Sketches.kmvRollupOracle("events",
        s"(epoch_us(ts) // $RangeJoinDayUs)", "user_id", KmvRollupK)),
    // count-min heavy hitters over the token stream (Zipf-ish keys —
    // the distribution CMS is built for): depth×width counter grid in
    // one map-side-combined pass (1024 cells cross the exchange, never
    // the tokens), top-10 true-heaviest read back next to their sketch
    // estimates; est >= true always, and the overcount column MEASURES
    // collision inflation at this width before you trust the sketch
    // alone at a scale where the exact arm is unaffordable
    QuerySpec("sketch_cms_heavy", ((s, dir) => {
      val toks = table(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      graft.pipeline.Sketches.cmsHeavy(toks, "token", topK = 10)
    }),
      graft.pipeline.Sketches.cmsHeavyOracle(
        "(SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM documents) toks",
        "token", topK = 10)),
    // the warehouse layout path end-to-end: both sides bucketed on the
    // join key into scratch tables, then joined-aggregated THROUGH the
    // bucketed scans (zero-exchange join — the WarehouseSpec invariant).
    // Layout is invisible in the result, so the oracle is the plain join
    // — same contract as join_salted_agg
    QuerySpec("warehouse_bucketed_join", ((s, dir) => {
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
      // layout-invisible: the plain join IS the bucketed join's contract
      ("SELECT o_orderstatus, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderstatus")),
    // the other warehouse layout path: documents written PARTITIONED by
    // lang into scratch, then read back through a partition-pruned scan
    // (the lang predicate resolves against directories at planning time
    // — WarehouseSpec pins the PartitionFilters plan line). Layout is
    // invisible in the result, so the oracle reads the ORIGINAL parquet
    // — proving the directory-encoded round trip preserves every value
    QuerySpec("warehouse_partition_prune", ((s, dir) => {
      val tmp = scratch(dir, "wh-p")
      graft.sources.Warehouse.writePartitioned(
        table(s, dir, "documents"), s"$tmp/docs", Seq("lang"))
      s.read.parquet(s"$tmp/docs").filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    }),
      // layout-invisible: the pruned partitioned read must equal the
      // plain filtered read of the original table
      """SELECT source, count(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin),
    // CDC MERGE (upsert): a deterministic changelog — updates on keys
    // ≡3 (mod 10), deletes on ≡7, inserts on ≡5 under shifted keys —
    // applied to the orders snapshot through Warehouse.applyChangelog
    // (ONE anti join + a union; the oracle re-derives the merged state
    // set-wise, so the whole MERGE semantics hash-checks: replaced
    // rows, removed keys, added keys, untouched remainder)
    QuerySpec("warehouse_merge_upsert", ((s, dir) => {
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
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM chg WHERE op <> 'D'""".stripMargin),
    // CDC EXTRACTION (the inverse of merge_upsert): two snapshots in,
    // minimal I/U/D changelog out via one full-outer key join with
    // null-safe column compares; the after-snapshot mutation recipe is
    // the same deterministic one merge_upsert applies, so the derived
    // changelog is exactly the one that round-trips
    QuerySpec("warehouse_snapshot_diff", ((s, dir) => {
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
      // the merged snapshot re-derived set-wise: untouched base keys plus
      // non-delete changelog images
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
        |SELECT o_orderkey, op, o_orderstatus, o_totalprice FROM d WHERE op IS NOT NULL""".stripMargin),
    // incremental materialized-view maintenance: the pre-cutoff orders
    // aggregate is the stored view STATE, the post-cutoff rows are the
    // refresh delta — merge(agg(base), agg(delta)) must equal the
    // from-scratch aggregate, which is exactly what the oracle computes
    // (counts/exact-decimal sums add, mins/maxes fold; base never
    // rescanned)
    QuerySpec("warehouse_incr_agg", ((s, dir) => {
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
      """SELECT o_custkey, count(*) AS cnt,
        |  SUM(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS sum_total,
        |  min(o_totalprice) AS min_total, max(o_totalprice) AS max_total
        |FROM orders GROUP BY 1""".stripMargin),
    // SCD TYPE-2 dimension history from the event log: per user, each
    // RUN of equal event_type states becomes one versioned interval
    // (valid_from/valid_to/version/is_current) — consecutive duplicates
    // extend the open version, only genuine changes cut a new row. One
    // key exchange, two windows, no joins (the audited shape)
    QuerySpec("warehouse_scd2", ((s, dir) => {
      val log = table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr(TsUsSql).as("t"), col("event_id"))
      graft.sources.Warehouse.scd2(log, "user_id", "event_type",
        Seq("t", "event_id"))
    }),
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev FROM e),
        |f AS (SELECT user_id, event_type, t, event_id FROM c
        |      WHERE prev IS DISTINCT FROM event_type),
        |v AS (SELECT user_id, event_type, t AS valid_from,
        |        lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to,
        |        row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS version
        |      FROM f)
        |SELECT user_id, event_type, valid_from, valid_to, version,
        |  valid_to IS NULL AS is_current FROM v""".stripMargin),
    // the JSONL ingest path end-to-end: documents serialized to JSON
    // lines in scratch with three syntactically-broken lines injected,
    // read back through the explicit-schema PERMISSIVE reader, and
    // split clean/quarantine. The oracle aggregates the ORIGINAL
    // parquet plus the literal corrupt count — proving the JSON round
    // trip preserves every value and malformed lines are QUARANTINED
    // (counted), never silently dropped
    QuerySpec("ingest_jsonl_quarantine", ((s, dir) => {
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
      // ingest-invisible: the JSONL round trip must reproduce the parquet
      // aggregate exactly, plus the three injected corrupt lines
      """SELECT lang, count(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS min_doc
        |FROM documents GROUP BY 1
        |UNION ALL
        |SELECT '_corrupt', 3, NULL, NULL""".stripMargin),
    // parquet SCHEMA EVOLUTION: two ingest batches written with
    // different schemas (v2 adds a column), read back as ONE table via
    // mergeSchema — v1 rows surface the new column as null, and the
    // aggregate proves the union is lossless; the add-a-column migration
    // every long-lived 100 TB table goes through
    QuerySpec("ingest_schema_evolution", ((s, dir) => {
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
      """SELECT o_orderstatus,
        |  count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_with_price,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1
        |        THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin),
    // seasonal-naive forecasting baseline (the eval every fancier
    // forecaster must beat): forecast(day) = total(day-7), scored as
    // exact-DECIMAL absolute errors with one double division at the end
    QuerySpec("ts_seasonal_naive", ((s, dir) => {
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
      s"""WITH d AS (SELECT event_type, epoch_us(ts) // $RangeJoinDayUs AS day,
         |        sum(CAST(value AS DECIMAL(18,2))) AS t
         |      FROM events GROUP BY 1, 2),
         |j AS (SELECT a.event_type, a.day, a.t, b.t AS prior
         |      FROM d a JOIN d b ON b.event_type = a.event_type AND b.day = a.day - 7)
         |SELECT event_type, count(*)::BIGINT AS n_scored,
         |  round(CAST(sum(abs(t - prior)) AS DOUBLE) / count(*), 4) AS mae
         |FROM j GROUP BY 1""".stripMargin),
    // CUSUM level-shift changepoint per event type over the day-grain
    // series: the x maximizing |n·S_k − k·T| (Page '54, scaled to stay
    // integral) — ONE key-partitioned window chain; the argmin groupBy
    // reuses the window's hash partitioning, never a global sort
    QuerySpec("ts_cusum_changepoint", ((s, dir) => {
      val daily = table(s, dir, "events")
        .select(col("event_type"), expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
      graft.operators.Series.cusumChangepoint(daily)
    }),
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
         |SELECT event_type, day AS split_x, dev, n AS n_points FROM r WHERE rn = 1""".stripMargin),
    // LTTB display downsampling (fixed-anchor parallel variant) of the
    // global daily event count: 12 interior buckets + both endpoints;
    // triangle areas ranked in exact integer arithmetic (no division)
    QuerySpec("ts_lttb_downsample", ((s, dir) => {
      val daily = table(s, dir, "events")
        .select(expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("y"))
      graft.operators.Series.lttbDownsample(daily)
    }),
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
         |UNION ALL SELECT CAST(12 AS BIGINT), x1, y1, CAST(0 AS BIGINT) FROM b""".stripMargin),
    // lag-1 / lag-7 autocorrelation of the daily event count — the
    // seasonality detector next to the CUSUM row; integer moments from
    // a lag-shifted self-join, one fixed IEEE expression per lag
    QuerySpec("ts_autocorr", ((s, dir) => {
      val daily = table(s, dir, "events")
        .select(expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("y"))
      graft.operators.Series.autocorr(daily)
    }),
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
         |FROM m""".stripMargin),
    // k-anonymity census over (nation, segment, acctbal-bucket) — the
    // privacy gate before demographic-ish columns enter a training
    // mix: class sizes from ONE keyed groupBy, census from a 1-row
    // reduce over metadata
    // (balance bucket shifts to non-negative cents first: Spark `div`
    // truncates while the oracle's `//` floors — they agree only ≥ 0)
    QuerySpec("profile_k_anonymity", ((s, dir) =>
      graft.pipeline.Profile.kAnonymity(table(s, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment"),
          expr("(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 1000000) div 100000")
            .as("bal_bucket")))),
      graft.pipeline.Profile.kAnonymityOracle("customer",
        Seq("c_nationkey", "c_mktsegment",
          "(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 1000000) // 100000 AS bal_bucket"))),
    // l-diversity over the same quasi-identifiers with the market
    // segment as the SENSITIVE attribute — the companion gate: a
    // k-anonymous class still leaks if every member shares the value
    QuerySpec("profile_l_diversity", ((s, dir) =>
      graft.pipeline.Profile.lDiversity(table(s, dir, "customer"),
        Seq(col("c_nationkey"),
          expr("(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 1000000) div 100000")),
        col("c_mktsegment"))),
      graft.pipeline.Profile.lDiversityOracle("customer",
        Seq("c_nationkey",
          "(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 1000000) // 100000"),
        "c_mktsegment")),
    // Benford first-digit conformance of order totals — the fabricated-
    // data / unit-mixup gate; digit extracted ARITHMETICALLY (integer
    // ladder over exact cents, never number formatting), expectations
    // inlined as literals, fixed-order chi-square
    QuerySpec("profile_benford", ((s, dir) =>
      graft.pipeline.Profile.benford(table(s, dir, "orders"), col("o_totalprice"))),
      graft.pipeline.Profile.benfordOracle("orders", "o_totalprice")),
    // two-sample Kolmogorov–Smirnov drift between src0 and src1 doc
    // lengths — the bucket-free sibling of profile_drift_chi2;
    // D·n_a·n_b stays an exact integer end to end
    QuerySpec("profile_ks_drift", ((s, dir) =>
      graft.pipeline.Profile.ksDrift(table(s, dir, "documents"),
        col("n_chars"), col("source") === "src0", col("source") === "src1")),
      graft.pipeline.Profile.ksDriftOracle(
        "documents", "n_chars", "source = 'src0'", "source = 'src1'")),
    // weekly seasonal profile of the daily event count: per day-of-week
    // index, the mean's ratio to the overall mean as ONE double division
    // of two exact integer products (dow_total·n_all / n_dow·total) —
    // the libm-free seasonal-decomposition leg; totals ride a 1-row
    // broadcast (scalar-subquery shape)
    QuerySpec("ts_seasonal_decompose", ((s, dir) => {
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
      s"""WITH d AS (SELECT epoch_us(ts) // $RangeJoinDayUs AS day, count(*) AS y
         |      FROM events GROUP BY 1),
         |t AS (SELECT CAST(sum(y) AS BIGINT) AS total, count(*) AS n_all FROM d),
         |g AS (SELECT day % 7 AS dow, count(*) AS n_days,
         |        CAST(sum(y) AS BIGINT) AS dow_total FROM d GROUP BY 1)
         |SELECT dow, n_days, dow_total,
         |  round(CAST(dow_total * n_all AS DOUBLE) / CAST(n_days * total AS DOUBLE), 6) AS seasonal_ratio
         |FROM g CROSS JOIN t""".stripMargin),
    // per-user daily OHLC bars: open/close picked by min/max(struct) —
    // ONE hash aggregate with map-side partials, no window sort; ties
    // on ts break on the unique event id so the bar is deterministic
    QuerySpec("ts_ohlc_daily", ((s, dir) => {
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
         |FROM w GROUP BY 1, 2""".stripMargin),
  )
}
