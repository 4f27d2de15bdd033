package graft.icl

import graft.SparkTestBase
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-regression net for the constraint compiler (VERDICT r6 item 5):
  * runs every shipped `icl_*` pipeline end-to-end (the same scripts
  * `SparkEntry.queries` ships) while recording EVERY physical plan the
  * engine executes — insert-time validation DAGs included — and asserts
  * the structural invariants PLANS.md claims:
  *
  *   1. no `CartesianProduct`, and no `BroadcastNestedLoopJoin` except
  *      the documented benign shape — a broadcast of LITERAL rows (a
  *      `Const` relation / 1-row stat frame, `LocalTableScanExec`
  *      leaves only). The Compile quantifier fallback joining two real
  *      relations must stay unreachable from shipped constraint shapes.
  *   2. the total SHUFFLE exchange count per pipeline stays within a
  *      pinned budget — a silent extra shuffle in the validation path
  *      (a lost broadcast, a new distribution requirement) fails here
  *      instead of surfacing as an unexplained bench regression three
  *      rounds later. Broadcast exchanges are not counted: broadcasting
  *      a dim is the plan IMPROVING, not regressing.
  *
  * Budgets are pinned from the round-8 plans (sf0.001, AQE on); if an
  * intentional plan change moves a number, re-pin HERE in the same
  * commit with the reason.
  */
class PlanRegressionSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  /** (pipeline, max shuffle-exchange nodes, max non-literal BNLJ nodes)
    * across every plan the pipeline executes. The BNLJ allowance is
    * exactly the DRL `Cartesian` the fk_bulk SOURCE query requests
    * (region × nation × customer fact build) — the VALIDATION side of
    * every pipeline is pinned at zero. */
  private val Budgets: Seq[(String, Int, Int)] = Seq(
    ("icl_fk_pipeline", 1, 0),
    ("icl_quantifier_pipeline", 1, 0),
    ("icl_exclusion_pipeline", 1, 0),
    ("icl_nway_pipeline", 1, 0),
    ("icl_conjunction_pipeline", 1, 0),
    ("icl_fk_bulk", 4, 2),
    // round-9 single-plan queries (iterative cached operators like
    // graph_kcore are excluded: flatten re-counts shared AQE stage
    // subtrees through cache/reuse boundaries, so their node counts
    // inflate unstably — the same artifact PLANS.md documents for plan
    // strings; their per-round shape is audited there instead).
    // asof_nearest's 1 is the design invariant: ONE key shuffle feeds
    // both opposed window sorts and the count reuses it.
    ("asof_nearest_purchase", 1, 0),
    ("ts_interpolate", 2, 0),
    ("warehouse_partition_prune", 2, 0),
    // round-10 single-plan rows (PLANS.md "new-row plan audits"): the
    // emb_whiten BNLJ allowance is the ONE-ROW stats broadcast (the
    // scalar-subquery shape — its build side aggregates a FileScan, so
    // it is "non-literal" to the checker but 1 row by construction);
    // same for profile_fk_candidates' per-pair 1-row stat crosses
    // (3 per candidate pair). graph_ktruss is iterative-cached and
    // excluded like graph_kcore (flatten re-counts shared AQE subtrees).
    ("emb_whiten", 3, 1),
    ("sketch_quantile_rollup", 3, 0),
    ("mm_pixel_dhash", 2, 0),
    ("mm_pixel_resize", 1, 0),
    ("pack_padding_census", 2, 0),
    ("layout_range_bounds", 2, 0),
    ("text_code_switch", 6, 0),
    ("ann_ivf_balance", 10, 0),
    ("profile_fk_candidates", 50, 12),
    // late-round-10 rows: drift's BNLJ allowance is the 1-row global
    // histogram broadcast (same scalar-subquery shape as emb_whiten);
    // contamination's budget covers the Lloyd training chain (one
    // grouped-sum job per round, like ann_ivf_balance) plus the final
    // verdict windows.
    ("profile_drift_chi2", 3, 1),
    // retention runs TWO jobs by design (cutoff = collect of the
    // inventory's min/max, then the plan over the same inventory), so
    // the inventory-build groupBy executes twice: 2 shuffles per job.
    ("layout_retention", 4, 0),
    ("pipeline_image_dedup", 2, 0),
    ("dedup_semantic_contamination", 12, 0),
    // second late-round-10 batch (recall harnesses are multi-consumer
    // cached like minhashRecall and stay plan-audited in PLANS.md
    // instead): wav decode and kfold are pure narrow maps — their one
    // exchange is the harness's own count() reduction, so 1 here IS
    // the zero-shuffle design invariant.
    ("mm_wav_pcm", 1, 0),
    ("split_kfold", 1, 0),
    // +1 = the pre-hash rebalance exchange (see ndvProfile); +1 more
    // headroom because balanced()'s partition probe makes the captured
    // plan count context-dependent (2 plans isolated, 3 in-suite).
    ("profile_ndv", 5, 0),
    ("layout_cluster_depth", 5, 0),
    // batch 3: hash_embed/char_gini are one map-side-combined agg chain
    // (+1 = harness count); snapshot_diff is ONE full-outer key join;
    // assortativity's budget covers the distinct + wedge join + degree
    // join chain over the co-purchase graph.
    ("text_hash_embed", 2, 0),
    ("text_char_gini", 4, 0), // +1: the pre-fan-out rebalance exchange
    ("warehouse_snapshot_diff", 5, 0),
    // graph_assortativity is cache-disciplined (persist edges,
    // materialize, release) and excluded like the other cached graph
    // operators; its plan is audited in PLANS.md.
    // batch 4: image quality is the narrow decode map (+1 harness
    // count); dedup_novelty persists its shingle index (multi-consumer)
    // and er_cluster_stats rides the ITERATIVE connected-components
    // loop — both excluded like the recall harnesses / graph loops.
    ("mm_image_quality", 1, 0),
    // batch 5: dq_checks runs ONE scan-agg per row-check table, one
    // keyed groupBy per uniqueness check, broadcast containment joins
    // (+1 harness count per single-partition agg arm); cms's grid and
    // truth arms are each one map-side-combined exchange; audio VAD is
    // the narrow decode map (1 = harness count). graph_bfs is the
    // iterative frontier loop — excluded like the other graph loops.
    ("profile_dq_checks", 9, 0),
    ("sketch_cms_heavy", 4, 0),
    ("mm_audio_vad", 1, 0),
    // batch 6: cdc chunking = balanced rebalance + doc window + two
    // digest groupBys + verdict agg (+1 harness count); the embargo
    // split's BNLJ allowance is the 1-ROW span-bounds broadcast (the
    // scalar-subquery shape, same as emb_whiten). emb_knn_graph rides
    // the Lloyd training chain and is excluded like dedup_semantic /
    // the recall harnesses; its plan is audited in PLANS.md.
    ("text_cdc_chunks", 7, 0),
    ("split_time_embargo", 4, 1),
    // outlier census: ONE quartile aggregate broadcast back as a 1-row
    // BNLJ (scalar-subquery shape) + one fence-count scan (+harness).
    // er_blocking_recall is a collect-then-release harness (persisted
    // name frame, like assortativity) — plan audited in PLANS.md.
    ("profile_outlier_iqr", 4, 1),
    // gif meta is a pure narrow synth+parse map (1 = harness count)
    ("mm_gif_meta", 1, 0),
    // corr matrix is ONE moment aggregate (+ harness count); the
    // mutual-kNN clustering rides the Lloyd + components loops and is
    // excluded like emb_knn_graph / er_cluster_stats.
    ("profile_corr_matrix", 2, 0),
    // batch 7: basket_rules' BNLJ allowance is the 1-ROW basket-total
    // broadcast (scalar-subquery shape); the pair join and both item
    // joins share the distinct-basket build. skip_measured runs TWO
    // GlobalRank passes (range exchange + per-partition sorts + the
    // rank offsets collect each) + zone-map groupBys + the 1-row
    // bounds broadcast. emb_knn_recall rides the Lloyd chain (excluded).
    ("basket_rules", 8, 1),
    ("layout_skip_measured", 12, 1),
    // batch 8: the evolution row's write legs are narrow filters (the
    // only exchanges are the merged-read groupBy + harness count);
    // seasonal-naive re-keys the daily aggregate for the lag-7
    // self-join, then one verdict groupBy.
    ("ingest_schema_evolution", 3, 0),
    ("ts_seasonal_naive", 6, 0),
    // class balance: class-count agg chain (2) + the 1-ROW min-quota
    // broadcast (the BNLJ allowance) + one window shuffle (+harness).
    ("sample_class_balance", 5, 1),
    ("mm_image_histogram", 1, 0),
    // batch 9 (binary quantization): the BNLJ allowance is the
    // broadcast-QUERIES non-equi join every brute-scan ANN row shares
    // (tiny side broadcast by construction); topk's one shuffle is the
    // per-query top-k window. The rerank harness composes the Hamming
    // shortlist (1 BNLJ + 1 window), the broadcast candidate fetch +
    // query join (broadcast, no shuffle), the rerank window, the exact
    // cosine arm (1 BNLJ + 1 window), the truth/approx join, and the
    // 1-row summary agg. topk = the window + the harness count.
    ("ann_hamming_topk", 2, 1),
    ("ann_hamming_rerank", 7, 2),
    // batch 10 (series + concentration): cusum = daily agg + ONE key
    // window whose hash partitioning the argmin groupBy reuses
    // (+ harness count). lttb's BNLJ allowance is the 1-ROW bounds
    // broadcast (scalar-subquery shape) referenced by the interior AND
    // both endpoint union legs; its shuffles are the daily agg (reused
    // via exchange reuse where identical), bucket stats, and the
    // per-bucket argmin. gini rides GlobalRank's two-phase range
    // exchange (range + per-partition counts job) over per-customer
    // aggregates, then one 1-row moment agg.
    ("ts_cusum_changepoint", 3, 0),
    ("ts_lttb_downsample", 9, 3),
    ("agg_gini_revenue", 9, 0),
    // batch 11: phrase search = the postings explode (narrow, isin in
    // the scan) + per-term semi-joins keyed on (doc, pos) + the hit
    // groupBy (+ harness); seasonal decompose = daily agg + dow agg +
    // the 1-ROW totals broadcast (scalar-subquery BNLJ) (+ harness).
    // er_golden_record rides the ITERATIVE clustersFromPairs fixpoint
    // and is excluded like er_entities / er_cluster_stats.
    ("search_phrase", 6, 0),
    ("ts_seasonal_decompose", 4, 1),
    // modularity is ONE aggregate job over the tagged edge list (edge
    // build: lp distinct + ok join + pair distinct; labels broadcast;
    // community groupBy + 1-row reduce + harness count).
    ("graph_modularity", 8, 0),
    // cramers_v is ONE scan-aggregate (the contingency table is a
    // single wide row) + the harness count; lorenz rides GlobalRank's
    // two-phase NTILE (range exchange + counts job) + decile agg + the
    // 10-row cumulative window + harness.
    ("profile_cramers_v", 2, 0),
    ("agg_lorenz_deciles", 10, 0),
    // shot boundaries: encode→decode→histogram→consecutive-delta is ONE
    // narrow mapPartitions (all of a doc's frames live in one payload);
    // 1 = the harness's own count.
    ("mm_shot_boundaries", 1, 0),
    // centroid drift is ONE map-side-combinable wide aggregate
    // (2·dim conditional sums per label) + the harness count.
    ("emb_centroid_drift", 2, 0),
    // topk values: rebalance + (col,value) count agg + the TWO top-k
    // cover windows (salted local + final per-column) + harness; the
    // rebalance probe makes the captured plan count context-dependent
    // (same headroom note as profile_ndv).
    ("profile_topk_values", 6, 0),
    // autocorr: daily agg + the lag-shifted self-join (re-keys the
    // 2-row lag explode side) + per-lag moment agg + harness. KS: one
    // conditional-count agg + the distinct-value cumulative window +
    // the 1-group reduce + harness.
    ("ts_autocorr", 6, 0),
    ("profile_ks_drift", 5, 0),
    // benford is ONE scan-aggregate (digit ladder fused with the scan,
    // nine conditional sums in a single wide row) + harness.
    ("profile_benford", 2, 0),
    // k-anonymity: one keyed class-size groupBy + the 1-row census
    // reduce + harness.
    ("profile_k_anonymity", 3, 0),
    // dict estimate: (col, value) count agg + per-column reduce +
    // harness — the shuffle carries distinct values once.
    ("layout_dict_estimate", 3, 0),
    // l-diversity: (QI, sensitive) groupBy + per-class reduce (shares
    // the QI key prefix) + the 1-row census + harness.
    ("profile_l_diversity", 4, 0),
  )

  /** Tree walk that descends through AQE wrappers and query stages
    * (plain `collect` stops at QueryStageExec boundaries). */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case r: ReusedExchangeExec => flatten(r.child)
    case other => other.children.flatMap(flatten)
  })

  private def runCapturing(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        plans.add(qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      // listener events ride the async bus — drain before reading
      // (waitUntilEmpty is private[spark]; call it through reflection)
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        val wait = bus.getClass.getMethods
          .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 1).get
        wait.invoke(bus, java.lang.Long.valueOf(10000L))
      } catch { case _: Throwable => Thread.sleep(1000) }
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  private def literalOnly(p: SparkPlan): Boolean =
    flatten(p).filter(n => n.children.isEmpty && !n.isInstanceOf[AdaptiveSparkPlanExec] &&
        !n.isInstanceOf[QueryStageExec] && !n.isInstanceOf[ReusedExchangeExec])
      .forall(_.isInstanceOf[LocalTableScanExec])

  for ((name, maxShuffles, maxBnlj) <- Budgets)
    test(s"$name: no cartesian, ≤$maxShuffles shuffles, ≤$maxBnlj non-literal BNLJ") {
      val roots = runCapturing {
        graft.SparkEntry.queries(name)(spark, sfDir).count(); ()
      }
      assert(roots.nonEmpty, "listener captured no executions")
      val nodes = roots.flatMap(flatten)
      val cartesians = nodes.collect { case c: CartesianProductExec => c }
      assert(cartesians.isEmpty,
        s"CartesianProduct in $name:\n${cartesians.headOption.getOrElse("")}")
      val badBnlj = nodes.collect {
        case b: BroadcastNestedLoopJoinExec
            if !literalOnly(b.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
              case _ => b.right
            }) => b
      }
      assert(badBnlj.size <= maxBnlj,
        s"${badBnlj.size} non-literal BroadcastNestedLoopJoin in $name (pinned " +
          s"max $maxBnlj — the allowance is the DRL Cartesian the source " +
          s"query itself requests):\n${badBnlj.headOption.getOrElse("")}")
      val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      assert(shuffles <= maxShuffles,
        s"$name executed $shuffles shuffle exchanges (pinned max $maxShuffles) over " +
          s"${roots.size} plans — a new shuffle crept into the validation DAG")
    }
}
