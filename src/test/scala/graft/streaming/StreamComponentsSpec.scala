package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Incremental connected components over streaming edge batches: the
  * hand-traced cross-batch merge (FIXTURES §4). Orders arrive one per
  * micro-batch (ok-range chunking, width 1): batch 0 creates component
  * {1,2}, batch 1 creates {3,4}, batch 2's edge (2,3) must MERGE the two
  * existing components through the label forest — the case that
  * distinguishes incremental maintenance from per-batch recompute — and
  * batch 3's single-part order contributes the isolated vertex 9. */
class StreamComponentsSpec extends SparkTestBase {
  import spark.implicits._

  test("cross-batch component merge lands on the batch answer (hand-traced)") {
    val work = tempDir("graft-streamcc-spec").toString
    val sfDir = s"$work/sf"
    Seq(
      (1L, 50L, 1L), (1L, 50L, 2L),   // batch 0: edge 1-2
      (2L, 50L, 3L), (2L, 50L, 4L),   // batch 1: edge 3-4
      (3L, 50L, 2L), (3L, 50L, 3L),   // batch 2: edge 2-3 merges both
      (4L, 50L, 9L),                  // batch 3: isolated vertex
      (5L, 10L, 7L))                  // filtered out (quantity ≤ 45)
      .toDF("l_orderkey", "l_quantity", "l_partkey")
      .write.parquet(s"$sfDir/lineitem.parquet")
    val got = StreamOracle.incrementalComponents(spark, sfDir, s"$work/cc")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (9L, 9L)))
  }

  test("INSERT-ONLY contract: state never un-merges; retraction recovery is the batch recompute") {
    import java.nio.file.Paths
    val work = tempDir("graft-streamcc-retract").toString
    val verts = new BucketedState(spark, Paths.get(work, "verts"), StreamOracle.StateBuckets)
    val forest = new BucketedState(spark, Paths.get(work, "forest"), StreamOracle.StateBuckets)
    // batch 0 links parts {1,2}; batch 1's order (2,3) merges in 3
    StreamOracle.ccBatch(verts, forest, 0L, Seq((1L, 1L), (1L, 2L)).toDF("ok", "p"))
    StreamOracle.ccBatch(verts, forest, 1L, Seq((2L, 2L), (2L, 3L)).toDF("ok", "p"))

    def labels(): Map[Long, Long] = {
      // tiny-state root resolution (the production path's semantics,
      // collectible here: the forest is 2 rows)
      val parent = forest.current()
        .map(_.select(col("child"), col("parent")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap)
        .getOrElse(Map.empty[Long, Long])
      def root(v: Long): Long = parent.get(v).map(root).getOrElse(v)
      verts.current().get.select(col("p")).collect()
        .map(r => r.getLong(0) -> root(r.getLong(0))).toMap
    }
    assert(labels() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), "merge did not land")

    // "retract" order 2 (the bridge to 3): the protocol has NO input
    // that expresses it — re-sending the surviving edge set through
    // ccBatch only re-ASSERTS edges, and the state keeps the merge in
    // force. That staleness is the documented contract, pinned here.
    StreamOracle.ccBatch(verts, forest, 2L, Seq((1L, 1L), (1L, 2L)).toDF("ok", "p"))
    assert(labels() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      "insert-only state unexpectedly un-merged — the contract changed")

    // the documented recovery: one-shot batch components over the
    // post-retraction edge set splits {3} back out
    val edges = Seq((1L, 2L)).toDF("s1", "s2")
    val nodes = Seq(1L, 2L, 3L).toDF("n")
    val recomputed = graft.operators.Components.labels(nodes, edges, "n", "s1", "s2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(recomputed == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }
}
