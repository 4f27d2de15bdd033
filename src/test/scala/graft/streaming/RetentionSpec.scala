package graft.streaming

import java.nio.file.Paths
import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins for the band-index RETENTION protocol — the two claims the
  * `streaming_neardup_retire` oracle row cannot isolate on its own:
  *
  *  1. '''a retired band re-admits''': under the retention horizon, a
  *     planted re-sent duplicate whose bands went quiet is ADMITTED,
  *     where the grow-only index rejects the same document — the
  *     behavioral delta the horizon exists for.
  *  2. '''the physical rewrite matches the logical filter''':
  *     [[BucketedState.retain]] leaves on disk exactly the rows the
  *     lazy aliveness filter would keep — nothing expired survives,
  *     nothing alive is lost, emptied slots tombstone (not resurrect),
  *     and the rewrite is replay-idempotent.
  */
class RetentionSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def work(tag: String): String =
    tempDir(s"graft-retention-$tag").toString

  test("a retired band re-admits: planted re-sends pass the horizoned gate and would not pass the grow-only one") {
    val wd = work("readmit")
    val verdicts = StreamOracle.nearDupAdmissionRetained(spark, sf, wd)
      .persist()
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      val span = {
        val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
        r.getLong(1) - r.getLong(0) + 1
      }
      // re-sent duplicates live above the original id range
      val resent = verdicts.filter(col("doc_id") >= span)
      assert(resent.count() > 0, "staging produced no re-sent documents")
      // every re-send shares all bands with its original (identical
      // text ⇒ identical signature), so the GROW-ONLY index rejects it
      // unconditionally; under the horizon the claim has expired (the
      // re-send arrives 2 chunks later, horizon is 1) unless some
      // INTERVENING document re-claimed a band — so admissions must
      // exist, and every admission must be horizon-explained
      val admittedResent = resent.filter(col("admitted") === 1).count()
      assert(admittedResent > 0,
        "no re-sent duplicate re-admitted — the retention horizon did nothing")
    } finally { verdicts.unpersist(); () }
  }

  test("retention state survives a restart: restart == one-shot, and post-seam gating is driven by pre-seam recency stamps") {
    import graft.pipeline.Dedup
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val restarted = rows(StreamOracle.nearDupAdmissionRetainedRestart(spark, sf, work("rst")))
    val oneShot = rows(StreamOracle.nearDupAdmissionRetained(spark, sf, work("one")))
    assert(restarted == oneShot,
      s"restart leaked: missing=${(oneShot -- restarted).take(3)} extra=${(restarted -- oneShot).take(3)}")
    // non-triviality: a PURE cross-seam loser — a phase-2 (re-sent)
    // document with a band claimed in chunk 1 (alive at batch 2 only
    // via the RESTORED last_batch stamp) and NO same-chunk smaller-id
    // band-mate — must be rejected; with the index lost at the seam it
    // would have zero hits and admit
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val b0 = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val span = b0.getLong(1) - b0.getLong(0) + 1
    val doubled = docs.unionAll(docs.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + span).as("doc_id"), col("text")))
    val b2 = doubled.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo2, hi2) = (b2.getLong(0), b2.getLong(1))
    val width2 = StreamOracle.chunkWidth(lo2, hi2, 4)
    def chunkOf(c: org.apache.spark.sql.Column) =
      floor((c - lit(lo2)) / lit(width2)).cast("int")
    val bands = Dedup.bandRows(Dedup.bandSignatures(doubled, "doc_id", "text"), "doc_id")
      .withColumn("c", chunkOf(col("doc_id"))).persist()
    try {
      val c1 = bands.filter(col("c") === 1).select(col("band"), col("bh")).distinct()
      val inC2 = bands.filter(col("c") === 2)
      val withPreSeamClaim = inC2.join(c1, Seq("band", "bh"))
        .select(col("doc_id")).distinct()
      val sameChunkAmbiguous = inC2.as("a")
        .join(inC2.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("b.doc_id") < col("a.doc_id"))
        .select(col("a.doc_id").as("doc_id")).distinct()
      val pure = withPreSeamClaim.join(sameChunkAmbiguous, Seq("doc_id"), "left_anti")
        .collect().map(_.getLong(0)).toSet
      assert(pure.nonEmpty,
        "no pure cross-seam loser exists — the restart proved nothing here")
      val verdicts = restarted.map(r => r.head.asInstanceOf[Long] -> r(2).asInstanceOf[Int]).toMap
      val wronglyAdmitted = pure.filter(d => verdicts.getOrElse(d, 1) != 0)
      assert(wronglyAdmitted.isEmpty,
        s"docs gated only by pre-seam recency stamps were ADMITTED: ${wronglyAdmitted.take(5)}")
    } finally { bands.unpersist(); () }
  }

  test("retain() physically drops exactly the expired rows, idempotently, and empties tombstone") {
    val root = Paths.get(work("physical"), "idx")
    val st = new BucketedState(spark, root, buckets = 4)
    def entries(kvs: (String, String, Long)*) =
      kvs.toDF("band", "bh", "last_batch")
    // batch 0: four entries across buckets, stamped last_batch=0
    val b0 = entries(("0", "aa", 0L), ("1", "bb", 0L), ("2", "cc", 0L), ("3", "dd", 0L))
      .withColumn("__bucket", st.bucketOf(0L, col("band"), col("bh")))
    st.write(0L, b0, b0.select("__bucket").distinct().collect().map(_.getString(0)).toSet,
      splitKeyCols = Seq("band", "bh"))
    // batch 1: refresh ONE of them and add a new one
    val b1 = entries(("1", "bb", 1L), ("4", "ee", 1L))
      .withColumn("__bucket", st.bucketOf(1L, col("band"), col("bh")))
    val touched1 = b1.select("__bucket").distinct().collect().map(_.getString(0)).toSet
    val prior = st.before(1L, Some(touched1)).get
      .join(b1.select("band", "bh"), Seq("band", "bh"), "left_anti")
    st.write(1L, prior.unionByName(b1), touched1, splitKeyCols = Seq("band", "bh"))
    // physical sweep for a next-batch horizon of 1: keep last_batch >= 1
    st.retain(2L, col("last_batch") >= 1L, Seq("band", "bh"))
    def physical(): Set[(String, String, Long)] =
      st.current().map(_.select("band", "bh", "last_batch").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet)
        .getOrElse(Set.empty)
    val expectAlive = Set(("1", "bb", 1L), ("4", "ee", 1L))
    assert(physical() == expectAlive,
      s"physical index after retain != logically-alive set: ${physical()}")
    // REPLAY of the same retain batch rewrites identical content
    st.retain(2L, col("last_batch") >= 1L, Seq("band", "bh"))
    assert(physical() == expectAlive, "retain replay changed the index")
    // a later sweep that empties every slot must tombstone, not
    // resurrect older versions
    st.retain(3L, col("last_batch") >= 99L, Seq("band", "bh"))
    assert(st.current().isEmpty,
      "fully-expired index still returned rows — tombstones failed")
  }
}
