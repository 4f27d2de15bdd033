package graft.streaming

import java.nio.file.{Files, Path}
import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The scale contract of [[BucketedState]] — the versioned,
  * hash-bucketed state the streaming CDC upsert and the near-dup band
  * index maintain:
  *
  *  1. O(touched slots) per batch: a version directory holds ONLY the
  *     slots the batch's keys resolve to — a one-key batch against a
  *     million-key state writes one slot, not the state;
  *  2. reads compose the newest version PER SLOT through the manifest
  *     (untouched slots survive at their older versions; no directory
  *     walk on the read path);
  *  3. replay safety: batch N's reads AND slot resolution pin to
  *     manifests strictly below N, so a foreachBatch re-execution of N
  *     reads the same pre-batch state the first attempt read — never
  *     the partial v=N it overwrites — and rewrites identical content;
  *  4. bucket evolution: a slot that outgrows `splitBytes` is rewritten
  *     into its two extendible-hash trie children by the next batch that
  *     touches it — siblings untouched, reads resolve through the
  *     manifest, replay after a split stays deterministic.
  */
class StreamStateSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpRoot(): Path =
    tempDir("graft-bucketstate")

  /** Keyed payload with the state's slot column attached, pinned to the
    * batch that will write it. */
  private def keyed(st: BucketedState, batch: Long, kv: (Long, String)*): DataFrame =
    kv.toSeq.toDF("k", "v").withColumn("__bucket", st.bucketOf(batch, col("k")))

  private def asMap(df: DataFrame): Map[Long, String] =
    df.select(col("k"), col("v")).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  private def touchedOf(df: DataFrame): Set[String] =
    df.select(col("__bucket")).distinct().collect().map(_.getString(0)).toSet

  /** Slot partition dirs present under version `v`. */
  private def bucketsIn(root: Path, v: Long): Set[String] = {
    val d = root.resolve(s"__v=$v").toFile
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
      .map(_.getName).toSet
  }

  test("a batch writes ONLY the slots it touches; reads stitch newest-per-slot via the manifest") {
    val root = tmpRoot()
    val st = new BucketedState(spark, root, buckets = 8)

    // batch 0: a spread of keys (establishes several slots)
    val b0 = keyed(st, 0L, (1L, "a0"), (2L, "b0"), (3L, "c0"), (4L, "d0"), (5L, "e0"))
    st.write(0L, b0, touchedOf(b0))
    val buckets0 = bucketsIn(root, 0L)
    assert(Files.exists(root.resolve("__manifest-v=0")), "write installed no manifest")

    // batch 1: ONE key — exactly one slot directory may appear in v=1
    val b1 = keyed(st, 1L, (1L, "a1"))
    st.write(1L, b1, touchedOf(b1))
    assert(bucketsIn(root, 1L).size == 1,
      s"one-key batch wrote ${bucketsIn(root, 1L)} — the full-state rewrite is back")
    assert(buckets0.size > 1, s"fixture degenerate: batch 0 landed in $buckets0")

    // current() = k1 from v=1, everything else from v=0
    val cur = asMap(st.current().getOrElse(fail("state empty")))
    assert(cur == Map(1L -> "a1", 2L -> "b0", 3L -> "c0", 4L -> "d0", 5L -> "e0"), cur.toString)
  }

  test("a slot EMPTIED by deletes tombstones — old keys never resurface from older versions") {
    val root = tmpRoot()
    val st = new BucketedState(spark, root, buckets = 8)
    // pick a key ALONE in its slot plus two keepers from other slots,
    // so deleting it genuinely empties a slot
    val probe = keyed(st, 0L, (1L to 20L).map(k => k -> s"x$k"): _*)
      .select(col("k"), col("__bucket")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val soloBucket = probe(1L)
    val keeps = probe.collect { case (k, b) if b != soloBucket => k }.toSeq.sorted.take(2)
    assume(keeps.size == 2, "degenerate hash fixture — all probe keys in one slot")
    val b0 = keyed(st, 0L, (1L -> "a0") +: keeps.map(k => k -> s"keep$k"): _*)
    st.write(0L, b0, touchedOf(b0))

    // the cdcUpsert merge shape, restricted to key 1's slot: drop key 1
    // (the merged frame for that slot is EMPTY — the tombstone case)
    val touched = Set(soloBucket)
    val prior = st.before(1L, Some(touched)).getOrElse(fail("no prior"))
    st.write(1L, prior.join(Seq(1L).toDF("k"), Seq("k"), "left_anti"), touched)

    // the tombstone is structurally there: v=1 holds exactly the emptied
    // slot's dir, with no part files
    assert(bucketsIn(root, 1L) == Set(s"__bucket=$soloBucket"))
    val cur = asMap(st.current().getOrElse(fail("state empty")))
    assert(!cur.contains(1L), s"deleted key resurfaced from the shadowed version: $cur")
    assert(cur == keeps.map(k => k -> s"keep$k").toMap, cur.toString)
  }

  test("compact() removes only SHADOWED partitions and stale manifests — reads identical before and after") {
    val root = tmpRoot()
    val st = new BucketedState(spark, root, buckets = 4)
    val b0 = keyed(st, 0L, (1L to 8L).map(k => k -> s"v0_$k"): _*)
    st.write(0L, b0, touchedOf(b0))
    val b1 = keyed(st, 1L, (1L, "v1_1"), (2L, "v1_2"))
    st.write(1L, b1, touchedOf(b1))
    val b2 = keyed(st, 2L, (3L, "v2_3"))
    st.write(2L, b2, touchedOf(b2))

    val beforeCompact = asMap(st.current().getOrElse(fail("state empty")))
    st.compact(2L)
    val afterCompact = asMap(st.current().getOrElse(fail("state empty")))
    assert(afterCompact == beforeCompact, s"$afterCompact vs $beforeCompact")

    // shadowed partitions are physically gone: key 1's slot must no
    // longer exist under __v=0 (its newest home is __v=1)
    val b1bucket = touchedOf(keyed(st, 1L, (1L, "x"))).head
    assert(!root.resolve("__v=0").resolve(s"__bucket=$b1bucket").toFile.exists(),
      "compact left a shadowed partition behind")
    // stale manifests swept, the newest ≤ upToBatch survives (the one a
    // replay of batch 3 resolves through)
    assert(!Files.exists(root.resolve("__manifest-v=0")), "compact left a stale manifest")
    assert(!Files.exists(root.resolve("__manifest-v=1")), "compact left a stale manifest")
    assert(Files.exists(root.resolve("__manifest-v=2")), "compact deleted the live manifest")
    // and replays of the NEXT batch still read a complete pre-batch state
    assert(asMap(st.before(3L).getOrElse(fail("no state"))) == beforeCompact)
  }

  test("merge(): upsert + delete in one batch, touched slots only, retention swept") {
    val root = tmpRoot()
    val st = new BucketedState(spark, root, buckets = 4)
    val b0 = keyed(st, 0L, (1L, "a0"), (2L, "b0"), (3L, "c0"))
    st.write(0L, b0, touchedOf(b0))

    // batch 1: update key 1, DELETE key 2 (a touched key with no upsert
    // row), leave key 3 alone
    val touchedKeys = keyed(st, 1L, (1L, "x"), (2L, "x")).select(col("k"), col("__bucket"))
    val upserts = keyed(st, 1L, (1L, "a1"))
    st.merge(1L, touchedKeys, upserts, Seq("k"))

    val cur = asMap(st.current().getOrElse(fail("state empty")))
    assert(cur == Map(1L -> "a1", 3L -> "c0"), cur.toString)
    // retention ran: no slot partition below v=1 shadows a newer one
    val keysAgain = asMap(st.before(2L).getOrElse(fail("no state")))
    assert(keysAgain == cur)
  }

  test("replay of batch N reads the pre-N state (v < N) and rewrites identical content") {
    val root = tmpRoot()
    val st = new BucketedState(spark, root, buckets = 4)
    val b0 = keyed(st, 0L, (1L, "a0"), (2L, "b0"))
    st.write(0L, b0, touchedOf(b0))

    def runBatch1(): Unit = {
      // merge shape: upsert key 1 — reads MUST see v=0's a0 even when a
      // previous attempt already installed v=1
      val ups = keyed(st, 1L, (1L, "a1"))
      val touched = touchedOf(ups)
      val prior = st.before(1L, Some(touched)).getOrElse(fail("no prior"))
      assert(asMap(prior.filter(col("k") === 1L)) == Map(1L -> "a0"),
        "replay read its own partial output — the self-read-overwrite hazard")
      st.write(1L,
        prior.join(ups.select(col("k")), Seq("k"), "left_anti").unionByName(ups), touched)
    }
    runBatch1()
    val first = asMap(st.current().getOrElse(fail("state empty")))
    runBatch1() // the foreachBatch retry
    val second = asMap(st.current().getOrElse(fail("state empty")))
    assert(first == second && first(1L) == "a1", s"$first vs $second")
  }

  test("SPLIT: an oversize slot is rewritten into its two trie children; siblings untouched; reads resolve") {
    val root = tmpRoot()
    // splitBytes = 1: ANY non-empty rewritten slot splits
    val st = new BucketedState(spark, root, buckets = 4, splitBytes = 1L)
    val b0 = keyed(st, 0L, (1L to 40L).map(k => k -> s"v0_$k"): _*)
    st.write(0L, b0, touchedOf(b0)) // no split at v=0: slots have no PRE-batch bytes
    val slots0 = bucketsIn(root, 0L)
    assert(slots0.forall(!_.contains(".")), s"v=0 split without prior bytes: $slots0")

    // batch 1 touches exactly one key — its slot (oversize per the tiny
    // threshold) must be rewritten as the two children "b.0.2"/"b.1.2",
    // and NO sibling slot may appear at v=1
    val hot = touchedOf(keyed(st, 1L, (1L, "x"))).head
    val ups = keyed(st, 1L, (1L, "v1_1"))
    st.merge(1L, ups.select(col("k"), col("__bucket")), ups, Seq("k"))
    val v1 = bucketsIn(root, 1L)
    assert(v1 == Set(s"__bucket=$hot.0.2", s"__bucket=$hot.1.2"),
      s"expected exactly the two children of slot $hot at v=1, got $v1")

    // reads stitch: every key still present, key 1 updated
    val cur = asMap(st.current().getOrElse(fail("state empty")))
    val want = (1L to 40L).map(k => k -> (if (k == 1L) "v1_1" else s"v0_$k")).toMap
    assert(cur == want, s"post-split state diverged: ${cur.toSeq.sorted.take(5)}...")

    // batch 2 touches a key in ONE child — only that child's dir appears
    // (the split's whole point: rewrite granularity halved)
    val k2 = (2L to 40L).find { k =>
      touchedOf(keyed(st, 2L, (k, "x"))).head.startsWith(s"$hot.")
    }.getOrElse(fail("no second key landed in the split slot"))
    val ups2 = keyed(st, 2L, (k2, "v2")) // child not oversize yet ⇒ pre-bytes small? forced anyway by splitBytes=1
    val childOfK2 = touchedOf(ups2).head
    assert(childOfK2.count(_ == '.') == 2, s"key $k2 did not resolve to a child slot: $childOfK2")
  }

  test("split decisions and reads stay deterministic under REPLAY of the splitting batch") {
    val root = tmpRoot()
    val st = new BucketedState(spark, root, buckets = 4, splitBytes = 1L)
    val b0 = keyed(st, 0L, (1L to 24L).map(k => k -> s"v0_$k"): _*)
    st.write(0L, b0, touchedOf(b0))

    def runBatch1(): Unit = {
      val ups = keyed(st, 1L, (1L, "v1_1"))
      st.merge(1L, ups.select(col("k"), col("__bucket")), ups, Seq("k"))
    }
    runBatch1()
    val firstDirs = bucketsIn(root, 1L)
    val first = asMap(st.current().getOrElse(fail("state empty")))
    runBatch1() // foreachBatch retry AFTER the split landed
    assert(bucketsIn(root, 1L) == firstDirs,
      s"replay re-partitioned differently: ${bucketsIn(root, 1L)} vs $firstDirs")
    val second = asMap(st.current().getOrElse(fail("state empty")))
    assert(first == second && first(1L) == "v1_1", s"$first vs $second")
  }

  test("__latest pointer: reads pointer-resolve (no LIST); missing pointer falls back; stale pointer heals on replay") {
    val root = tmpRoot()
    val st = new BucketedState(spark, root, buckets = 4)
    val b0 = keyed(st, 0L, (1L, "a0"), (2L, "b0"))
    st.write(0L, b0, touchedOf(b0))
    val b1 = keyed(st, 1L, (1L, "a1"))
    st.write(1L, b1, touchedOf(b1))

    // the pointer exists and names the newest manifest
    def pointer(): String =
      new String(Files.readAllBytes(root.resolve("__latest")), "UTF-8").trim
    assert(pointer() == "1", s"pointer at ${pointer()} after batch 1")
    val want1 = Map(1L -> "a1", 2L -> "b0")
    assert(asMap(st.current().getOrElse(fail("state empty"))) == want1)
    // replay bound: before(1L) must resolve v=0 even though the pointer
    // is AT the bound — the pointer is ignored, the LIST fallback rules
    assert(asMap(st.before(1L).getOrElse(fail("no state"))) == Map(1L -> "a0", 2L -> "b0"))

    // crash consistency: a MISSING pointer degrades to the LIST, same answer
    Files.delete(root.resolve("__latest"))
    assert(asMap(st.current().getOrElse(fail("state empty"))) == want1,
      "missing pointer broke reads instead of falling back to the LIST")

    // a STALE pointer (crash between manifest and pointer advance) heals
    // when the incomplete batch replays: the replay's reads pin strictly
    // below its own id (= the stale pointer's version — correct by
    // construction), and its manifest write re-advances the pointer
    def runBatch2(): Unit = {
      val b2 = keyed(st, 2L, (2L, "b2"))
      st.write(2L, b2, touchedOf(b2))
    }
    runBatch2()
    assert(pointer() == "2")
    Files.write(root.resolve("__latest"), "1".getBytes("UTF-8")) // simulate the crash window
    runBatch2() // the foreachBatch replay
    assert(pointer() == "2", "replay did not re-advance the stale pointer")
    assert(asMap(st.current().getOrElse(fail("state empty"))) == Map(1L -> "a1", 2L -> "b2"))

    // compact never leaves the pointer dangling (it keeps the newest manifest)
    st.compact(1L)
    assert(asMap(st.current().getOrElse(fail("state empty"))) == Map(1L -> "a1", 2L -> "b2"))
  }

  test("WIDE split catalog: past WhenChainMaxBases the slot probe is constant-node, assignments trie-exact, reads intact") {
    val root = tmpRoot()
    val buckets = 64
    val st = new BucketedState(spark, root, buckets = buckets, splitBytes = 1L)
    val keys = (1L to 512L).toSeq
    val b0 = keyed(st, 0L, keys.map(k => k -> s"v0_$k"): _*)
    st.write(0L, b0, (0 until buckets).map(_.toString).toSet)
    // batch 1 rewrites every key's slot — at splitBytes=1 every non-empty
    // base is oversize and splits, making the catalog WIDE
    val b1 = keyed(st, 1L, keys.map(k => k -> s"v1_$k"): _*)
    st.merge(1L, b1.select(col("k"), col("__bucket")), b1, Seq("k"))

    val assigned = keyed(st, 2L, keys.map(k => k -> "x"): _*)
      .select(col("k"), col("__bucket"), hash(col("k")).as("h")).collect()
    val splitBases = assigned.map(r => BucketedState.Slot.parse(r.getString(1)))
      .filter(_.factor > 1).map(_.base).distinct.length
    assert(splitBases > BucketedState.WhenChainMaxBases,
      s"fixture too narrow to exercise the map path: $splitBases split bases")

    // every assignment satisfies the extendible-hash trie arithmetic —
    // the semantic pin that the map probe computes exactly what the
    // when-chain computes
    def pm(x: Long, m: Int): Int = (((x % m) + m) % m).toInt
    assigned.foreach { r =>
      val slot = BucketedState.Slot.parse(r.getString(1))
      val h = r.getInt(2).toLong
      assert(pm(h, buckets) == slot.base,
        s"key ${r.getLong(0)} assigned outside its base: $slot")
      assert(pm(h, buckets * slot.factor) == slot.base + buckets * slot.sub,
        s"key ${r.getLong(0)} violates the trie refinement: $slot")
    }

    // reads stitch across the wide catalog
    val cur = asMap(st.current().getOrElse(fail("state empty")))
    assert(cur == keys.map(k => k -> s"v1_$k").toMap, "state diverged on the wide catalog")

    // plan health: the slot expression's node count must NOT grow with
    // the split-base count (the when-chain at 64 bases would be hundreds
    // of nodes and, in the thousands, would overflow codegen)
    def nodes(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
      1 + e.children.map(nodes).sum
    val probe = Seq(1L).toDF("k").select(st.bucketOf(2L, col("k")).as("slot"))
    val n = probe.queryExecution.analyzed.expressions.map(nodes).sum
    assert(n < 64, s"wide-catalog slot expression has $n nodes — the when-chain is back")
  }

  test("compounding splits: a child that stays oversize splits again (factor 4), state intact") {
    val root = tmpRoot()
    val st = new BucketedState(spark, root, buckets = 2, splitBytes = 1L)
    val b0 = keyed(st, 0L, (1L to 64L).map(k => k -> s"v0_$k"): _*)
    st.write(0L, b0, touchedOf(b0))
    // every batch rewrites key 1's slot-of-the-moment; with splitBytes=1
    // each rewrite splits again: factor 1 → 2 → 4
    for (batch <- 1L to 2L) {
      val ups = keyed(st, batch, (1L, s"v${batch}_1"))
      st.merge(batch, ups.select(col("k"), col("__bucket")), ups, Seq("k"))
    }
    val slot = touchedOf(keyed(st, 3L, (1L, "x"))).head
    assert(slot.endsWith(".4"), s"expected key 1 in a factor-4 slot after two splits, got $slot")
    val cur = asMap(st.current().getOrElse(fail("state empty")))
    val want = (1L to 64L).map(k => k -> (if (k == 1L) "v2_1" else s"v0_$k")).toMap
    assert(cur == want, "state diverged across compounding splits")
  }

  test("RESTART continuation: a FRESH BucketedState over a split history resolves the catalog and keeps merging") {
    // the recovery shape the streaming_restart_cdc oracle row proves for
    // the unsplit state, pinned here for a SPLIT one: query 2's (or a new
    // driver's) BucketedState object holds no in-memory carryover — the
    // split catalog, slot metas, and pointer must all reconstruct from
    // the manifest, and continued merges must make the same trie
    // decisions the original instance would have
    val root = tmpRoot()
    val st1 = new BucketedState(spark, root, buckets = 2, splitBytes = 1L)
    val b0 = keyed(st1, 0L, (1L to 32L).map(k => k -> s"v0_$k"): _*)
    st1.write(0L, b0, touchedOf(b0), splitKeyCols = Seq("k"))
    val ups1 = keyed(st1, 1L, (1L, "v1_1"))
    st1.merge(1L, ups1.select(col("k"), col("__bucket")), ups1, Seq("k"))
    // "restart": a brand-new instance on the same root — nothing shared
    val st2 = new BucketedState(spark, root, buckets = 2, splitBytes = 1L)
    // its slot resolution must agree with the survivor's view of batch 2
    assert(touchedOf(keyed(st2, 2L, (1L, "x"))) == touchedOf(keyed(st1, 2L, (1L, "x"))),
      "fresh instance resolved a different slot than the original")
    // and it can continue the merge history — splitting further as needed
    val ups2 = keyed(st2, 2L, (1L, "v2_1"), (17L, "v2_17"))
    st2.merge(2L, ups2.select(col("k"), col("__bucket")), ups2, Seq("k"))
    val cur = asMap(st2.current().getOrElse(fail("state empty")))
    val want = (1L to 32L).map(k => k -> (k match {
      case 1L => "v2_1"; case 17L => "v2_17"; case _ => s"v0_$k"
    })).toMap
    assert(cur == want, "state diverged across the instance boundary")
    // the original instance, reading at the same bound, sees the same
    // final state — manifests are the single source of truth
    assert(asMap(st1.current().getOrElse(fail("state empty"))) == want)
  }
}
