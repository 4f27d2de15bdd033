package graft.streaming

import java.nio.file.{Files, Path}
import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adversarial pins for the `__latest` pointer protocol — every failure
  * shape named in [[LatestPointer]]'s object-store contract, exercised
  * through BOTH owners ([[VersionedSnapshot]] and [[BucketedState]])
  * and over BOTH [[PointerStore]] bindings: the POSIX file binding and
  * the etag-conditional [[EtagPointerStore]] (the object-store shape).
  * The claim under test: readers treat the pointer as a HINT gated by
  * commit evidence, so a corrupted, dangling, regressed-to-swept, or
  * ahead-of-bound pointer always degrades to the LIST fallback and the
  * read still lands on the correct committed state — identically on
  * both bindings. The one shape the bindings DIFFER on is the point of
  * the seam: a rogue second ADVANCER regressing the pointer to a live
  * committed version succeeds on POSIX (the documented stale read) but
  * is REFUSED at the store by the conditional PUT — pinned here with a
  * deterministic stale-etag interleaving. */
class LatestPointerSpec extends SparkTestBase {
  import spark.implicits._

  /** One binding of the seam: the store the owners are built over,
    * plus that binding's rogue door (a second writer bypassing the
    * compliant advance protocol — a raw file write on POSIX, an
    * unconditional PUT on the etag store). */
  private final case class Binding(name: String, store: PointerStore,
      rogue: (Path, String) => Unit)

  private def bindings(): Seq[Binding] = {
    val etag = new EtagPointerStore
    Seq(
      Binding("posix", LatestPointer,
        (root, body) => { Files.write(root.resolve("__latest"), body.getBytes("UTF-8")): Unit }),
      Binding("etag", etag, (root, body) => etag.put(root, body)))
  }

  private def tmpRoot(tag: String): Path =
    tempDir(s"graft-ptr-$tag")

  private def asSet(df: DataFrame): Set[Long] =
    df.select(col("hv")).collect().map(_.getLong(0)).toSet

  /** Three committed snapshot folds: after them the sweep has deleted
    * v=0, kept v=1 (the replay anchor) and v=2 (newest), pointer = 2. */
  private def foldedSnapshot(root: Path, ptr: PointerStore): VersionedSnapshot = {
    val st = new VersionedSnapshot(spark, root, ptr)
    def fold(batch: Long, xs: Long*): Unit = {
      val b = xs.toDF("hv")
      st.write(batch, st.newestBelow(batch).map(_.unionByName(b)).getOrElse(b).distinct())
    }
    fold(0L, 1L, 2L)
    fold(1L, 3L)
    fold(2L, 4L)
    st
  }

  for (b <- bindings()) {

    test(s"[${b.name}] snapshot: corrupt pointer bytes degrade to the LIST fallback") {
      val root = tmpRoot(s"corrupt-${b.name}")
      val st = foldedSnapshot(root, b.store)
      // raw control bytes (NUL, 0x01) as unicode escapes — the shape a
      // torn write or bit rot leaves
      b.rogue(root, "not-a-version\u0000\u0001 ")
      assert(asSet(st.newestBelow(Long.MaxValue).get) == Set(1L, 2L, 3L, 4L))
    }

    test(s"[${b.name}] snapshot: dangling pointer (names a version that never existed) degrades to the LIST fallback") {
      val root = tmpRoot(s"dangle-${b.name}")
      val st = foldedSnapshot(root, b.store)
      b.rogue(root, "99")
      // 99 < MaxValue passes the bound, but committed(99) gates it out
      assert(asSet(st.newestBelow(Long.MaxValue).get) == Set(1L, 2L, 3L, 4L))
    }

    test(s"[${b.name}] snapshot: pointer REGRESSED to a swept version by a second writer — committed() gate + LIST fallback win") {
      val root = tmpRoot(s"regress-swept-${b.name}")
      val st = foldedSnapshot(root, b.store)
      b.rogue(root, "0") // v=0 was swept: the dir is gone, no _SUCCESS
      assert(asSet(st.newestBelow(Long.MaxValue).get) == Set(1L, 2L, 3L, 4L))
    }

    test(s"[${b.name}] snapshot: pointer at/above the read bound (replay shape) falls back to the bounded LIST") {
      val root = tmpRoot(s"ahead-${b.name}")
      val st = foldedSnapshot(root, b.store)
      // pointer is 2; a replay of batch 2 reads strictly below 2 and must
      // see exactly the pre-batch state v=1, via the LIST (pointer fails
      // the strict-below filter)
      assert(asSet(st.newestBelow(2L).get) == Set(1L, 2L, 3L))
    }

    test(s"[${b.name}] snapshot: UNCONDITIONAL overwrite to a LIVE committed version is the documented stale read") {
      val root = tmpRoot(s"regress-live-${b.name}")
      val st = foldedSnapshot(root, b.store)
      // the bypass door (raw file write / unconditional PUT — every
      // real store has one too): no gate can reject a well-formed
      // committed version without paying a LIST per read. What the
      // conditional binding closes is the ADVANCER race (next test),
      // not a writer that ignores the protocol entirely.
      b.rogue(root, "1") // v=1 is committed and kept as the replay anchor
      assert(asSet(st.newestBelow(Long.MaxValue).get) == Set(1L, 2L, 3L),
        "expected the documented stale read of the regressed-to-live pointer")
      // and the legitimate owner's next advance repairs it
      b.store.advance(root, 2L)
      assert(asSet(st.newestBelow(Long.MaxValue).get) == Set(1L, 2L, 3L, 4L))
    }

    test(s"[${b.name}] advance is monotone and race-safe: concurrent advancers cannot regress the pointer") {
      val root = tmpRoot(s"races-${b.name}")
      Files.createDirectories(root)
      // hammer advance from many threads in shuffled order; the pointer
      // must end at the max and never be torn at any read in between
      val ids = scala.util.Random.shuffle((0L to 40L).toList)
      val threads = ids.map { v =>
        new Thread(() => b.store.advance(root, v))
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(b.store.read(root).contains(40L))
      b.store.advance(root, 7L) // late low advance: must be a no-op
      assert(b.store.read(root).contains(40L))
    }
  }

  test("etag binding CLOSES the cross-process hole: a compliant advancer with a stale read cannot regress the pointer") {
    // The POSIX binding's documented hole: advancer A reads the pointer,
    // advancer B (another process — no shared JVM lock) advances past A,
    // then A installs its now-stale lower value. Reproduce that exact
    // interleaving against the conditional store, driving the primitives
    // by hand so the race is deterministic, and watch the store refuse:
    val store = new EtagPointerStore
    val root = tmpRoot("etag-interleave")
    store.advance(root, 5L)            // current = 5
    val aRead = store.get(root)        // A reads (etag, "5"): 5 < 7, so A will PUT 7
    store.advance(root, 9L)            // B (other process) advances to 9 first
    val refused = !store.putIf(root, "7", aRead.map(_._1))
    assert(refused, "store must 412 a conditional PUT carrying a stale etag")
    assert(store.read(root).contains(9L), "pointer must still be at B's value")
    // A's compliant retry re-reads 9 >= 7 and no-ops — monotone holds
    store.advance(root, 7L)
    assert(store.read(root).contains(9L))
  }

  test("etag binding: a corrupt body never wedges advance — the etag still conditions the repair") {
    val store = new EtagPointerStore
    val root = tmpRoot("etag-corrupt-repair")
    store.put(root, "\u0000garbage")
    assert(store.read(root).isEmpty)
    store.advance(root, 3L) // reads as absent-value, repairs conditionally
    assert(store.read(root).contains(3L))
  }

  /** Three merged bucketed batches: state is key→val over 4 buckets;
    * compaction has swept manifests 0 and 1, pointer = 2. */
  private def mergedBucketed(root: Path, ptr: PointerStore): BucketedState = {
    val st = new BucketedState(spark, root, buckets = 4, ptr = ptr)
    def mergeBatch(batch: Long, kvs: (Long, Long)*): Unit = {
      val up = kvs.toDF("k", "v").withColumn("__bucket", st.bucketOf(batch, col("k")))
      st.merge(batch, up.select(col("k"), col("__bucket")), up, Seq("k"))
    }
    mergeBatch(0L, 1L -> 10L, 2L -> 20L, 3L -> 30L)
    mergeBatch(1L, 2L -> 21L, 4L -> 40L)
    mergeBatch(2L, 5L -> 50L)
    st
  }

  private def kvSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("k"), col("v")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private val FinalKv = Set(1L -> 10L, 2L -> 21L, 3L -> 30L, 4L -> 40L, 5L -> 50L)

  for (b <- bindings()) {

    test(s"[${b.name}] bucketed state: corrupt pointer degrades to the manifest LIST fallback") {
      val root = tmpRoot(s"bs-corrupt-${b.name}")
      val st = mergedBucketed(root, b.store)
      b.rogue(root, "\u0000garbage")
      assert(kvSet(st.current().get) == FinalKv)
    }

    test(s"[${b.name}] bucketed state: dangling pointer (no such manifest) degrades to the manifest LIST fallback") {
      val root = tmpRoot(s"bs-dangle-${b.name}")
      val st = mergedBucketed(root, b.store)
      b.rogue(root, "99")
      assert(kvSet(st.current().get) == FinalKv)
    }

    test(s"[${b.name}] bucketed state: pointer regressed to a SWEPT manifest — readManifest gate + LIST fallback win") {
      val root = tmpRoot(s"bs-regress-${b.name}")
      val st = mergedBucketed(root, b.store)
      // compaction inside merge swept manifests 0 and 1
      assert(!Files.exists(root.resolve("__manifest-v=0")))
      b.rogue(root, "0")
      assert(kvSet(st.current().get) == FinalKv)
    }
  }
}
