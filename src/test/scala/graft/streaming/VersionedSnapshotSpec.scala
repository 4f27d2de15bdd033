package graft.streaming

import java.nio.file.{Files, Path}
import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The retention contract of [[VersionedSnapshot]] — the whole-snapshot
  * fold state behind the streamed whole-value sketches
  * (`streaming_kmv_distinct`, `streaming_cms_heavy`; the quantile
  * SAMPLE is a keyed grow-only table and shards through
  * [[BucketedState]] instead):
  *
  *  1. bounded versions: after every write, at most TWO version dirs
  *     exist (pre-batch + current) — superseded versions are observably
  *     DELETED, never accreted (a long-lived ingest stream must not keep
  *     one version per batch forever);
  *  2. pointer reads: the newest version is found via the `__latest`
  *     pointer (one GET), with the directory LIST only as the fallback
  *     for a missing pointer or a replay reading below its own id;
  *  3. replay after sweep: a foreachBatch re-execution of batch N reads
  *     exactly the pre-N state its first attempt read — the sweep keeps
  *     precisely that version — and rewrites identical content.
  */
class VersionedSnapshotSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpRoot(): Path =
    tempDir("graft-versionedsnap")

  private def versionDirs(root: Path): Set[String] =
    Option(root.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName).toSet

  private def asSet(df: DataFrame): Set[Long] =
    df.select(col("hv")).collect().map(_.getLong(0)).toSet

  private def frame(xs: Long*): DataFrame = xs.toDF("hv")

  /** The sketch-fold shape: state(N) = state(<N) ∪ batch(N), deduped —
    * the KMV/quantile/cms protocol with the estimator stripped. */
  private def foldBatch(st: VersionedSnapshot, batch: Long, xs: Long*): Unit = {
    val b = frame(xs: _*)
    st.write(batch, st.newestBelow(batch).map(_.unionByName(b)).getOrElse(b).distinct())
  }

  test("superseded versions are swept: at most two version dirs ever exist; pointer names the newest") {
    val root = tmpRoot()
    val st = new VersionedSnapshot(spark, root)
    foldBatch(st, 0L, 1L, 2L)
    assert(versionDirs(root) == Set("v=0"))
    foldBatch(st, 1L, 3L)
    assert(versionDirs(root) == Set("v=0", "v=1"))
    foldBatch(st, 2L, 4L)
    // v=0 is now superseded twice over — it must be GONE, not accreted
    assert(versionDirs(root) == Set("v=1", "v=2"),
      s"superseded version survived the sweep: ${versionDirs(root)}")
    assert(new String(Files.readAllBytes(root.resolve("__latest")), "UTF-8").trim == "2")
    assert(asSet(st.newestBelow(Long.MaxValue).getOrElse(fail("state empty")))
      == Set(1L, 2L, 3L, 4L))
  }

  test("replay after sweep: batch N re-reads the kept pre-N version and converges to identical state") {
    val root = tmpRoot()
    val st = new VersionedSnapshot(spark, root)
    foldBatch(st, 0L, 1L)
    foldBatch(st, 1L, 2L)
    foldBatch(st, 2L, 3L) // sweeps v=0; keeps v=1 (what a replay of 2 needs)
    assert(versionDirs(root) == Set("v=1", "v=2"))
    val first = asSet(st.newestBelow(Long.MaxValue).getOrElse(fail("state empty")))
    // the replay: newestBelow(2) must see exactly {1,2} (v=1), not the
    // partial v=2 the first attempt installed, and the rewrite must land
    // on the same content
    assert(asSet(st.newestBelow(2L).getOrElse(fail("no pre-batch state"))) == Set(1L, 2L),
      "replay read its own partial output — the self-read-overwrite hazard")
    foldBatch(st, 2L, 3L)
    val second = asSet(st.newestBelow(Long.MaxValue).getOrElse(fail("state empty")))
    assert(first == second && first == Set(1L, 2L, 3L), s"$first vs $second")
  }

  test("a DANGLING pointer (torn version dir, no _SUCCESS) degrades to the newest COMMITTED version") {
    val root = tmpRoot()
    val st = new VersionedSnapshot(spark, root)
    foldBatch(st, 0L, 1L)
    foldBatch(st, 1L, 2L)
    // simulate the crash window: pointer advanced to 2, but v=2's write
    // tore (dir exists, no _SUCCESS job-commit marker)
    Files.write(root.resolve("__latest"), "2".getBytes("UTF-8"))
    Files.createDirectories(root.resolve("v=2"))
    assert(asSet(st.newestBelow(Long.MaxValue).getOrElse(fail("state empty"))) == Set(1L, 2L),
      "dangling pointer was trusted — reads must degrade to the newest committed version")
    assert(asSet(st.newestBelow(2L).getOrElse(fail("no pre-batch state"))) == Set(1L, 2L))
    // the replay of batch 2 heals: the overwrite commits v=2 for real and
    // the sweep clears the superseded v=0
    foldBatch(st, 2L, 3L)
    assert(asSet(st.newestBelow(Long.MaxValue).getOrElse(fail("state empty"))) == Set(1L, 2L, 3L))
    assert(versionDirs(root) == Set("v=1", "v=2"))
  }

  test("a missing pointer falls back to the LIST; the next write restores it") {
    val root = tmpRoot()
    val st = new VersionedSnapshot(spark, root)
    foldBatch(st, 0L, 1L)
    foldBatch(st, 1L, 2L)
    Files.delete(root.resolve("__latest"))
    assert(asSet(st.newestBelow(Long.MaxValue).getOrElse(fail("state empty"))) == Set(1L, 2L),
      "missing pointer broke reads instead of falling back to the LIST")
    foldBatch(st, 2L, 3L)
    assert(new String(Files.readAllBytes(root.resolve("__latest")), "UTF-8").trim == "2")
  }
}
