package graft.streaming

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.LocalSession

/** Whole-snapshot VERSIONED parquet state for foreachBatch folds whose
  * entire state is one small mergeable value — a KMV k-minima set, a
  * count-min counter grid, a Bernoulli-gate sample — rather than a keyed
  * row table (keyed tables use [[BucketedState]], which rewrites only
  * touched hash slots; here the fold law touches the whole value every
  * batch, so the state IS the rewrite unit).
  *
  * Layout: `root/v=<batch>/part-*.parquet` plus a `root/__latest`
  * pointer file ([[LatestPointer]] — the same commit discipline as
  * [[BucketedState]]'s manifest pointer). A version COUNTS only once its
  * `_SUCCESS` job-commit marker exists: a torn directory (crash
  * mid-write, or mid-overwrite on a replay) is invisible to reads AND to
  * the pointer path — a dangling pointer degrades to the directory-LIST
  * fallback over committed versions instead of reading a partial
  * snapshot.
  *
  * Protocol per batch N: read [[newestBelow]](N) — pinned STRICTLY below
  * N, so a foreachBatch replay of N reads exactly the pre-batch state
  * its first attempt read, never the partial v=N it is about to
  * overwrite — fold the batch in, then [[write]](N, folded), which
  * installs v=N (overwrite mode — replay-idempotent), advances the
  * pointer, and SWEEPS every version strictly below the newest COMMITTED
  * version < N (that one must survive: it is what a replay of N resolves
  * through). Disk state is therefore bounded at TWO versions (pre-batch
  * + current) for the lifetime of the stream, and the common read is one
  * pointer GET + one parquet read — no directory LIST (the LIST survives
  * only as the fallback for a missing/stale/dangling pointer or a replay
  * reading below its own id). A long-lived ingest stream neither
  * accretes one version per batch forever nor pays a LIST per batch —
  * the object-store posture the streamed sketches require at 100 TB.
  */
final class VersionedSnapshot(spark: SparkSession, root: Path,
    ptr: PointerStore = LatestPointer) {

  private def versionPath(v: Long): Path = root.resolve(s"v=$v")

  /** The write's commit point: Spark's job-commit marker. A version dir
    * without it is torn (crashed write) and must read as nonexistent. */
  private def committed(v: Long): Boolean =
    Files.exists(versionPath(v).resolve("_SUCCESS"))

  /** The LIST fallback — and the sweep's census. */
  private def versions(): Seq[Long] =
    Option(root.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .flatMap(f => Option(f.getName).filter(_.startsWith("v="))
        .filter(_ => f.isDirectory)
        .flatMap(_.drop("v=".length).toLongOption))
      .toSeq.sorted

  private def newestVersionBelow(batch: Long): Option[Long] =
    ptr.read(root).filter(v => v < batch && committed(v))
      .orElse(versions().filter(v => v < batch && committed(v)).lastOption)

  /** The state visible STRICTLY before `batch` (replay-deterministic);
    * None before the first committed write. `newestBelow(Long.MaxValue)`
    * is the final-state read. */
  def newestBelow(batch: Long): Option[DataFrame] =
    newestVersionBelow(batch)
      .map(v => spark.read.parquet(versionPath(v).toString))

  /** Install version `batch`, advance the pointer, sweep superseded
    * versions. Overwrite mode makes a replayed write idempotent; the
    * sweep keeps exactly the newest COMMITTED version strictly below
    * `batch` (a replay of `batch` reads it) plus v=`batch` itself —
    * torn older dirs are swept too. */
  def write(batch: Long, df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(versionPath(batch).toString)
    ptr.advance(root, batch)
    // one LIST per write (amortized janitor cost, never on the read path)
    val below = versions().filter(_ < batch)
    val keep = below.filter(committed).lastOption
    below.filterNot(keep.contains)
      .foreach(v => LocalSession.deleteTree(versionPath(v).toFile))
  }
}
