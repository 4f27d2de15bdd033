package graft.pipeline

import java.nio.file.Paths
import graft.SparkTestBase
import graft.streaming.VersionedSnapshot
import org.apache.spark.sql.functions._

/** Pins for the persisted IVF index ([[Ann.ivfPersistServe]]) — the
  * claims the `ann_ivf_persist` oracle row (restored results ≡ the
  * DuckDB in-session derivation) cannot isolate:
  *
  *  1. the stored book ROUND-TRIPS — what the fresh session restores is
  *     bit-identical to what training produced;
  *  2. serving from the restored book equals serving from the
  *     in-memory book (no hidden dependence on training-session state);
  *  3. a SECOND publish supersedes the first — the restore follows the
  *     pointer to the newest committed version, and the sweep bounds
  *     disk to the retention window.
  */
class AnnPersistSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("stored centroid book round-trips bit-identically; restored serve == in-memory serve") {
    val wd = tempDir("graft-ivf-persist").toString
    val trained = Ann.ivfCentroids(emb)
    val served = Ann.ivfPersistServe(emb, wd)
    // 1. round-trip: the artifact on disk IS the trained book
    val restored = new VersionedSnapshot(spark, Paths.get(wd, "ivfbook"))
      .newestBelow(Long.MaxValue).get.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toList)).sortBy(_._1).toList
    assert(restored == trained.map { case (c, v) => (c, v.toList) }.toList,
      "restored book differs from the trained book")
    // 2. serve-equality: restored-book results == in-memory-book results
    val direct = Ann.ivfServe(emb, trained)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(served) == rows(direct),
      "serving from the persisted book diverged from the in-memory book")
  }

  test("PQ codebooks round-trip through the versioned store; restored serve == in-memory serve") {
    val wd = tempDir("graft-pq-persist").toString
    val books = Ann.pqCodebooks(emb)
    val served = Ann.pqPersistServe(emb, wd)
    val restored = new VersionedSnapshot(spark, Paths.get(wd, "pqbook"))
      .newestBelow(Long.MaxValue).get.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toList))
      .sortBy(t => (t._1, t._2)).toList
    val expected = (for {
      (bj, j) <- books.zipWithIndex
      (cid, v) <- bj
    } yield (j, cid, v.toList)).sortBy(t => (t._1, t._2)).toList
    assert(restored == expected, "restored PQ codebooks differ from the trained books")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(served) == rows(Ann.pqServe(emb, books)),
      "serving from persisted PQ codebooks diverged from the in-memory books")
  }

  test("a second publish supersedes the first and the sweep bounds disk") {
    val wd = tempDir("graft-ivf-repub").toString
    val store = new VersionedSnapshot(spark, Paths.get(wd, "ivfbook"))
    val bookA = Ann.ivfCentroids(emb, iters = 0) // the untrained seeds
    val bookB = Ann.ivfCentroids(emb)            // the trained book
    store.write(1L, bookA.toDF("cell", "centroid"))
    store.write(2L, bookB.toDF("cell", "centroid"))
    val got = store.newestBelow(Long.MaxValue).get.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toList)).sortBy(_._1).toList
    assert(got == bookB.map { case (c, v) => (c, v.toList) }.toList,
      "restore did not follow the pointer to the newest committed book")
    val versions = Option(Paths.get(wd, "ivfbook").toFile.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isDirectory && f.getName.startsWith("v="))
    assert(versions <= 2, s"version sweep leaked: $versions book versions on disk")
  }
}
