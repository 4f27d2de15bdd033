package graft.operators

import java.nio.file.Files
import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The SPARK_GRAFT_CHECKPOINT_DIR switch ([[Checkpoints]]): flipping the
  * iterative operators from `localCheckpoint` to RELIABLE `checkpoint`
  * must change the checkpoint MODE — files actually land under the
  * given directory — and nothing else: BFS levels, component labels,
  * the k-truss peel, and the BPE trainer's merge table return identical rows in both modes. This is
  * the spec half of VERDICT r11 item 3; the other half is the
  * local-cluster oracle run with the env var set (PLANS.md). */
class ReliableCheckpointSpec extends SparkTestBase {
  import spark.implicits._

  // two triangles bridged by a path, plus an isolate — components, BFS
  // depth, and truss peel all non-trivial
  private lazy val edges = Seq(
    (1L, 2L), (2L, 3L), (1L, 3L),      // triangle A
    (3L, 4L), (4L, 5L),                // bridge path
    (5L, 6L), (6L, 7L), (5L, 7L),      // triangle B
    (10L, 11L),                        // separate component
  ).toDF("a", "b")
  private lazy val nodes = edges.select(col("a").as("n"))
    .unionAll(edges.select(col("b").as("n"))).distinct()

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  // the BPE trainer's per-round cut honors the same switch
  private lazy val docs = Seq(
    (1L, "the cat sat on the mat"), (2L, "the cat ate the rat")
  ).toDF("doc_id", "text")

  private def runAll(): (Set[Seq[Any]], Set[Seq[Any]], Set[Seq[Any]], Set[Seq[Any]]) = (
    rows(Components.labels(nodes, edges, "n", "a", "b")),
    rows(Bfs.levels(Seq(1L).toDF("s"), edges, "s", "a", "b", maxDepth = 4)),
    rows(Truss.peel(edges, "a", "b", k = 3, rounds = 2)),
    rows(graft.pipeline.TextPipeline.bpeTrain(docs, "doc_id", "text")),
  )

  test("reliable mode writes checkpoint files under the dir and changes NO results") {
    val local = runAll()
    assert(!Checkpoints.reliable, "graft.checkpoint.dir leaked from another test")

    val dir = tempDir("graft-reliable-ckpt")
    sys.props("graft.checkpoint.dir") = dir.toString
    try {
      assert(Checkpoints.reliable)
      val reliable = runAll()
      assert(reliable == local,
        "the checkpoint switch changed operator results — it must only change durability")
      // the mode really flipped: rdd-N checkpoint dirs landed under the dir
      def hasRddDir(f: java.io.File): Boolean =
        (f.isDirectory && f.getName.startsWith("rdd-")) ||
          (f.isDirectory && Option(f.listFiles()).exists(_.exists(hasRddDir)))
      assert(hasRddDir(dir.toFile),
        s"no reliable checkpoint data under $dir — cut() fell back to localCheckpoint")
    } finally {
      sys.props.remove("graft.checkpoint.dir")
      ()
    }
  }

  test("re-pointing the dir re-targets the context even when leaf names collide") {
    // two distinct parents sharing the leaf name "ckpt": a substring
    // guard on the leaf would treat dirA's context setting as already
    // covering dirB and keep writing to the stale location
    val base = tempDir("graft-ckpt-guard")
    val dirA = Files.createDirectories(base.resolve("a/ckpt"))
    val dirB = Files.createDirectories(base.resolve("b/ckpt"))
    def rddDirsUnder(d: java.nio.file.Path): Int = {
      def count(f: java.io.File): Int =
        if (f.isDirectory && f.getName.startsWith("rdd-")) 1
        else Option(f.listFiles()).map(_.map(count).sum).getOrElse(0)
      count(d.toFile)
    }
    try {
      sys.props("graft.checkpoint.dir") = dirA.toString
      Checkpoints.cut(Seq(1L).toDF("x")).count()
      assert(rddDirsUnder(dirA) > 0, s"no checkpoint landed under $dirA")

      sys.props("graft.checkpoint.dir") = dirB.toString
      Checkpoints.cut(Seq(2L).toDF("x")).count()
      assert(rddDirsUnder(dirB) > 0,
        s"re-pointed dir ignored — checkpoints still landing under the stale $dirA")

      // and the guard IS idempotent for a same-dir call: the UUID
      // segment count under dirB must not grow on a second cut()
      def uuidDirs(d: java.nio.file.Path): Int =
        Option(d.toFile.listFiles()).map(_.count(_.isDirectory)).getOrElse(0)
      val before = uuidDirs(dirB)
      Checkpoints.cut(Seq(3L).toDF("x")).count()
      assert(uuidDirs(dirB) == before,
        "same-dir cut() minted a fresh UUID directory — the guard stopped recognizing its own setting")
    } finally {
      sys.props.remove("graft.checkpoint.dir")
      ()
    }
  }
}
