package graft.engine

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import graft.SparkTestBase
import graft.server.{EngineSession, QueryResult}

/** The local file system under the `noclobber` scheme, with HDFS's rename
  * contract: a rename onto an existing path fails (returns false) instead
  * of replacing it, as `DistributedFileSystem.rename` does. Every rename
  * is recorded with whether its target existed. */
class NoClobberFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("noclobber:///")
  override def getScheme: String = "noclobber"
  override def rename(src: Path, dst: Path): Boolean = {
    val clobbers = exists(dst)
    NoClobberFileSystem.renames.add(NoClobberFileSystem.Rename(src.toString, dst.toString, clobbers))
    !clobbers && super.rename(src, dst)
  }
}

object NoClobberFileSystem {
  final case class Rename(src: String, dst: String, targetExisted: Boolean)
  val renames = new ConcurrentLinkedQueue[Rename]()
}

/** A write-through store on a file system with HDFS rename semantics:
  * commits, restarts, prune and gc work, and no rename ever targets an
  * existing path. */
class NoClobberRenameSpec extends SparkTestBase {

  private def exec(s: EngineSession, stmt: String): Unit =
    s.execute(stmt).fold(e => fail(s"$stmt -> $e"), _ => ())

  private def rows(s: EngineSession, q: String): Seq[Long] =
    s.execute(s"(drl $q)") match {
      case Right(QueryResult(df)) => df.collect().toSeq.map(_.getLong(0)).sorted
      case other => fail(s"$q -> $other")
    }

  test("a write-through store commits, restarts, prunes and collects without renaming onto a path") {
    spark.sparkContext.hadoopConfiguration.set("fs.noclobber.impl", classOf[NoClobberFileSystem].getName)
    val local = Files.createTempDirectory("graft-noclobber").toString
    val root = s"noclobber://$local"
    def renames = NoClobberFileSystem.renames.asScala.filter(_.dst.contains(local)).toSeq

    val s1 = new EngineSession(spark, persistDir = Some(root))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(CreateRelation (name t) (schema ((k integer) (s string))))")
    for (k <- 1 to 3)
      exec(s1, s"(InsertTuple (relation t) (attributes ((k (Int $k)) (s (Str v$k)))))")
    exec(s1, "(CreateBranch (name main))")
    exec(s1, "(Checkout main)")
    exec(s1, "(DeleteTuple (relation t) (attributes ((k (Int 2)) (s (Str v2)))))")
    assert(renames.nonEmpty)

    val s2 = new EngineSession(spark, persistDir = Some(root))
    assert(s2.db.hash === s1.db.hash)
    assert(s2.store.head === Some("main"))
    exec(s2, "(InsertTuple (relation t) (attributes ((k (Int 4)) (s (Str v4)))))")

    val deleted = Persist.prune(spark, root, graceMs = 0L).fold(e => fail(e), identity)
    assert(deleted.nonEmpty)
    assert(Persist.gc(spark, root, graceMs = 0L) === Right(Seq.empty))

    val s3 = new EngineSession(spark, persistDir = Some(root))
    assert(s3.db.hash === s2.db.hash)
    assert(rows(s3, "(Project (k) (Base t))") === Seq(1L, 3L, 4L))
    assert(renames.filter(_.targetExisted) === Seq.empty)
    assert(renames.exists(_.dst.contains("/store/")) && renames.exists(_.dst.contains("/snapshots/")))
  }
}
