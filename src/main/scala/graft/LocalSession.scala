package graft

import java.nio.file.{Files, LinkOption, Path}
import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built, for every main and the
  * shared test session.
  *
  * Every session gets the same policy: session time zone UTC (timestamp
  * arithmetic and the oracle answers depend on it), no Spark UI, a
  * scratch `spark.sql.warehouse.dir` (bucketed-layout queries must not
  * create `spark-warehouse/` in the working directory) that is deleted at
  * JVM exit, and log level WARN unless the caller asks for another.
  * Adaptive query execution stays at Spark's default, which is on. */
object LocalSession {

  /** Server, Maintenance and StreamDemo: master `SPARK_MASTER` (default
    * `local[*]`), shuffle partitions `SPARK_GRAFT_SHUFFLE_PARTITIONS`
    * (default 32). */
  def server(app: String): SparkSession =
    build(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32").toInt, Some(app))

  /** Bench, Verify and Profile: `SPARK_GRAFT_CPUS` (default 32) cores and
    * as many shuffle partitions; `SPARK_GRAFT_MASTER` overrides the
    * master for multi-JVM smoke runs (e.g. `local-cluster[2,8,4096]`). */
  def batch(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    build(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus)
  }

  def build(master: String, shufflePartitions: Int, app: Option[String] = None,
      logLevel: String = "WARN"): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", scratchDir("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
    app.foreach(b.appName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** A fresh directory under `java.io.tmpdir`, deleted at JVM exit. */
  def scratchDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    sys.addShutdownHook(deleteTree(dir.toFile))
    dir
  }

  /** Best-effort delete of a file or directory tree, not following
    * symlinks; a missing path is a no-op. */
  def deleteTree(f: java.io.File): Unit = {
    if (Files.isDirectory(f.toPath, LinkOption.NOFOLLOW_LINKS))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
