package graft

import org.apache.spark.sql.SparkSession

/** Storage-maintenance entry point for a persisted store root:
  *
  * {{{
  * runMain graft.Maintenance fsck  /path/to/root   # deep integrity scan
  * runMain graft.Maintenance gc    /path/to/root   # collect orphans
  * runMain graft.Maintenance prune /path/to/root   # retire history + gc
  * }}}
  *
  * Exit code 0 = healthy/done; 1 = findings or usage error (findings are
  * printed one per line).
  *
  * gc and prune are OFFLINE operations: stop any server/session writing
  * to the root first — prune commits a new store record from its own
  * read of the latest one, so a concurrent commit between that read and
  * prune's record is LOST (no grace window can protect the store
  * pointer). The object grace window
  * ([[graft.engine.Persist.DefaultGcGraceMs]], 15 min) is
  * defense-in-depth for the narrower objects-before-manifest race, not
  * a license to collect online. Pass an explicit grace in ms as the
  * third argument (`0` = collect everything immediately on a quiesced
  * store). fsck is read-only and safe anytime. */
object Maintenance {
  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Maintenance <fsck|gc|prune> <storage-root> [graceMs]"
    if (args.length < 2 || args.length > 3) { System.err.println(usage); sys.exit(1) }
    val cmd = args(0)
    val root = args(1)
    val graceMs = if (args.length == 3) args(2).toLong
      else graft.engine.Persist.DefaultGcGraceMs
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(s"graft-maintenance-$cmd")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val result: Either[String, Seq[String]] = cmd match {
      case "fsck"  => graft.engine.Persist.fsck(spark, root)
      case "gc"    => graft.engine.Persist.gc(spark, root, graceMs).map(_.map(o => s"deleted $o"))
      case "prune" => graft.engine.Persist.prune(spark, root, graceMs = graceMs).map(_.map(o => s"deleted $o"))
      case other   => Left(s"unknown command: $other\n$usage")
    }
    spark.stop()
    result match {
      case Left(err) => System.err.println(err); sys.exit(1)
      case Right(lines) =>
        lines.foreach(println)
        if (cmd == "fsck" && lines.nonEmpty) sys.exit(1)
        println(s"$cmd: ${if (lines.isEmpty) "clean" else s"${lines.length} item(s)"}")
    }
  }
}
