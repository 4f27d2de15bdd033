package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dcl.Store
import graft.engine.{Engine, Persist}
import graft.streaming.Streams

/** End-to-end streaming run surface: drives the streaming operators
  * (sessionize, stream-stream interval join, streaming dedup) from a
  * real FILE source through `foreachBatch` into engine relations backed
  * by the durable store, restores the store from disk, and asserts batch
  * parity — the streaming counterpart of `graft.Verify`.
  *
  * {{{ runMain graft.StreamDemo [sfDir] [workDir] }}}
  *
  * Mechanics: the events table is staged as time-ordered parquet chunks
  * plus a far-future sentinel row; `maxFilesPerTrigger=1` makes each
  * chunk a micro-batch in event-time order (so watermarks advance
  * monotonically and no row is late), and the sentinel advances the
  * final watermark past every session's horizon so event-time timeouts
  * flush ALL open sessions — completion is deterministic, not
  * time-based. Each query's `foreachBatch` bulk-inserts its micro-batch
  * into a stored relation (the set-wise InsertFrom path); after the
  * streams drain, the store is persisted, re-opened cold, and every
  * relation is compared against the equivalent batch computation over
  * exactly the staged input. Exit 0 = all parities hold. The parity
  * assertions are also pinned as `StreamDemoSpec`.
  */
object StreamDemo {

  final case class Summary(sessions: Long, attributed: Long, distinctProps: Long)

  /** Session gap (ms) and the join attribution window. */
  val GapMs = 30L * 60 * 1000
  val AttributionGap = "1 hour"

  private def fail(e: String): Nothing = throw new IllegalStateException(e)

  /** Stage the events table as N time-range parquet chunks (+ sentinel)
    * in one directory, returning the directory. Chunks are written in
    * time order so the file source's modification-time ordering matches
    * event time. */
  private def stage(spark: SparkSession, sfDir: String, workDir: String, chunks: Int): String = {
    val in = Paths.get(workDir, "stream_in")
    Files.createDirectories(in)
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val (lo, hi) = {
      val r = ev.agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts")))).head()
      (r.getLong(0), r.getLong(1))
    }
    val width = math.max((hi - lo) / chunks + 1, 1L)
    def writeChunk(df: DataFrame, name: String): Unit = {
      val tmp = Paths.get(workDir, s"tmp_$name")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(fail(s"no parquet part written for $name"))
      Files.move(part, in.resolve(s"$name.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }
    for (i <- 0 until chunks) {
      val (a, b) = (lo + i * width, lo + (i + 1) * width)
      writeChunk(ev.filter(unix_millis(col("ts")) >= a && unix_millis(col("ts")) < b), f"chunk$i%02d")
    }
    // sentinel: one far-future row advancing the watermark past every
    // session horizon (user −1, type "flush" — excluded by every query)
    val sentinel = ev.limit(1).select(
      lit(-1L).as("event_id"),
      expr(s"timestamp_millis(${hi + 30L * 24 * 3600 * 1000})").as("ts"),
      lit(-1L).as("user_id"), lit("flush").as("event_type"),
      lit(0.0).as("value"), lit("___sentinel___").as("props"))
    writeChunk(sentinel, f"chunk$chunks%02d")
    in.toString
  }

  /** One file-source stream over the staged chunks. */
  private def source(spark: SparkSession, in: String): DataFrame =
    spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)

  def run(spark: SparkSession, sfDir: String, workDir: String): Either[String, Summary] = try {
    import spark.implicits._
    val in = stage(spark, sfDir, workDir, chunks = 4)
    val storeRoot = Paths.get(workDir, "store").toString

    // ---- engine state the streams write into (durable store) ----
    var db = Engine.createDatabase(spark, "streams")
    def rel(name: String, schema: List[(String, String)]): Unit =
      db = Engine.createRelation(spark, db, name, graft.types.RelSchema(schema))
        .fold(e => fail(s"CreateRelation $name: $e"), identity)
    rel("sessions", List("user_id" -> "integer", "start_ms" -> "integer",
      "n_events" -> "integer", "duration_ms" -> "integer", "total_value" -> "rational"))
    rel("attributed", List("l_event" -> "integer", "r_event" -> "integer",
      "user_id" -> "integer", "r_value" -> "rational"))
    rel("seen_props", List("content_hash" -> "string"))

    def ingest(name: String)(batch: DataFrame): Unit =
      if (!batch.isEmpty)
        db = Engine.insertFrom(spark, db, name, batch)
          .fold(e => fail(s"InsertFrom $name: $e"), identity)

    // ---- 1. sessionize → sessions (event-time timeouts flush via sentinel) ----
    val sq = Streams.sessionize(source(spark, in).as[Streams.Event], GapMs, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[Streams.Session], _: Long) =>
        ingest("sessions")(b.filter(_.user_id >= 0).toDF()
          .select(col("user_id"), col("start_ms"), col("n_events"),
            col("duration_ms"), col("total_value")))
      }.start()
    sq.processAllAvailable(); sq.stop()

    // ---- 2. interval join (clicks → purchases within the gap) → attributed ----
    val jq = Streams.intervalJoin(
        source(spark, in).filter(col("event_type") === "click"),
        source(spark, in).filter(col("event_type") === "purchase"),
        gap = AttributionGap, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        ingest("attributed")(b.select(col("l_event"), col("r_event"),
          col("user_id"), col("r_value")))
      }.start()
    jq.processAllAvailable(); jq.stop()

    // ---- 3. streaming dedup on props → seen_props (digests only) ----
    val dq = Streams.streamingDedup(source(spark, in), "ts", "props", watermark = "3650 days")
      .writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        ingest("seen_props")(b.select(col("content_hash")))
      }.start()
    dq.processAllAvailable(); dq.stop()

    // ---- persist, then restore COLD and verify against batch plans ----
    val store = new Store
    store.save(db)
    Persist.saveStore(spark, storeRoot, store, Some(db))
    val restored = Persist.restoreStore(spark, storeRoot, new Store)
      .fold(e => fail(s"restore: $e"), identity)
      .getOrElse(fail("restore returned no database"))

    val all = spark.read.parquet(in)
    def asSet(df: DataFrame): Set[Seq[Any]] =
      df.collect().toIndexedSeq.map(_.toSeq.toIndexedSeq).toSet

    // batch sessionize (gaps-and-islands with session start), users ≥ 0
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsm"))
    val batchSessions = all.filter(col("user_id") >= 0)
      .withColumn("tsm", unix_millis(col("ts")))
      .withColumn("bnd", when(col("tsm") - lag(col("tsm"), 1).over(w) > GapMs, 1L).otherwise(0L))
      .withColumn("sess", sum(col("bnd")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess"))
      .agg(min(col("tsm")).as("start_ms"), count(lit(1)).as("n_events"),
        (max(col("tsm")) - min(col("tsm"))).as("duration_ms"),
        round(sum(col("value")), 4).as("total_value"))
      .select(col("user_id"), col("start_ms"), col("n_events"), col("duration_ms"), col("total_value"))
    val gotSessions = restored.relations("sessions").df
      .select(col("user_id"), col("start_ms"), col("n_events"), col("duration_ms"),
        round(col("total_value"), 4).as("total_value"))
    // float totals: stream folds in event order, batch sums in partial
    // order — compare keys exactly and totals to 4 decimals via a keyed diff
    val keyed = asSet(gotSessions.drop("total_value"))
    val keyedWant = asSet(batchSessions.drop("total_value"))
    if (keyed != keyedWant)
      fail(s"session parity broken: stream-only=${(keyed -- keyedWant).take(3)} " +
        s"batch-only=${(keyedWant -- keyed).take(3)}")
    val totalDiff = gotSessions.as("g")
      .join(batchSessions.as("b"), Seq("user_id", "start_ms"))
      .filter(abs(col("g.total_value") - col("b.total_value")) > 1e-6).count()
    if (totalDiff != 0) fail(s"session totals diverge on $totalDiff sessions")

    // batch interval join
    val c = all.filter(col("event_type") === "click")
      .select(col("event_id").as("l_event"), col("user_id"), col("ts").as("lts"))
    val p = all.filter(col("event_type") === "purchase")
      .select(col("event_id").as("r_event"), col("user_id").as("ru"),
        col("ts").as("rts"), col("value").as("r_value"))
    val batchJoin = c.join(p,
        col("user_id") === col("ru") && col("rts") > col("lts") &&
          col("rts") <= col("lts") + expr(s"INTERVAL $AttributionGap"))
      .select(col("l_event"), col("r_event"), col("user_id"), col("r_value"))
    val gotJoin = restored.relations("attributed").df
    if (asSet(gotJoin) != asSet(batchJoin))
      fail(s"interval-join parity broken: got ${gotJoin.count()} rows, want ${batchJoin.count()}")

    // batch dedup: the distinct digest set
    val batchProps = all.select(sha2(col("props").cast("string"), 256).as("content_hash")).distinct()
    val gotProps = restored.relations("seen_props").df
    if (asSet(gotProps) != asSet(batchProps))
      fail(s"dedup parity broken: got ${gotProps.count()} digests, want ${batchProps.count()}")

    Right(Summary(gotSessions.count(), gotJoin.count(), gotProps.count()))
  } catch { case e: IllegalStateException => Left(e.getMessage) }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val workDir = args.lift(1).getOrElse(
      LocalSession.scratchDir("graft-streamdemo").toString)
    val spark = LocalSession.server("graft-stream-demo")
    val result = run(spark, sfDir, workDir)
    spark.stop()
    result match {
      case Right(s) =>
        println(s"stream demo OK: sessions=${s.sessions} attributed=${s.attributed} " +
          s"distinct_props=${s.distinctProps} (batch parity verified from the restored store)")
      case Left(e) => System.err.println(s"stream demo FAILED: $e"); sys.exit(1)
    }
  }
}
