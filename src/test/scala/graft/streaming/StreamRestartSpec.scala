package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exactly-once across a REAL query restart — the production recovery
  * path (stop → NEW StreamingQuery on the same checkpoint → drain) that
  * no single-lifetime oracle row exercises. Each test drives the SAME
  * run body the corresponding `streaming_restart*` oracle row uses
  * through [[StreamOracle]]'s two-phase restart harness at sf0.001 and
  * compares the final answer against an independently-derived batch
  * truth computed here in Spark (the oracle rows repeat the comparison
  * against DuckDB at sf0.01):
  *
  *  - sessionize: the engine's OWN state store and watermark must
  *    restore (open sessions straddling the stop must come back as one
  *    session);
  *  - kmv: [[VersionedSnapshot]]'s `__latest` pointer + strict-below
  *    pin must resolve query 1's final committed version for query 2's
  *    first fold — with the sweep having bounded disk to two versions;
  *  - cdc: [[BucketedState]]'s manifest pin must hand query 2's first
  *    merge the exact state query 1 left.
  */
class StreamRestartSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def work(tag: String): String =
    tempDir(s"graft-restart-$tag").toString

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("sessionize across a restart == one-shot batch gaps-and-islands") {
    val wd = work("sess")
    val got = StreamOracle.sessionizedRestart(spark, sf, wd)
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), (unix_micros(col("ts").cast("timestamp")) / 1000L)
        .cast("long").as("t"))
    ev.createOrReplaceTempView("__restart_ev")
    val gap = StreamOracle.SessionGapMs
    val expected = spark.sql(
      s"""WITH s AS (SELECT user_id, t,
         |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > $gap
         |             THEN 1 ELSE 0 END AS brk
         |      FROM __restart_ev),
         |g AS (SELECT user_id, t,
         |        sum(brk) OVER (PARTITION BY user_id ORDER BY t
         |                       ROWS UNBOUNDED PRECEDING) AS sid
         |      FROM s)
         |SELECT user_id, min(t) AS start_ms, count(*) AS n_events,
         |       max(t) - min(t) AS duration_ms
         |FROM g GROUP BY user_id, sid""".stripMargin)
    val g = rows(got)
    val e = rows(expected)
    assert(g == e,
      s"restart leaked: missing=${(e -- g).take(3)} extra=${(g -- e).take(3)}")
    // the restart must be NON-TRIVIAL: query 2 must have emitted
    // sessions built ENTIRELY from phase-1 events — it never re-reads
    // the phase-1 chunk files (the checkpoint's file log skips them),
    // so such an emission can only come from the RESTORED state store.
    // Such sessions must exist by construction: a session ending inside
    // the last gap+delay of phase 1 cannot have flushed before the stop
    // (timeout emission lands a batch after the watermark advance, and
    // phase 1's last batch IS the advance). Phase 1 = 2 chunk files at
    // maxFilesPerTrigger=1 = batch ids 0-1, so b >= 2 is query 2; an
    // event-time end before the 2/4 chunk split means phase-1 events.
    val bounds = spark.read.parquet(s"$sf/events.parquet")
      .agg(min(unix_millis(col("ts").cast("timestamp"))),
        max(unix_millis(col("ts").cast("timestamp")))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    // phase boundary from stage()'s OWN chunk math (single-sourced —
    // a staging change cannot silently desynchronize this assertion)
    val splitMs = StreamOracle.chunkSplitMs(lo, hi, chunks = 4, split = 2)
    val fromRestoredState = spark.read.parquet(s"$wd/sink")
      .filter(col("b") >= 2 && col("user_id") >= 0 &&
        col("start_ms") + col("duration_ms") < splitMs)
      .count()
    assert(fromRestoredState > 0,
      "query 2 emitted no session built from phase-1 events — state restoration unproven")
  }

  test("kmv fold across a restart == one-shot batch sketch, disk bounded at two versions") {
    val w = work("kmv")
    val got = rows(StreamOracle.kmvStreamedRestart(spark, sf, w))
    val expected = rows(graft.pipeline.Sketches.kmvDistinct(
      spark.read.parquet(s"$sf/events.parquet"), "event_id"))
    assert(got == expected, s"got $got expected $expected")
    // the sweep discipline must hold ACROSS the restart too: at most
    // two committed versions on disk at the end
    val versions = Option(new java.io.File(s"$w/kmv").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isDirectory && f.getName.startsWith("v="))
    assert(versions <= 2, s"sweep leaked across restart: $versions versions on disk")
  }

  test("near-dup band index across a restart == single-lifetime run; cross-seam rejections observed") {
    import graft.pipeline.Dedup
    val restarted = rows(StreamOracle.nearDupAdmissionRestart(spark, sf, work("nd1")))
    val oneShot = rows(StreamOracle.nearDupAdmission(spark, sf, work("nd2")))
    assert(restarted == oneShot,
      s"restart leaked: missing=${(oneShot -- restarted).take(3)} extra=${(restarted -- oneShot).take(3)}")
    // non-triviality: at least one PHASE-2 document must be rejected by
    // a band claimed in PHASE 1 — only possible if the index survived
    // the seam. Phase 1 = the first 2 of 4 doc_id-range chunks.
    val docs = spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"), col("text"))
    val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val splitId = lo + 2 * ((hi - lo) / 4 + 1)
    val bands = Dedup.bandRows(Dedup.bandSignatures(docs, "doc_id", "text"), "doc_id")
    val p1 = bands.filter(col("doc_id") < splitId).select(col("band"), col("bh")).distinct()
    val crossSeamLosers = bands.filter(col("doc_id") >= splitId)
      .join(p1, Seq("band", "bh")).select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(crossSeamLosers.nonEmpty,
      "no phase-2 document shares a band with phase 1 — the restart test proved nothing here")
    val verdicts = restarted.map(r => r.head.asInstanceOf[Long] -> r(2).asInstanceOf[Int]).toMap
    val wronglyAdmitted = crossSeamLosers.filter(d => verdicts.getOrElse(d, 1) != 0)
    assert(wronglyAdmitted.isEmpty,
      s"documents with pre-restart band claims were ADMITTED after the seam: ${wronglyAdmitted.take(5)}")
  }

  test("FORCED boundary-batch replay across the seam: sessionize survives a crash-before-commit") {
    // the ENGINE-state variant of the crash: the state store must
    // rewind the replayed batch to its pre-batch version (Spark pins
    // store version = batchId), and the batch-keyed OVERWRITE sink
    // partition must absorb the double emission — append would
    // double-write the replayed batch's sessions
    val got = rows(StreamOracle.sessionizedRestart(spark, sf, work("sessre"),
      forceBoundaryReplay = true))
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), (unix_micros(col("ts").cast("timestamp")) / 1000L)
        .cast("long").as("t"))
    ev.createOrReplaceTempView("__restart_ev2")
    val gap = StreamOracle.SessionGapMs
    val expected = rows(spark.sql(
      s"""WITH s AS (SELECT user_id, t,
         |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > $gap
         |             THEN 1 ELSE 0 END AS brk
         |      FROM __restart_ev2),
         |g AS (SELECT user_id, t,
         |        sum(brk) OVER (PARTITION BY user_id ORDER BY t
         |                       ROWS UNBOUNDED PRECEDING) AS sid
         |      FROM s)
         |SELECT user_id, min(t) AS start_ms, count(*) AS n_events,
         |       max(t) - min(t) AS duration_ms
         |FROM g GROUP BY user_id, sid""".stripMargin))
    assert(got == expected,
      s"replayed boundary batch diverged: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("FORCED boundary-batch replay across the seam: kmv fold survives a crash-before-commit") {
    // the crash the strict-below pin exists for: query 1's LAST batch
    // executed (v=N on disk, pointer advanced to N) but its commit-log
    // entry is deleted before query 2 starts — the engine re-executes
    // batch N with the same data. The replay's newestBelow(N) must
    // resolve the pre-N version (pointer N fails the strict-below
    // filter; the sweep kept exactly N−1), re-fold identical content,
    // and the final estimate must STILL equal the one-shot sketch.
    val got = rows(StreamOracle.kmvStreamedRestart(spark, sf, work("kmvre"),
      forceBoundaryReplay = true))
    val expected = rows(graft.pipeline.Sketches.kmvDistinct(
      spark.read.parquet(s"$sf/events.parquet"), "event_id"))
    assert(got == expected, s"replayed boundary batch diverged: got $got expected $expected")
  }

  test("FORCED boundary-batch replay across the seam: cdc merge survives a crash-before-commit") {
    // same crash shape against BucketedState: the replay of batch N
    // must resolve slot assignment and prior state through the newest
    // manifest STRICTLY below N (the one the first attempt read), and
    // rewrite identical content — last-writer-wins must hold as if the
    // crash never happened
    val got = rows(StreamOracle.cdcUpsertRestart(spark, sf, work("cdcre"),
      forceBoundaryReplay = true))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val expected = rows(spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .withColumn("op", when(col("event_id") % 10 === 7, lit("D")).otherwise(lit("U")))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .filter(col("op") === "U")
      .select(col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"), col("value").as("last_value")))
    assert(got == expected,
      s"replayed boundary batch diverged: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("cdc upsert across a restart == one-shot last-writer-wins") {
    val got = StreamOracle.cdcUpsertRestart(spark, sf, work("cdc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val expected = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .withColumn("op", when(col("event_id") % 10 === 7, lit("D")).otherwise(lit("U")))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .filter(col("op") === "U")
      .select(col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"), col("value").as("last_value"))
    val g = rows(got)
    val e = rows(expected)
    assert(g == e,
      s"restart leaked: missing=${(e -- g).take(3)} extra=${(g -- e).take(3)}")
  }
}
