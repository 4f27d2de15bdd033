package graft.streaming

import java.sql.Timestamp
import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Streaming operators driven through the real micro-batch engine with a
  * MemoryStream source and memory sink. */
class StreamsSpec extends SparkTestBase {
  import Streams._
  import spark.implicits._

  private def ev(id: Long, sec: Long, user: Long, typ: String, v: Double) =
    Event(id, new Timestamp(sec * 1000L), user, typ, v)

  test("windowed counts with watermark over a micro-batch stream") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = windowedEventCounts(source.toDF(), windowDur = "1 minute")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("update").start()
    try {
      source.addData(
        ev(1, 10, 1, "click", 1.0), ev(2, 20, 1, "click", 2.0),
        ev(3, 70, 2, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.contains((0L, "click", 2L, 3.0)))
      assert(rows.contains((60L, "view", 1L, 5.0)))

      // a second batch updates the open window
      source.addData(ev(4, 30, 3, "click", 4.0))
      q.processAllAvailable()
      val updated = spark.table("win_counts").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(updated.contains((0L, "click", 3L, 7.0)))
    } finally q.stop()
  }

  test("event-time sessionization closes sessions by gap and by timeout") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = sessionize(source.toDS(), gapMs = 60 * 1000L, watermark = "1 minute")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: a 3-event burst, then (next batch) an event far beyond
      // the gap → the burst must be emitted as a completed session.
      // (t starts at 1: a t=0 row is ≤ the initial watermark and the
      // engine drops it as late.)
      source.addData(
        ev(1, 1, 1, "click", 1.0), ev(2, 10, 1, "click", 2.0), ev(3, 20, 1, "click", 3.0),
        ev(4, 5, 2, "view", 9.0))
      q.processAllAvailable()
      assert(spark.table("sessions").collect().isEmpty) // nothing closed yet

      // the t=1000s event closes user 1's burst by gap; the watermark it
      // advances (1000s − 1min) also times out user 2's idle session in
      // the trailing no-data micro-batch
      source.addData(ev(5, 1000, 1, "click", 4.0))
      q.processAllAvailable()
      val afterGap = spark.table("sessions").as[Session].collect().toSet
      assert(afterGap.contains(Session(1L, 1000L, 3L, 19000L, 6.0)))
      assert(afterGap.contains(Session(2L, 5000L, 1L, 0L, 9.0)))
      assert(afterGap.size == 2) // user 1's new session (t=1000) is still open
    } finally q.stop()
  }

  test("sessionize LATE events: in-gap arrival extends the session backward; far-late arrival is its own island") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    // wide watermark: every late event below is ADMISSIBLE — the test is
    // about what the state function does with admitted late data, not
    // about watermark dropping
    val q = sessionize(source.toDS(), gapMs = 10 * 1000L, watermark = "2 hours")
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    try {
      // batch 1 opens user 1's session at t=100s
      source.addData(ev(1, 100, 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2 arrives LATE: t=95s is within the 10s gap of the open
      // session's start (extends it backward to 95s), t=10s is 85s
      // before it (its own island — a completed session on the spot)
      source.addData(ev(2, 95, 1, "click", 2.0), ev(3, 10, 1, "click", 4.0))
      q.processAllAvailable()
      val mid = spark.table("late_sessions").as[Session].collect().toSet
      assert(mid == Set(Session(1L, 10000L, 1L, 0L, 4.0)),
        s"far-late island mishandled: $mid")
      // close the open session by gap: the emitted session must carry
      // the BACKWARD-extended start (95s) and both events
      source.addData(ev(4, 1000, 1, "click", 8.0))
      q.processAllAvailable()
      val done = spark.table("late_sessions").as[Session].collect().toSet
      assert(done.contains(Session(1L, 95000L, 2L, 5000L, 3.0)),
        s"backward extension lost: $done")
    } finally q.stop()
  }

  test("per-batch dimension refresh: batch k joins snapshot k (hand-traced)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val work = tempDir("graft-enrich-spec").toString
    // dimension snapshots keyed by batch id — the versioned layout the
    // operator's retry-idempotence contract depends on
    def dim(v: Long) = Seq((1L, s"v$v"), (2L, s"v$v")).toDF("key", "tag")
    val q = enrichPerBatch(source.toDF(), dim,
      (b, d) => b("user_id") === d("key"),
      (b, d) => Seq(b("event_id"), b("user_id"), d("tag")),
      s"$work/sink", s"$work/ckpt")
    try {
      // batch 0: event 10 (user 1) → must carry snapshot v0
      source.addData(ev(10, 1, 1, "click", 1.0))
      q.processAllAvailable()
      // batch 1: events 11 (user 1), 12 (user 2) → must carry v1 — the
      // SAME user re-resolves the refreshed dimension, which a static
      // join (plan-pinned at query start) can never do
      source.addData(ev(11, 2, 1, "click", 1.0), ev(12, 3, 2, "view", 2.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$work/sink")
      .select(col("event_id"), col("tag")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((10L, "v0"), (11L, "v1"), (12L, "v1")))
  }

  test("stream-stream interval join attributes right events within the gap window") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = Streams.intervalJoin(clicks.toDF(), purchases.toDF(),
        gap = "1 minute", watermark = "1 minute")
      .writeStream.format("memory").queryName("attributed")
      .outputMode("append").start()
    try {
      clicks.addData(ev(1, 100, 1, "click", 0.0), ev(2, 500, 2, "click", 0.0))
      purchases.addData(
        ev(10, 130, 1, "purchase", 9.99),  // 30 s after click 1: attributed
        ev(11, 260, 1, "purchase", 5.00),  // 160 s after: outside the gap
        ev(12, 510, 3, "purchase", 1.00))  // wrong user
      q.processAllAvailable()
      val rows = spark.table("attributed").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getDouble(5))).toSet
      assert(rows === Set((1L, 10L, 9.99)))

      // a later in-window purchase for click 2 still joins (state kept
      // within the watermark + gap horizon)
      purchases.addData(ev(13, 540, 2, "purchase", 2.50))
      q.processAllAvailable()
      val rows2 = spark.table("attributed").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getDouble(5))).toSet
      assert(rows2 === Set((1L, 10L, 9.99), (2L, 13L, 2.50)))
    } finally q.stop()
  }

  test("text-analysis operators run unchanged on a stream (pure maps are engine-agnostic)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    // the BATCH quality operator applied verbatim to a streaming frame:
    // stateless narrow maps need no watermark, no state, no rewrite
    val q = graft.pipeline.TextPipeline.quality(
        source.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("stream_quality")
      .outputMode("append").start()
    try {
      source.addData((1L, "the cat sat on the mat"), (2L, "zzz"))
      q.processAllAvailable()
      val rows = spark.table("stream_quality").collect()
        .map(r => r.getLong(0) -> r.getAs[Double]("stop_ratio")).toMap
      assert(rows(1L) > 0.0) // "the" twice + "on" → stopword hits
      assert(rows(2L) === 0.0)
      // batch parity: identical rows from the batch path on the same data
      import spark.implicits._
      val batch = graft.pipeline.TextPipeline.quality(
        Seq((1L, "the cat sat on the mat"), (2L, "zzz")).toDF("doc_id", "text"),
        "doc_id", "text").collect().map(r => r.getLong(0) -> r.getAs[Double]("stop_ratio")).toMap
      assert(rows === batch)
    } finally q.stop()
  }

  test("chunking and redaction run unchanged on a stream with batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val data = Seq(
      (1L, (1 to 40).map(i => s"w$i").mkString(" ")),
      (2L, "short doc with a mail to a@b.io inside"))
    // chunking then redaction over the chunk hashes' source text: both are
    // stateless narrow maps, so the BATCH operators apply verbatim
    val q = graft.pipeline.TextPipeline.chunkTokens(
        graft.pipeline.TextPipeline.redact(
          source.toDF().toDF("doc_id", "text"), "doc_id", "text")
          .select(col("doc_id"), col("redacted").as("text")),
        "doc_id", "text", window = 16, stride = 12)
      .writeStream.format("memory").queryName("stream_chunks")
      .outputMode("append").start()
    try {
      source.addData(data: _*)
      q.processAllAvailable()
      val rows = spark.table("stream_chunks").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(4))).toSet
      import spark.implicits._
      val batch = graft.pipeline.TextPipeline.chunkTokens(
        graft.pipeline.TextPipeline.redact(data.toDF("doc_id", "text"), "doc_id", "text")
          .select(col("doc_id"), col("redacted").as("text")),
        "doc_id", "text", window = 16, stride = 12).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(4))).toSet
      assert(rows === batch)
      assert(rows.count(_._1 == 1L) == 3) // 40 tokens / stride 12 → starts 1,13,25(,37)
    } finally q.stop()
  }

  test("streaming dedup emits first occurrences only, keyed on the digest") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, String)]
    val q = streamingDedup(
        source.toDF().toDF("ts", "text"), watermark = "1 minute")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      def t(sec: Long) = new Timestamp(sec * 1000L)
      source.addData((t(1), "alpha"), (t(2), "alpha"), (t(3), "beta"))
      q.processAllAvailable()
      // same-batch and cross-batch duplicates both drop
      source.addData((t(10), "alpha"), (t(11), "gamma"))
      q.processAllAvailable()
      val rows = spark.table("dedup_stream").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1)))
      assert(rows.map(_._2).sorted.toSeq == Seq("alpha", "beta", "gamma"))
      assert(rows.contains((1L, "alpha"))) // the FIRST alpha survives
    } finally q.stop()
  }

  test("streaming dedup EVICTS past the watermark horizon: a re-sent duplicate re-admits") {
    // the half of the contract the batch oracle structurally can't see
    // (streaming_dedup runs with a stream-spanning watermark where
    // nothing evicts): with a TIGHT watermark, the digest's state is
    // reclaimed once the watermark passes it, and a later re-send of the
    // same content is admitted again — bounded state, by design
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, String)]
    val q = streamingDedup(
        source.toDF().toDF("ts", "text"), watermark = "10 seconds")
      .writeStream.format("memory").queryName("dedup_evict")
      .outputMode("append").start()
    try {
      def t(sec: Long) = new Timestamp(sec * 1000L)
      source.addData((t(1), "alpha"))
      q.processAllAvailable()
      // watermark advances far past alpha's ts + 10s horizon → eviction
      source.addData((t(1000), "beta"))
      q.processAllAvailable()
      source.addData((t(2000), "alpha")) // same digest, state long gone
      q.processAllAvailable()
      val alphas = spark.table("dedup_evict").collect()
        .filter(_.getString(1) == "alpha").map(_.getTimestamp(0).getTime / 1000).sorted
      assert(alphas.toSeq == Seq(1L, 2000L),
        s"expected the re-sent duplicate to re-admit after eviction, got $alphas")
    } finally q.stop()
  }

  test("per-key quota admits at most N events per user across batches") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = Streams.perKeyQuota(source.toDS(), quota = 2)
      .writeStream.format("memory").queryName("quota_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 sends 3 (only first 2 by event time pass), user 2 sends 1
      source.addData(
        ev(3, 30, 1, "c", 1.0), ev(1, 10, 1, "c", 1.0), ev(2, 20, 1, "c", 1.0),
        ev(10, 15, 2, "c", 1.0))
      q.processAllAvailable()
      // batch 2: user 1 is over quota (all dropped); user 2 admits 1 more then drops
      source.addData(ev(4, 40, 1, "c", 1.0), ev(11, 25, 2, "c", 1.0), ev(12, 35, 2, "c", 1.0))
      q.processAllAvailable()
      val ids = spark.table("quota_out").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 2L, 10L, 11L))
    } finally q.stop()
  }

  test("per-key quota: a Long-scale quota admits everything (no toInt wrap to negative)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = Streams.perKeyQuota(source.toDS(), quota = Long.MaxValue)
      .writeStream.format("memory").queryName("quota_big")
      .outputMode("append").start()
    try {
      source.addData(ev(1, 10, 1, "c", 1.0), ev(2, 20, 1, "c", 1.0), ev(3, 30, 1, "c", 1.0))
      q.processAllAvailable()
      assert(spark.table("quota_big").count() === 3L)
    } finally q.stop()
  }

  test("windowTopK: bounded Misra-Gries state flushes on window close with the MG guarantee") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    // 1-minute windows, capacity 2 candidates, tight watermark
    val q = Streams.windowTopK(source.toDS(), windowMs = 60000L, capacity = 2,
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("topk_out")
      .outputMode("append").start()
    try {
      // window [0,60): a=5, b=3, c=1, d=1 over 10 events, 4 distinct >
      // capacity. Events start at second 1: an event AT the initial
      // watermark (ts=0, delay 0) is filtered as late before the state
      // function ever sees it.
      val w1 = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c", "d")
      source.addData(w1.zipWithIndex.map { case (t, i) => ev(i.toLong, i.toLong + 1, 1, t, 0.0) }: _*)
      q.processAllAvailable()
      assert(spark.table("topk_out").count() === 0L, "open windows emit nothing")
      // an event past the window advances the watermark and flushes it
      source.addData(ev(100, 200, 1, "z", 0.0))
      q.processAllAvailable()
      val rows = spark.table("topk_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      info("rows: " + rows.mkString(", "))
      val items = rows.map(_._2).toSet
      // MG guarantee: any item with freq > n/(cap+1) = 10/3 survives => 'a' must
      assert(items.contains("a"))
      assert(rows.forall(_._1 == 0L) && rows.forall(_._5 == 10L))
      assert(rows.length <= 2, "state (and output) bounded at capacity")
      // counts are an interval containing the truth: min <= true <= max
      val a = rows.find(_._2 == "a").get
      assert(a._3 <= 5L && 5L <= a._4)
    } finally q.stop()
  }

  test("windowTopK at ADVERSARIAL cardinality: 10^4 distinct items through capacity 64 — state bounded, bounds hold") {
    // the shipped oracle row (capacity 4 over 5 event types) keeps the
    // decrement path hot but its state trivial; this is the sketch at
    // sketch-scale: the candidate map sees 10,003 distinct items and may
    // never exceed 64 entries, every Misra-Gries theorem holding at the
    // window level. 3 planted heavy items (400/300/200) ride on 9,100
    // singletons: n = 10,000, error slack n/(cap+1) = 153, so all three
    // are TRUE-heavy (freq > 153) and MUST be present; every emitted
    // count must bracket its truth.
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val capacity = 64
    val q = Streams.windowTopK(source.toDS(), windowMs = 86400000L, capacity = capacity,
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("topk_adv")
      .outputMode("append").start()
    try {
      val truth: Seq[String] =
        Seq.fill(400)("heavy_a") ++ Seq.fill(300)("heavy_b") ++ Seq.fill(200)("heavy_c") ++
          (0 until 9100).map(i => f"z$i%05d")
      // deterministic interleave: shuffle by a fixed permutation so the
      // heavies are spread through the stream, not front-loaded (the
      // decrement path must actually threaten them)
      val interleaved = truth.zipWithIndex
        .sortBy { case (_, i) => (i * 2654435761L) % 10000 }.map(_._1)
      val events = interleaved.zipWithIndex.map { case (t, i) => ev(i.toLong, i.toLong + 1, 1, t, 0.0) }
      // several micro-batches: MG folds incrementally across state updates
      events.grouped(2500).foreach { g => source.addData(g: _*); q.processAllAvailable() }
      source.addData(ev(99999, 200000, 1, "__flush__", 0.0)) // next window: flush
      q.processAllAvailable()
      val rows = spark.table("topk_adv").collect()
        .filter(_.getLong(0) == 0L)
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val n = 10000L
      assert(rows.nonEmpty && rows.forall(_._4 == n), "lost events: n_processed != n")
      assert(rows.length <= capacity,
        s"state leaked past capacity: ${rows.length} items emitted > $capacity")
      val trueCounts = truth.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      // presence guarantee for every TRUE-heavy item (freq > n/(cap+1))
      val slack = n / (capacity + 1)
      for ((item, c) <- trueCounts if c > slack)
        assert(rows.exists(_._1 == item), s"true-heavy $item (count $c) missing from the sketch")
      // interval guarantee for EVERY emitted item
      for ((item, mn, mx, _) <- rows) {
        val c = trueCounts.getOrElse(item, 0L)
        assert(mn <= c && c <= mx, s"$item: true $c outside [$mn, $mx]")
      }
    } finally q.stop()
  }

  test("custom sessionizer matches the built-in session_window, boundary included") {
    // PARITY: the flatMapGroupsWithState sessionizer and Spark's own
    // session_window aggregation carve the SAME sessions — including at
    // an inter-event gap of exactly the threshold, where BOTH merge
    // (ours by the strict-> split rule, session_window by its
    // half-open [t, t+gap) window overlap; pinned below).
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 60 * 1000L
    val data = Seq( // user 1: two sessions; user 2: one long session
      ev(1, 1, 1, "c", 1.0), ev(2, 30, 1, "c", 2.0), ev(3, 45, 1, "c", 3.0),
      ev(4, 200, 1, "c", 4.0), ev(5, 230, 1, "c", 5.0),
      ev(6, 10, 2, "v", 7.0), ev(7, 65, 2, "v", 8.0), ev(8, 120, 2, "v", 9.0))
    val source = MemoryStream[Event]
    val q = sessionize(source.toDS(), gapMs, watermark = "1 minute")
      .writeStream.format("memory").queryName("parity_sessions")
      .outputMode("append").start()
    val streamed =
      try {
        source.addData(data: _*)
        q.processAllAvailable()
        // a far-future dummy event advances the watermark past every
        // open session's timeout, flushing them all
        source.addData(ev(99, 100000, 99, "x", 0.0))
        q.processAllAvailable()
        spark.table("parity_sessions").as[Session].collect()
          .filter(_.user_id != 99L).toSet
      } finally q.stop()
    val builtin = data.toDS().toDF()
      .groupBy(org.apache.spark.sql.functions.session_window(col("ts"), "60 seconds"),
        col("user_id"))
      .agg(org.apache.spark.sql.functions.min(col("ts")).as("first"),
        org.apache.spark.sql.functions.max(col("ts")).as("last"),
        org.apache.spark.sql.functions.count(col("event_id")).as("n"),
        org.apache.spark.sql.functions.sum(col("value")).as("total"))
      .collect().map { r =>
        val first = r.getTimestamp(2).getTime
        val last = r.getTimestamp(3).getTime
        Session(r.getLong(1), first, r.getLong(4), last - first, r.getDouble(5))
      }.toSet
    assert(streamed == builtin)
    // the boundary case agrees too: an exactly-gap-spaced pair is ONE
    // session on both sides
    // (t starts at 1: a t=0 row is ≤ the initial watermark and the
    // streaming side would drop it as late)
    val edge = Seq(ev(1, 1, 1, "c", 1.0), ev(2, 61, 1, "c", 1.0))
    val edgeBuiltin = edge.toDS().toDF()
      .groupBy(org.apache.spark.sql.functions.session_window(col("ts"), "60 seconds"),
        col("user_id"))
      .count().collect()
    assert(edgeBuiltin.length == 1) // builtin merges at exactly the gap
    val edgeSrc = MemoryStream[Event]
    val q2 = sessionize(edgeSrc.toDS(), gapMs, watermark = "1 minute")
      .writeStream.format("memory").queryName("parity_edge")
      .outputMode("append").start()
    try {
      edgeSrc.addData(edge: _*)
      q2.processAllAvailable()
      edgeSrc.addData(ev(99, 100000, 99, "x", 0.0))
      q2.processAllAvailable()
      val ours = spark.table("parity_edge").as[Session].collect()
        .filter(_.user_id == 1L)
      assert(ours.length == 1 && ours.head.n_events == 2L) // ours keeps
    } finally q2.stop()
  }
}
