package graft.streaming

import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.QueryHarness._

/** The `streaming_*` rows of the driver contract: micro-batch
  * operators, restarts and incremental state. Each row's build sits
  * beside the DuckDB SQL that checks it; the longer SQL lives in
  * [[StreamOracle]]. */
private[graft] object StreamingQueries {

  val specs: Seq[QuerySpec] = Seq(
    // STREAMING, oracle-checked: the watermarked daily window aggregation
    // driven through the REAL micro-batch machinery (file source in
    // event-time order, maxFilesPerTrigger 1, append mode, foreachBatch
    // parquet sink) — DuckDB can't see micro-batches, but it CAN check
    // what they leave behind: the union of per-batch finalized-window
    // emissions must equal the one-shot batch aggregate
    QuerySpec("streaming_window", ((s, dir) =>
      graft.streaming.StreamOracle.windowedDaily(s, dir, scratch(dir, "streamwin"))),
      // the streaming sink holds only FINALIZED windows — equal to the batch
      // day-grain aggregate (epoch-aligned, UTC) once the sentinel closed
      // every real window
      """SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS window_start_us,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    // CUSTOM STREAMING STATE, oracle-checked: per-user event-time
    // sessionization (flatMapGroupsWithState with gap splits + event-time
    // timeouts) through the same real multi-batch source — the union of
    // gap-closed and timeout-flushed sessions must equal DuckDB's batch
    // gaps-and-islands derivation
    QuerySpec("streaming_sessionize", ((s, dir) =>
      graft.streaming.StreamOracle.sessionized(s, dir, scratch(dir, "streamsess"))),
      graft.streaming.StreamOracle.sessionizedOracle(
        graft.streaming.StreamOracle.SessionGapMs)),
    // EXACTLY-ONCE ACROSS A REAL QUERY RESTART, oracle-checked: query 1
    // sessionizes two chunks and STOPS with open sessions parked in the
    // state store; a brand-new query on the same checkpoint ingests the
    // rest. Sessions straddling the restart boundary must come back as
    // ONE session (state-store + watermark recovery, continued batch
    // ids) — the union of both lifetimes' emissions ≡ the same one-shot
    // gaps-and-islands oracle as streaming_sessionize
    QuerySpec("streaming_restart", ((s, dir) =>
      graft.streaming.StreamOracle.sessionizedRestart(s, dir, scratch(dir, "streamrst"))),
      // restart rows: SAME oracle SQL as their single-lifetime siblings —
      // the claim is precisely that the stop/restart seam is invisible
      graft.streaming.StreamOracle.sessionizedOracle(
        graft.streaming.StreamOracle.SessionGapMs)),
    // the swept VersionedSnapshot across a restart: query 2's first
    // fold resolves the __latest pointer to query 1's final committed
    // version (strict-below pin covers a replayed boundary batch) —
    // final estimate ≡ the one-shot batch sketch bit-for-bit
    QuerySpec("streaming_restart_kmv", ((s, dir) =>
      graft.streaming.StreamOracle.kmvStreamedRestart(s, dir, scratch(dir, "streamrstkmv"))),
      graft.pipeline.Sketches.kmvDistinctOracle("events", "event_id")),
    // CRASH-BEFORE-COMMIT under the oracle's own hash check: between
    // the two lifetimes the checkpoint's LAST COMMIT FILE is deleted
    // (offsets without commit — the exact on-disk shape a crash between
    // sink write and commit leaves), so query 2's first act is to
    // RE-EXECUTE the boundary batch; the snapshot's strict-below read
    // pins its input to pre-batch state and the versioned overwrite
    // makes the re-emission idempotent — final estimate still ≡ the
    // one-shot batch sketch
    QuerySpec("streaming_restart_replay", ((s, dir) =>
      graft.streaming.StreamOracle.kmvStreamedRestart(s, dir,
        scratch(dir, "streamrstreplay"), forceBoundaryReplay = true)),
      graft.pipeline.Sketches.kmvDistinctOracle("events", "event_id")),
    // BucketedState across a restart: query 2's first merge reads slot
    // assignment and prior state through query 1's final manifest —
    // final state ≡ the one-shot last-writer-wins derivation
    QuerySpec("streaming_restart_cdc", ((s, dir) =>
      graft.streaming.StreamOracle.cdcUpsertRestart(s, dir, scratch(dir, "streamrstcdc"))),
      graft.streaming.StreamOracle.cdcUpsertOracle),
    // the split-capable BAND INDEX across a restart (the fourth state
    // shape): post-restart documents must be rejected by bands claimed
    // BEFORE the restart — the admission joins resolve through query
    // 1's final manifest; same one-shot oracle as streaming_neardup_admit
    QuerySpec("streaming_restart_neardup", ((s, dir) =>
      graft.streaming.StreamOracle.nearDupAdmissionRestart(s, dir, scratch(dir, "streamrstnd"))),
      graft.pipeline.Oracles.dedupStreamingAdmission),
    // STREAMING CDC UPSERT, oracle-checked: the event stream as a keyed
    // changelog applied batch-by-batch via foreachBatch MERGE into
    // versioned state parquet — the final state version must equal the
    // one-shot last-writer-wins batch derivation (batch boundaries
    // invisible); the r10 CDC-merge parity spec promoted to the oracle
    QuerySpec("streaming_cdc_upsert", ((s, dir) =>
      graft.streaming.StreamOracle.cdcUpsert(s, dir, scratch(dir, "streamcdc"))),
      graft.streaming.StreamOracle.cdcUpsertOracle),
    // STREAMING NEAR-DUP ADMISSION: the ingest-time LSH gate — per batch,
    // band signatures via the SAME Dedup generators, admission = no band
    // claimed by the persistent index or a smaller-id same-batch doc,
    // then the index advances; the oracle's one-shot global derivation
    // proves batch boundaries invisible
    QuerySpec("streaming_neardup_admit", ((s, dir) =>
      graft.streaming.StreamOracle.nearDupAdmission(s, dir, scratch(dir, "streamlsh"))),
      graft.pipeline.Oracles.dedupStreamingAdmission),
    // RETENTION HORIZON on the band index: entries whose newest claim
    // is older than the horizon stop blocking (logical filter on the
    // slots each batch already reads) and a full-index TTL rewrite
    // reclaims them (BucketedState.retain, run after the stream) — over
    // the planted-duplicate corpus the re-sends land 2 chunks after
    // their originals and must RE-ADMIT, the delta vs the grow-only
    // index; the oracle derives the windowed verdicts in one shot
    QuerySpec("streaming_neardup_retire", ((s, dir) =>
      graft.streaming.StreamOracle.nearDupAdmissionRetained(s, dir, scratch(dir, "streamlshret"))),
      graft.pipeline.Oracles.dedupStreamingRetention),
    // retention state across a REAL QUERY RESTART: the last_batch
    // recency stamps restored from query 1's final manifest must keep
    // driving aliveness in query 2 (recent claims still block, expired
    // ones re-admit) — the redeploy path of a production TTL'd index;
    // same one-shot oracle as streaming_neardup_retire
    QuerySpec("streaming_restart_retire", ((s, dir) =>
      graft.streaming.StreamOracle.nearDupAdmissionRetainedRestart(s, dir,
        scratch(dir, "streamrstret"))),
      graft.pipeline.Oracles.dedupStreamingRetention),
    // STREAMING EXACT DEDUP (dropDuplicatesWithinWatermark), oracle-
    // checked with a stream-spanning watermark: nothing evicts, so the
    // admitted set must equal DuckDB's global first-arrival dedup —
    // exactly one admitted row per digest, from the earliest chunk
    // containing it (the tight-watermark eviction horizon is spec-pinned
    // in StreamsSpec instead — engine-internal, not batch-expressible)
    QuerySpec("streaming_dedup", ((s, dir) =>
      graft.streaming.StreamOracle.dedupAdmitted(s, dir, scratch(dir, "streamdedup"))),
      graft.streaming.StreamOracle.dedupAdmittedOracle),
    // STREAM-STATIC ENRICHMENT with per-batch dimension refresh: each
    // micro-batch broadcast-joins the dimension snapshot keyed by its
    // OWN batch id (versioned snapshots = retry-idempotent; a static
    // join would pin the query-start snapshot for the whole stream) —
    // batch k's events carry version-k values, recomputable from the
    // event's own timestamp, so one DuckDB join states the whole run
    QuerySpec("streaming_enrich", ((s, dir) =>
      graft.streaming.StreamOracle.enriched(s, dir, scratch(dir, "streamenrich"))),
      graft.streaming.StreamOracle.enrichedOracle),
    // INCREMENTAL CONNECTED COMPONENTS: edges arrive as order-keyed
    // micro-batches; per batch the delta graph is CONTRACTED to its
    // current roots (label forest resolution) and only the delta runs
    // the star alternation — state advances O(touched), never O(graph).
    // The final resolved labeling must equal the one-shot batch
    // components oracle (min reachable id), proving batch boundaries
    // invisible.
    QuerySpec("streaming_components", ((s, dir) =>
      graft.streaming.StreamOracle.incrementalComponents(s, dir, scratch(dir, "streamcc"))),
      // the incremental maintenance must land exactly on the batch answer:
      // the SAME closure string as graph_components, so incremental ≡
      // one-shot is pinned by construction, not by parallel edits
      ComponentsClosureSql),
    // STREAMING MERGEABLE SKETCH: KMV k-minima folded across batches —
    // an associative/commutative fold, so the streamed state must land
    // EXACTLY on the one-shot batch sketch (same hash, k, kth, estimate)
    QuerySpec("streaming_kmv_distinct", ((s, dir) =>
      graft.streaming.StreamOracle.kmvStreamed(s, dir, scratch(dir, "streamkmv"))),
      // the streamed fold must equal the one-shot sketch bit-for-bit
      graft.pipeline.Sketches.kmvDistinctOracle("events", "event_id")),
    // STREAMING SAMPLED QUANTILE: per-batch Bernoulli-gate samples
    // (gate = pure function of row identity, single-sourced) accumulate
    // append-only; their union IS the one-shot sample, so the final
    // exact percentile must equal the batch derivation
    QuerySpec("streaming_quantile", ((s, dir) =>
      graft.streaming.StreamOracle.quantileStreamed(s, dir,
        scratch(dir, "streamquant"), q = 0.5, rate = QuantileSampleRate)),
      // union of per-batch gated samples ≡ the one-shot gated sample
      graft.pipeline.Sketches.sampledQuantileOracle("events", "event_id",
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)",
        q = 0.5, rate = QuantileSampleRate)),
    // STREAMING COUNT-MIN: per-batch counter grids fold by ADDITION
    // (bounded state — CmsDepth × CmsWidth, independent of corpus size);
    // heavy hitters probed from the folded grid ≡ the one-shot sketch
    QuerySpec("streaming_cms_heavy", ((s, dir) =>
      graft.streaming.StreamOracle.cmsStreamed(s, dir, scratch(dir, "streamcms"))),
      // added counters ≡ one-shot counters, probed at the exact top-k
      graft.pipeline.Sketches.cmsHeavyOracle(
        "(SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM documents) toks",
        "token", topK = 10)),
    // STREAM-STREAM INTERVAL JOIN, oracle-checked: same-user event
    // attribution within (0, 1h] across two watermarked sources — the
    // union of per-batch inner-join emissions must equal DuckDB's
    // one-shot batch self-join (bounded buffer state, no flush needed)
    QuerySpec("streaming_interval_join", ((s, dir) =>
      graft.streaming.StreamOracle.intervalJoined(s, dir, scratch(dir, "streamij"))),
      graft.streaming.StreamOracle.intervalJoinOracle),
    // LEFT OUTER stream-stream interval join: matched rows emit on
    // arrival like the inner join; a left event with NO same-user
    // follow-up inside the gap emits NULL-padded once the watermark
    // proves no future match can arrive — the union of emissions must
    // equal DuckDB's one-shot batch LEFT JOIN (outer rows exactly once)
    QuerySpec("streaming_interval_outer", ((s, dir) =>
      graft.streaming.StreamOracle.intervalJoinedOuter(s, dir, scratch(dir, "streamijo"))),
      graft.streaming.StreamOracle.intervalJoinOuterOracle),
    // FULL OUTER stream-stream interval join: both absence directions
    // emit (no-follow-up lefts pad right-null, session-head rights pad
    // left-null, each exactly once on watermark proof) ≡ DuckDB's
    // one-shot batch FULL JOIN
    QuerySpec("streaming_interval_full", ((s, dir) =>
      graft.streaming.StreamOracle.intervalJoinedFull(s, dir, scratch(dir, "streamijf"))),
      graft.streaming.StreamOracle.intervalJoinFullOracle),
    // LEFT SEMI stream-stream interval join: each event emitted once iff
    // a same-user event follows within the gap (the streaming EXISTS;
    // first match emits, engine-marked state) ≡ DuckDB's one-shot EXISTS
    QuerySpec("streaming_interval_semi", ((s, dir) =>
      graft.streaming.StreamOracle.intervalJoinedSemi(s, dir, scratch(dir, "streamijs"))),
      graft.streaming.StreamOracle.intervalJoinSemiOracle),
    // STREAMING PER-KEY QUOTA ADMISSION, oracle-checked: lifetime cap of
    // QuotaPerUser events per user via mapGroupsWithState (one long of
    // state per user), admitted in event-time order across real
    // micro-batches — must equal DuckDB's one-shot row_number cap
    QuerySpec("streaming_quota", ((s, dir) =>
      graft.streaming.StreamOracle.quotaAdmitted(s, dir, scratch(dir, "streamquota"))),
      graft.streaming.StreamOracle.quotaOracle(
        graft.streaming.StreamOracle.QuotaPerUser)),
    // STREAMING WINDOWED TOP-K (Misra-Gries bounded state),
    // oracle-checked via the sketch_cms_heavy pattern: every TRUE-heavy
    // (window, item) must be present in the sketch's timeout-flushed
    // emission with true_count inside [min_count, max_count] and no
    // events lost — the deterministic guarantees both engines can state
    QuerySpec("streaming_topk", ((s, dir) =>
      graft.streaming.StreamOracle.topKChecked(s, dir, scratch(dir, "streamtopk"))),
      graft.streaming.StreamOracle.topKOracle(
        graft.streaming.StreamOracle.TopKWindowMs, graft.streaming.StreamOracle.TopKCapacity)),
  )
}
