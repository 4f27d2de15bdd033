package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.QueryHarness._

/** The LLM-data-pipeline rows of the driver contract: `dedup_*`,
  * `text_*`, `split_*`, `sample_*`, `pack_*`, `pipeline_*`, `emb_*`,
  * `ann_*`, `mm_*` and `rag_retrieve`. Each row's build sits beside the
  * DuckDB SQL that checks it; the longer SQL lives in [[Oracles]]. */
private[graft] object PipelineQueries {

  /** Per-language sampling rates for `sample_stratified` (strata not
    * listed keep everything); shared with the oracle SQL. */
  val SampleRates: Seq[(String, Double)] = Seq("en" -> 0.5, "zh" -> 0.25, "fr" -> 0.1)

  /** `sample_mix_budget` geometry: integer source weights (src2's zero
    * exercises outright exclusion), default weight for unlisted sources,
    * and the global token budget — sized so upweighted sources admit
    * everything while default-weight sources genuinely truncate. */
  val MixWeights: Seq[(String, Long)] = Seq("src0" -> 4L, "src1" -> 2L, "src2" -> 0L)
  val MixDefaultWeight = 1L
  val MixBudget = 40000L

  /** `pipeline_curate_lm` quality floor: the sf0.01 corpus median LM
    * score, so the gate keeps roughly half the docs. */
  val LmScoreMin = 0.0345

  /** Quality-score gate for `pipeline_curate` (keeps ~half the testdata
    * corpus); shared with the oracle SQL. */
  val CurateMinScore: Double = 0.4

  /** Content-key prefix length for `dedup_incremental` (long enough to
    * be a content identity on real crawls, short enough that the
    * template-generated testdata actually collides on it). */
  val IncrementalPrefixLen: Int = 60

  /** The `rag_retrieve` composition — shared verbatim with PlanAudit
    * so the audited plan is the shipped plan. */
  def ragRetrieve(embeddings: DataFrame, docs: DataFrame): DataFrame =
    graft.pipeline.Ann.cosineTopK(embeddings)
      .join(docs.select(col("doc_id").as("vec_id"), col("lang"),
        md5(col("text")).as("text_md5"), col("n_chars")), "vec_id")

  /** The `dedup_incremental` corpus/batch split (every 5th doc arrives
    * as the new batch) over the prefix content key — shared with
    * PlanAudit. */
  def incrementalNewDocs(docs: DataFrame): DataFrame = {
    val d = docs.withColumn("k", substring(col("text"), 1, IncrementalPrefixLen))
    graft.pipeline.Dedup.incrementalNew(
      d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0), "doc_id", "k")
  }

  val specs: Seq[QuerySpec] = Seq(
    // curriculum binning: quality-score quartile bins over the corpus —
    // the difficulty-staged training order, composed from the quality
    // scorer and the scalable GlobalRank NTILE (no single-task window).
    // NULL scores (empty docs) are pinned to -1 so both engines agree on
    // their ordering (Spark sorts NULLS FIRST asc, DuckDB NULLS LAST)
    QuerySpec("split_curriculum", ((s, dir) => {
      val q = graft.pipeline.TextPipeline.quality(table(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("score"), lit(-1.0)).as("sort_score"))
      graft.operators.GlobalRank.withNtile(q, Seq("sort_score", "doc_id"), 4, "bin")
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("sort_score")).as("min_score"),
          max(col("sort_score")).as("max_score"))
    }),
      (s"""WITH qual AS (${graft.pipeline.Oracles.textQuality}),
          |d AS (SELECT doc_id, n_tokens, COALESCE(score, -1.0) AS sort_score,
          |  ntile(4) OVER (ORDER BY COALESCE(score, -1.0), doc_id) AS bin FROM qual)
          |SELECT bin, COUNT(*) AS n_docs, SUM(n_tokens)::BIGINT AS total_tokens,
          |  min(sort_score) AS min_score, max(sort_score) AS max_score
          |FROM d GROUP BY bin""".stripMargin)),

    // ---- LLM-data-pipeline operators (graft.pipeline); their oracles
    // are generated in lockstep with the operators' constants — see
    // graft.pipeline.Oracles ----
    QuerySpec("dedup_exact", ((s, dir) =>
      graft.pipeline.Dedup.exact(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.dedupExact),
    QuerySpec("dedup_exact_hash", ((s, dir) =>
      graft.pipeline.Dedup.exactByRowHash(table(s, dir, "documents"), "doc_id",
        "documents", Seq("lang", "source", "text"))),
      graft.pipeline.Oracles.dedupExactHash),
    QuerySpec("dedup_minhash_sig", ((s, dir) =>
      graft.pipeline.Dedup.bandSignatures(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.dedupMinhashSig),
    QuerySpec("dedup_minhash_pairs", ((s, dir) =>
      graft.pipeline.Dedup.nearDupPairs(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.dedupMinhashPairs),
    QuerySpec("dedup_jaccard_pairs", ((s, dir) =>
      graft.pipeline.Dedup.jaccardPairs(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.dedupJaccardPairs(0.2)),
    // the CAPPED path under adversarial skew: a corpus-wide boilerplate
    // block is appended to every doc in-plan (every boiler shingle hits
    // document frequency = corpus size, so uncapped candidate generation
    // degrades to all-pairs); maxShingleFreq drops those postings and
    // the bench row prices the guard instead of asserting it
    QuerySpec("dedup_skew_capped", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val synth = docs.select(col("doc_id"),
        concat(col("text"), lit(" " + graft.pipeline.Dedup.SkewBoiler)).as("text"))
      graft.pipeline.Dedup.jaccardPairs(synth, "doc_id", "text",
        threshold = 0.2, maxShingleFreq = Some(graft.pipeline.Dedup.SkewCapFreq))
    }),
      graft.pipeline.Oracles.dedupSkewCapped(0.2,
        graft.pipeline.Dedup.SkewCapFreq)),
    // asymmetric containment (partial-copy detection Jaccard misses)
    QuerySpec("dedup_containment_pairs", ((s, dir) =>
      graft.pipeline.Dedup.containmentPairs(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.dedupContainmentPairs(0.8)),
    QuerySpec("dedup_clusters", ((s, dir) =>
      graft.pipeline.Dedup.nearDupClusters(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.dedupClusters),
    // keeper selection per cluster: highest quality wins, ties by id
    QuerySpec("dedup_canonical", ((s, dir) =>
      graft.pipeline.Dedup.canonicalKeepers(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.dedupCanonical),
    // PII redaction over the fixed fixture (a pure Java-vs-RE2 regex
    // parity check — the corpus itself carries no PII)
    QuerySpec("text_redact", ((s, dir) => {
      import s.implicits._
      graft.pipeline.TextPipeline.redact(
        graft.pipeline.TextPipeline.RedactionFixture.toDF("doc_id", "text"), "doc_id", "text")
    }),
      graft.pipeline.Oracles.textRedact),
    QuerySpec("split_assign", ((s, dir) =>
      graft.pipeline.Splits.hashSplit(table(s, dir, "documents"), "doc_id")),
      graft.pipeline.Oracles.splitAssign),
    // k-fold CV assignment: salted-hash fold, shuffle-free and stable
    // under incremental ingest; pass a cluster id for group-safe folds
    QuerySpec("split_kfold", ((s, dir) =>
      graft.pipeline.Splits.kfold(table(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("fold"))),
      graft.pipeline.Oracles.splitKfold(5)),
    // temporal split with an embargo gap (purged split): train before
    // the integer-derived cutoff, test after cutoff+embargo, the window
    // between DROPPED — per-split counts and exact time bounds audit
    // the gap discipline; span bounds are a 1-row broadcast
    QuerySpec("split_time_embargo", ((s, dir) =>
      graft.pipeline.Splits.timeEmbargoSplit(table(s, dir, "events"),
        expr(TsUsSql), embargoUs = 3L * RangeJoinDayUs)),
      graft.pipeline.Splits.timeEmbargoOracle(
        "events", "epoch_us(ts)", embargoUs = 3L * RangeJoinDayUs)),
    QuerySpec("dedup_simhash", ((s, dir) =>
      graft.pipeline.TextPipeline.simhash(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.dedupSimhash),
    QuerySpec("dedup_simhash_pairs", ((s, dir) =>
      graft.pipeline.Dedup.simhashPairs(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.dedupSimhashPairs),
    QuerySpec("text_token_stats", ((s, dir) =>
      graft.pipeline.TextPipeline.tokenStats(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.textTokenStats),
    // the same statistics under the unicode-word (BPE-style pre-token)
    // tokenizer — punctuation splits, letter/digit runs stay whole
    QuerySpec("text_token_stats_unicode", ((s, dir) =>
      graft.pipeline.TextPipeline.tokenStats(table(s, dir, "documents"), "doc_id", "text",
        graft.pipeline.TextPipeline.Tokenizer.UnicodeWords)),
      graft.pipeline.Oracles.textTokenStatsWith(
        graft.pipeline.TextPipeline.Tokenizer.UnicodeWords)),
    QuerySpec("text_quality", ((s, dir) =>
      graft.pipeline.TextPipeline.quality(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.textQuality),
    // lang-ID evaluation: the heuristic's confusion matrix against the
    // corpus's labeled lang column — the accuracy artifact that decides
    // whether the n-gram ID is good enough to gate on
    QuerySpec("text_langid_confusion", ((s, dir) => {
      val docs = table(s, dir, "documents")
      graft.pipeline.TextPipeline.langId(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang").as("labeled")), "doc_id")
        .groupBy(col("labeled"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
    }),
      graft.pipeline.Oracles.textLangIdConfusion),
    // per-language tokenizer fertility (unicode-word tokens per
    // whitespace token) — the multilingual tokenizer-choice statistic
    QuerySpec("text_fertility", ((s, dir) => {
      val d = table(s, dir, "documents")
      import graft.pipeline.TextPipeline.Tokenizer
      d.select(col("lang"),
          size(Tokenizer.Whitespace.of(col("text"))).cast("long").as("n_ws"),
          size(Tokenizer.UnicodeWords.of(col("text"))).cast("long").as("n_uni"))
        .groupBy(col("lang"))
        .agg(sum(col("n_ws")).as("ws_tokens"), sum(col("n_uni")).as("uni_tokens"))
        .select(col("lang"), col("ws_tokens"), col("uni_tokens"),
          round(col("uni_tokens").cast("double") / col("ws_tokens"), 4).as("fertility"))
    }),
      graft.pipeline.Oracles.textFertility),
    // code-switching detector: whole-doc argmax lang-ID hides a mixed
    // document; per-window votes (n_langs, major_frac) surface it —
    // window explode is narrow, everything else keys on doc_id
    QuerySpec("text_code_switch", ((s, dir) =>
      graft.pipeline.TextPipeline.codeSwitch(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.textCodeSwitch(graft.pipeline.TextPipeline.CodeSwitchWindow)),
    QuerySpec("text_langid", ((s, dir) =>
      graft.pipeline.TextPipeline.langId(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.textLangId),
    // C4-rule cross-document segment dedup: every exact 10-word segment
    // occurring in >= 2 distinct documents is deleted from ALL of them
    // and the surviving text reassembled in order — the global
    // boilerplate eraser (vs dedup_dup_spans' pairwise evidence). The
    // oracle rebuilds every document's post-dedup text, so the rule's
    // full effect hash-checks, not just the counts
    QuerySpec("text_line_dedup", ((s, dir) =>
      graft.pipeline.TextPipeline.segmentDedup(
        table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.textSegmentDedup(
        graft.pipeline.TextPipeline.SegmentWords,
        graft.pipeline.TextPipeline.SegmentMinDocs)),
    QuerySpec("text_fingerprint", ((s, dir) =>
      graft.pipeline.TextPipeline.fingerprint(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.textFingerprint),
    QuerySpec("text_repetition", ((s, dir) =>
      graft.pipeline.TextPipeline.repetition(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.textRepetition),
    QuerySpec("text_contamination", ((s, dir) => {
      val d = table(s, dir, "documents")
      graft.pipeline.Dedup.contamination(
        d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0),
        "doc_id", "text")
    }),
      graft.pipeline.Oracles.textContamination(2)),
    // second curation composition, through the round-9 operators: LM
    // quality gate (corpus-bigram mean transition probability ≥ the
    // median) → token-budgeted source mixture over the survivors — the
    // census, weight total, and budgets all derive from the GATED set,
    // verified as ONE oracle query
    QuerySpec("pipeline_curate_lm", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val lm = graft.pipeline.TextPipeline.lmScore(docs, "doc_id", "text")
        .filter(col("lm_score") >= LmScoreMin)
        .select(col("doc_id"), col("lm_score"))
      val kept = docs.join(lm, "doc_id")
      graft.pipeline.Sampling.mixTokenBudget(kept, "doc_id", "source", "text",
          MixWeights, MixDefaultWeight, MixBudget)
        .filter(col("admitted"))
        .join(lm, "doc_id")
        .select(col("doc_id"), col("source"), col("n_tokens"), col("lm_score"))
    }),
      graft.pipeline.Oracles.pipelineCurateLm(
        LmScoreMin, MixWeights, MixDefaultWeight, MixBudget,
        graft.pipeline.Sampling.DefaultSalt)),
    // end-to-end curation: quality gate → near-dup cluster dedup (keep
    // each cluster's representative) → concat-and-chunk packing — the
    // composed training-data pipeline, verified as ONE oracle query
    QuerySpec("pipeline_curate", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val good = graft.pipeline.TextPipeline.quality(docs, "doc_id", "text")
        .filter(col("score") >= CurateMinScore).select("doc_id")
      val reps = graft.pipeline.Dedup.nearDupClusters(docs, "doc_id", "text")
        .filter(col("doc_id") === col("cluster_id")).select("doc_id")
      val keep = docs.select(col("doc_id"), col("text"))
        .join(good, "doc_id").join(reps, "doc_id")
      graft.pipeline.Packing.pack(keep, "doc_id", "text")
    }),
      graft.pipeline.Oracles.pipelineCurate(CurateMinScore, graft.pipeline.Packing.Capacity)),
    // cross-modal curation: quality gate AND the embedding-space
    // semantic-keeper rule (vec_id ↔ doc_id), packed — inner-joining
    // the embedding side restricts to the embedded slice by contract
    QuerySpec("pipeline_curate_semantic", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val good = graft.pipeline.TextPipeline.quality(docs, "doc_id", "text")
        .filter(col("score") >= CurateMinScore).select("doc_id")
      val sem = graft.pipeline.Ann.semanticDedup(table(s, dir, "embeddings"))
        .filter(col("keeper_id") === col("vec_id"))
        .select(col("vec_id").as("doc_id"))
      val keep = docs.select(col("doc_id"), col("text"))
        .join(good, "doc_id").join(sem, "doc_id")
      graft.pipeline.Packing.pack(keep, "doc_id", "text")
    }),
      graft.pipeline.Oracles.pipelineCurateSemantic(
        CurateMinScore, graft.pipeline.Packing.Capacity)),
    QuerySpec("text_vocab", ((s, dir) =>
      graft.pipeline.TextPipeline.vocab(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.textVocab(100)),
    // corpus-bigram-LM quality score (CCNet-style perplexity filter,
    // fixed-point rational variant): mean transition probability per doc
    QuerySpec("text_lm_score", ((s, dir) =>
      graft.pipeline.TextPipeline.lmScore(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.textLmScore()),
    // windowed co-occurrence top-100 (word2vec/GloVe prep): log-free
    // PMI fraction rides along per pair
    QuerySpec("text_cooccurrence", ((s, dir) =>
      graft.pipeline.TextPipeline.cooccurrence(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.textCooccurrence(window = 4, topK = 100)),
    // one BPE merge round: adjacent-token-pair frequencies, top-100
    QuerySpec("text_bpe_pairs", ((s, dir) =>
      graft.pipeline.TextPipeline.bpePairs(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.bpePairs(100)),
    // BPE TRAIN: the iterated trainer run to an actual merge table —
    // 8 rounds of pair-count → (cnt desc, l, r) argmax → re-encode,
    // one scan-side aggregation per round, one row per round crossing
    // the driver; DuckDB re-derives the table with the rounds unrolled
    QuerySpec("text_bpe_train", ((s, dir) =>
      graft.pipeline.TextPipeline.bpeTrain(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.bpeTrain()),
    // BPE APPLY: the fixed trained merge table applied in rank order to
    // every document (Sennrich-style leftmost merges as one codegen'd
    // delimiter-protected rewrite chain — no UDF, no shuffle); the
    // token sequences hash-check against DuckDB replaying the same
    // merge table through its own string engine
    QuerySpec("text_bpe_apply", ((s, dir) =>
      graft.pipeline.TextPipeline.bpeApply(table(s, dir, "documents"), "doc_id", "text")),
      // rank-order merges replayed by DuckDB's own string engine from the
      // SAME single-sourced merge table
      graft.pipeline.Oracles.bpeApply()),
    // THE END-PRODUCT COMPOSITION: trained merges → per-distinct-word
    // tokenization → ids from a vocab derived FROM the merge table →
    // distributed-prefix-sum packing into fixed-length sequences →
    // deterministic shard assignment; one row per packed sequence with
    // an order-exact md5 over its token ids — DuckDB re-derives the
    // identical chain from the train CTEs in one statement
    QuerySpec("pipeline_tokenize_pack", ((s, dir) =>
      graft.pipeline.TextPipeline.tokenizePack(
        table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.tokenizePack()),
    // Zipf profile: EVERY corpus term with its global frequency rank —
    // rank via the two-phase range-partitioned prefix sum (GlobalRank),
    // never Spark's single-task no-partition window; ties (tf, token)
    // make the order total so the rank column itself hash-checks
    // feature-hashing vectorizer: vocabulary-free text->vector (signed
    // md5 dim/sign hashes, O(dim) memory at any corpus size), sparse
    // long form (doc, dim, weight) with exact integer weights
    QuerySpec("text_hash_embed", ((s, dir) =>
      graft.pipeline.TextPipeline.hashEmbed(table(s, dir, "documents"),
        "doc_id", "text")),
      graft.pipeline.TextPipeline.hashEmbedOracle(
        "documents", "doc_id", "text")),
    // char-distribution Gini: the entropy-style low-diversity detector
    // as a pure rational (no banned logarithm); map-side pre-agg means
    // at most |alphabet| rows per doc cross the exchange
    QuerySpec("text_char_gini", ((s, dir) =>
      graft.pipeline.TextPipeline.charGini(table(s, dir, "documents"),
        "doc_id", "text")),
      graft.pipeline.TextPipeline.charGiniOracle(
        "documents", "doc_id", "text")),
    QuerySpec("text_zipf_rank", ((s, dir) => {
      val tf = table(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      graft.operators.GlobalRank.withRank(
        tf.withColumn("neg_tf", -col("tf")), Seq("neg_tf", "token"), "zipf_rank")
        .select(col("token"), col("tf"), col("zipf_rank"))
    }),
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents),
        |f AS (SELECT token, count(*) AS tf FROM t GROUP BY 1)
        |SELECT token, tf, row_number() OVER (ORDER BY tf DESC, token) AS zipf_rank FROM f""".stripMargin),
    // hapax-legomena share per language — the vocabulary-freshness /
    // noise signal (a high hapax share flags OCR garbage or boilerplate
    // explosion): two map-side-combinable aggregations, one division
    QuerySpec("text_hapax_ratio", ((s, dir) => {
      val tf = table(s, dir, "documents")
        .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("tf"))
      tf.groupBy(col("lang")).agg(
        count(lit(1)).as("n_terms"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .withColumn("hapax_ratio",
          col("n_hapax").cast("double") / col("n_terms").cast("double"))
    }),
      """WITH t AS (SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents),
        |f AS (SELECT lang, token, count(*) AS tf FROM t GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_terms,
        |  sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
        |  (sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE) AS hapax_ratio
        |FROM f GROUP BY lang""".stripMargin),
    // dictionary encode: corpus tokens → vocab ids (rank in the top-100
    // vocab; 0 = OOV). The id table is vocab-sized → broadcast join; the
    // token explosion is scan-side; at 1000× only the explosion grows.
    // The id-assignment window sorts 100 rows — bounded by topK, not data
    QuerySpec("text_token_ids", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents")
      val ids = graft.pipeline.TextPipeline.vocab(docs, "doc_id", "text")
        .select(col("token"), row_number().over(
          Window.orderBy(col("tf").desc, col("token"))).as("token_id"))
      docs.select(col("doc_id"),
          posexplode(graft.pipeline.TextPipeline.tokens(col("text"))).as(Seq("pos", "token")))
        .join(broadcast(ids), Seq("token"), "left")
        .select(col("doc_id"), col("pos"),
          coalesce(col("token_id"), lit(0)).as("token_id"))
    }),
      (s"""WITH v AS (${graft.pipeline.Oracles.textVocab(100)}),
          |ids AS (SELECT token, row_number() OVER (ORDER BY tf DESC, token) AS token_id FROM v),
          |w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
          |p AS (SELECT doc_id, t.i - 1 AS pos, ws[t.i] AS token
          |  FROM w, unnest(generate_series(1, len(ws))) AS t(i))
          |SELECT p.doc_id, p.pos, COALESCE(ids.token_id, 0) AS token_id
          |FROM p LEFT JOIN ids ON p.token = ids.token""".stripMargin)),
    // per-source quota: keep the 10 largest documents of every source
    // (testdata has 25 docs/source, so the cap genuinely bites)
    // class-balanced exact downsample: every label cut to the smallest
    // class's size (the quota is DATA-derived, broadcast as 1 row), in
    // salted-hash order — the reproducible imbalanced-training fix
    QuerySpec("sample_class_balance", ((s, dir) =>
      graft.pipeline.Sampling.classBalance(
        table(s, dir, "embeddings").select(col("vec_id"), col("label")),
        "vec_id", "label")),
      graft.pipeline.Sampling.classBalanceOracle(
        "embeddings", "vec_id", "label", "vec_id, label")),
    QuerySpec("sample_source_cap", ((s, dir) =>
      graft.pipeline.Sampling.capPerStratum(table(s, dir, "documents"),
        "doc_id", "source", "n_chars", 10)),
      graft.pipeline.Oracles.sampleSourceCap(10)),
    // exact-k uniform eval draw: 20 hash-ranked docs per language
    QuerySpec("sample_uniform_k", ((s, dir) =>
      graft.pipeline.Sampling.uniformPerStratum(table(s, dir, "documents"),
        "doc_id", "lang", 20)),
      graft.pipeline.Oracles.sampleUniformK(20, graft.pipeline.Sampling.DefaultSalt)),
    // token-budgeted mixture: integer-weighted per-source token budgets
    // (src0 upweighted 4x, src1 2x, src2 excluded, rest 1x), admission
    // in salted-hash order until each budget fills
    QuerySpec("sample_mix_budget", ((s, dir) =>
      graft.pipeline.Sampling.mixTokenBudget(table(s, dir, "documents"),
        "doc_id", "source", "text", MixWeights, MixDefaultWeight, MixBudget)),
      graft.pipeline.Oracles.sampleMixBudget(
        MixWeights, MixDefaultWeight, MixBudget, graft.pipeline.Sampling.DefaultSalt)),
    // length-bucket padding census: per power-of-two bucket, real vs
    // padded token mass and the waste ratio — the statistic that sets
    // bucketed-batching edges for inference (pack_sequences is the
    // concat-and-chunk alternative); narrow map + one tiny aggregation
    QuerySpec("pack_padding_census", ((s, dir) =>
      graft.pipeline.Packing.paddingCensus(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Packing.paddingCensusOracle("documents", "text")),
    QuerySpec("pack_sequences", ((s, dir) =>
      graft.pipeline.Packing.pack(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.packSequences(graft.pipeline.Packing.Capacity)),
    QuerySpec("sample_stratified", ((s, dir) =>
      graft.pipeline.Sampling.stratified(table(s, dir, "documents"), "doc_id", "lang",
        SampleRates.toMap)),
      graft.pipeline.Oracles.sampleStratified(SampleRates, graft.pipeline.Sampling.DefaultSalt)),
    QuerySpec("mm_payload_stats", ((s, dir) =>
      graft.pipeline.MultiModal.payloadStats(table(s, dir, "documents"))),
      graft.pipeline.Oracles.mmPayloadStats),
    QuerySpec("mm_chunks", ((s, dir) =>
      graft.pipeline.MultiModal.chunkPayloads(table(s, dir, "documents"))),
      graft.pipeline.Oracles.mmChunks(64)),
    // frame-sample stub: every 4th 64-byte frame, indices GENERATED by a
    // stepped sequence (skipped frames never materialize)
    QuerySpec("mm_frame_sample", ((s, dir) =>
      graft.pipeline.MultiModal.sampleFrames(table(s, dir, "documents"))),
      graft.pipeline.Oracles.mmFrameSample(64, 4)),
    // PNG IHDR / JPEG SOF dimensions by pure header byte-parse (no
    // codec): payloads synthesized in-plan with data-dependent segment
    // lengths, so the SOF walk is what recovers (width, height) — the
    // oracle re-derives both arithmetically from the generator inputs
    QuerySpec("mm_dimensions", ((s, dir) =>
      graft.pipeline.MultiModal.dimensions(table(s, dir, "documents"))),
      // re-derive the synthesized dimensions from the generator arithmetic
      // (64 + n_chars % 1901, 64 + doc_id*31 % 1013, kind = doc_id % 4) —
      // Spark must recover the same numbers by parsing the bytes
      """WITH d AS (SELECT doc_id, 64 + (n_chars % 1901) AS w,
        |  64 + ((doc_id * 31) % 1013) AS h, doc_id % 4 AS kind FROM documents)
        |SELECT doc_id,
        |  CASE WHEN kind = 0 THEN 'png' WHEN kind IN (1,2) THEN 'jpeg'
        |       ELSE 'opaque' END AS format,
        |  CASE WHEN kind IN (0,1,2) THEN w END AS width,
        |  CASE WHEN kind IN (0,1,2) THEN h END AS height,
        |  CASE WHEN kind IN (0,1,2)
        |       THEN (w >= 200 AND h >= 200 AND w <= 2*h AND h <= 2*w)
        |       ELSE FALSE END AS keep
        |FROM d""".stripMargin),
    // WAV/RIFF fmt+data chunk metadata by pure header byte-parse: the
    // chunk walk (native graft_riff_chunk) must hop variable-length
    // LIST/JUNK chunks — including odd-size word-alignment pads — to
    // find the fields; the oracle re-derives them arithmetically
    QuerySpec("mm_audio_meta", ((s, dir) =>
      graft.pipeline.MultiModal.audioMeta(table(s, dir, "documents"))),
      // arithmetic re-derivation of the WAV generator inputs; Spark must
      // recover the same values by walking the RIFF chunks
      """WITH d AS (SELECT doc_id,
        |  CAST(8000 + (n_chars % 37) * 100 AS BIGINT) AS sr,
        |  CAST(1 + (doc_id % 2) AS BIGINT) AS ch,
        |  CAST(1 + ((doc_id // 3) % 3) AS BIGINT) AS depth,
        |  CAST(100 + ((n_chars * 7) % 9973) AS BIGINT) AS db,
        |  doc_id % 3 AS k FROM documents)
        |SELECT doc_id,
        |  CASE WHEN k = 0 THEN 'wav' ELSE 'opaque' END AS kind,
        |  CASE WHEN k = 0 THEN sr END AS sample_rate,
        |  CASE WHEN k = 0 THEN ch END AS channels,
        |  CASE WHEN k = 0 THEN 8 * depth END AS bits_per_sample,
        |  CASE WHEN k = 0 THEN sr * ch * depth END AS byte_rate,
        |  CASE WHEN k = 0 THEN db END AS data_bytes,
        |  CASE WHEN k = 0 THEN (db * 1000) // (sr * ch * depth) END AS duration_ms
        |FROM d""".stripMargin),
    // REAL audio sample decode: per-doc WAVs transit the JDK sound
    // stack both ways (AudioSystem write + read), samples summarized as
    // exact integers the oracle re-derives from the waveform formula —
    // PCM losslessness is the bridge, as PNG is for mm_pixel_dhash
    QuerySpec("mm_wav_pcm", ((s, dir) =>
      graft.pipeline.MultiModal.wavPcmStats(table(s, dir, "documents"))),
      graft.pipeline.MultiModal.wavPcmOracle),
    // frame-level VAD over real decoded PCM: 16-sample frames, integer
    // energy silence flag, leading-silence trim offset, and the exact
    // zero-crossing count — every third frame renders near-silent by
    // construction so the flags are exercised; decode+frame+summarize
    // is one narrow map
    QuerySpec("mm_audio_vad", ((s, dir) =>
      graft.pipeline.MultiModal.audioVad(table(s, dir, "documents"))),
      graft.pipeline.MultiModal.audioVadOracle),
    // GIF block-chain metadata: the sub-block container walked by the
    // native graft_gif_frames loop (unbounded [len][bytes]...0 chains —
    // no fixed unrolling exists); dims read back from the bytes by the
    // decoder; truncated chains and non-GIF payloads classify opaque
    QuerySpec("mm_gif_meta", ((s, dir) =>
      graft.pipeline.MultiModal.gifMeta(table(s, dir, "documents"))),
      graft.pipeline.MultiModal.gifMetaOracle),
    // sparse 16-bin luma histogram over real decoded pixels: the
    // exposure/contrast artifact per image; decode+bin is one narrow
    // map emitting at most 16 fixed-width rows per image
    QuerySpec("mm_image_histogram", ((s, dir) =>
      graft.pipeline.MultiModal.imageHistogram(table(s, dir, "documents"))),
      graft.pipeline.MultiModal.imageHistogramOracle),
    // ISO BMFF (MP4) box metadata by pure header byte-parse: the box
    // walk (native graft_bmff_box) hops variable-length free/udta boxes
    // at BOTH nesting levels (mvhd inside moov composes via binary
    // substr); the oracle re-derives the fields arithmetically
    QuerySpec("mm_video_meta", ((s, dir) =>
      graft.pipeline.MultiModal.videoMeta(table(s, dir, "documents"))),
      // arithmetic re-derivation of the MP4 generator inputs; Spark must
      // recover the same values by walking the boxes at both levels
      """WITH d AS (SELECT doc_id,
        |  CAST(600 + (n_chars % 11) * 100 AS BIGINT) AS ts,
        |  CAST(((doc_id * 13) % 99991) + 1 AS BIGINT) AS dur,
        |  doc_id % 3 AS k, doc_id % 2 AS br FROM documents)
        |SELECT doc_id,
        |  CASE WHEN k = 0 THEN 'mp4' ELSE 'opaque' END AS kind,
        |  CASE WHEN k = 0 THEN (CASE WHEN br = 0 THEN 'isom' ELSE 'mp42' END) END AS major_brand,
        |  CASE WHEN k = 0 THEN ts END AS timescale,
        |  CASE WHEN k = 0 THEN dur END AS duration,
        |  CASE WHEN k = 0 THEN (dur * 1000) // ts END AS duration_ms
        |FROM d""".stripMargin),
    // TIFF/EXIF IFD metadata by pure byte-parse: the OFFSET-TABLE format
    // (native graft_tiff_tag walks the entry directory behind a
    // data-dependent junk gap, under BOTH byte orders); the oracle
    // re-derives the fields arithmetically
    QuerySpec("mm_tiff_meta", ((s, dir) =>
      graft.pipeline.MultiModal.tiffMeta(table(s, dir, "documents"))),
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 4 THEN 'opaque' ELSE 'tiff' END AS format,
        |  CASE WHEN doc_id % 5 = 4 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CASE WHEN doc_id % 5 = 4 THEN NULL
        |       ELSE CAST(64 + (n_chars % 1901) AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 5 = 4 THEN NULL
        |       ELSE CAST(64 + ((doc_id * 31) % 1013) AS BIGINT) END AS height
        |FROM documents""".stripMargin),
    // perceptual dedup plumbing: 64-bit dHash over strided payload
    // bytes (bytes standing in for luma — mm_pixel_dhash is the decoded
    // twin), exact grouping = threshold-0 perceptual dup candidates; the
    // fingerprint is a fused 64-comparison codegen dag, the only shuffle
    // is the 8-byte dup count
    QuerySpec("mm_phash_dupes", ((s, dir) =>
      graft.pipeline.MultiModal.phashDupes(table(s, dir, "documents"))),
      graft.pipeline.Oracles.mmPhashDupes(graft.pipeline.MultiModal.PhashBits)),
    // REAL full-frame pixel decode: in-plan synthesized PNGs (one per
    // document, pattern = arithmetic function of doc_id) transit the
    // JDK ImageIO codec, and the dHash is computed over ACTUAL decoded
    // luma samples — the oracle re-derives every sample from the
    // generator formula (PNG losslessness is the bridge), so a codec or
    // plumbing bug breaks the hash check. Decode+hash is a narrow
    // per-partition map; the only shuffle is the 8-byte dup count.
    QuerySpec("mm_pixel_dhash", ((s, dir) =>
      graft.pipeline.MultiModal.pixelDhashDupes(table(s, dir, "documents"))),
      graft.pipeline.MultiModal.pixelDhashOracle),
    // composed image dedup: real decode -> dHash -> canonical keeper
    // in ONE plan (the image twin of text canonical-keeper selection)
    QuerySpec("pipeline_image_dedup", ((s, dir) =>
      graft.pipeline.MultiModal.imageDedup(table(s, dir, "documents"))),
      graft.pipeline.MultiModal.pixelImageDedupOracle),
    // REAL multi-frame container decode: per doc a multi-page TIFF is
    // written through the JDK sequence writer and decoded page-by-page
    // (getNumImages + indexed read); per-frame luma sums are exact
    // integers the oracle re-derives from the generator formula —
    // frame extraction on an actual container, not byte slices
    QuerySpec("mm_tiff_pages", ((s, dir) =>
      graft.pipeline.MultiModal.tiffPages(table(s, dir, "documents"))),
      graft.pipeline.MultiModal.tiffPagesOracle),
    // shot-boundary detection over REAL decoded frames: shots change
    // every 2 frames, frames within a shot only PAN one column — the
    // 16-bin luma-histogram L1 stays ≤ 2·H under the pan and jumps at
    // a cut; verdicts are integer-exact, zero shuffles (all of a doc's
    // frames live in one decoded payload)
    QuerySpec("mm_shot_boundaries", ((s, dir) =>
      graft.pipeline.MultiModal.shotBoundaries(table(s, dir, "documents"))),
      graft.pipeline.MultiModal.shotBoundariesOracle),
    // nearest-neighbor resize over the SAME real decoded pixels (the
    // fixed-input-shape step before any vision feature extractor) —
    // integer-floor sampling, so the oracle re-derives the resized grid
    // exactly; summarized as exact integers (sum + corners)
    QuerySpec("mm_pixel_resize", ((s, dir) =>
      graft.pipeline.MultiModal.pixelResize(table(s, dir, "documents"))),
      graft.pipeline.MultiModal.pixelResizeOracle),
    // image-quality gate over real decoded pixels: exact integer
    // moments + the flat/dark/bright defect flags as pure integer
    // comparisons (one in five seeds renders flat, so the flag is
    // exercised); decode+moments is one narrow map
    QuerySpec("mm_image_quality", ((s, dir) =>
      graft.pipeline.MultiModal.imageQuality(table(s, dir, "documents"))),
      graft.pipeline.MultiModal.imageQualityOracle),
    QuerySpec("ann_cosine_topk", ((s, dir) =>
      graft.pipeline.Ann.cosineTopK(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annCosineTopK),
    // contrastive TRIPLET mining (anchor, exact top-1 positive, hardest
    // semi-hard negative ≥ margin below) — the embedding-model
    // training-data operator; eval-slice exact baseline, IVF-restricted
    // at corpus scale (the family's standard pattern)
    QuerySpec("ann_triplets", ((s, dir) =>
      graft.pipeline.Ann.contrastiveTriplets(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annContrastiveTriplets),
    QuerySpec("ann_lsh_buckets", ((s, dir) =>
      graft.pipeline.Ann.lshBuckets(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annLshBuckets),
    QuerySpec("ann_lsh_topk", ((s, dir) =>
      graft.pipeline.Ann.lshTopK(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annLshTopK),
    // the recall/cost dial on the same hash family: each query also
    // probes its (planes) Hamming-1 buckets — explode on the broadcast
    // side only; the corpus never leaves its single bucket
    QuerySpec("ann_lsh_multiprobe", ((s, dir) =>
      graft.pipeline.Ann.lshMultiprobeTopK(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annLshMultiprobeTopK),
    QuerySpec("ann_ivf_topk", ((s, dir) =>
      graft.pipeline.Ann.ivfTopK(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annIvfTopK),
    // TRAIN ONCE, STORE, SERVE WITHOUT RETRAINING: the trained centroid
    // book persisted as a versioned artifact (VersionedSnapshot:
    // _SUCCESS-gated versions behind the __latest pointer), restored in
    // a FRESH session, and served — results must equal the in-session
    // index to the bit (same oracle as ann_ivf_topk)
    QuerySpec("ann_ivf_persist", ((s, dir) =>
      graft.pipeline.Ann.ivfPersistServe(table(s, dir, "embeddings"),
        scratch(dir, "ivfpersist"))),
      graft.pipeline.Oracles.annIvfTopK),
    // product-quantization ADC scan: trained per-subspace codebooks
    // inlined as literals — encode+score is a zero-join narrow map
    QuerySpec("ann_pq_topk", ((s, dir) =>
      graft.pipeline.Ann.pqTopK(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annPqTopK),
    // the PQ half of train-once/store/serve: the trained per-subspace
    // codebooks persisted as one versioned artifact, restored in a
    // fresh session, served without retraining (same oracle as
    // ann_pq_topk — the claim is bit-equality)
    QuerySpec("ann_pq_persist", ((s, dir) =>
      graft.pipeline.Ann.pqPersistServe(table(s, dir, "embeddings"),
        scratch(dir, "pqpersist"))),
      graft.pipeline.Oracles.annPqTopK),
    // IVF × PQ composed: coarse cell restricts the probe, ADC over PQ
    // codes scores within it — the production ANN shape at corpus scale
    // IVF cell-balance census (faiss imbalance_factor): the expected
    // probe-cost multiplier from cell skew — exact integer sizes + one
    // fixed IEEE expression, so the planning statistic itself
    // hash-checks
    // semantic DECONTAMINATION (the cosine sibling of the n-gram
    // contamination gate): paraphrased eval items that n-grams miss;
    // same-cell candidates only (bounded), bench side broadcasts
    QuerySpec("dedup_semantic_contamination", ((s, dir) =>
      graft.pipeline.Ann.semanticContamination(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annSemanticContamination(
        graft.pipeline.Ann.BenchSetSize, graft.pipeline.Ann.SemanticEps)),
    // IVF MULTI-PROBE (nprobe=2): the recall/cost dial — queries search
    // their 2 nearest cells (same dist² chain ranks centroids), so a
    // true neighbor just across a Voronoi boundary recovers; cost is
    // exactly nprobe× the single-probe scan
    QuerySpec("ann_ivf_nprobe", ((s, dir) =>
      graft.pipeline.Ann.ivfNprobeTopK(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annIvfNprobe()),
    // INCREMENTAL IVF MAINTENANCE: a new batch assigned to the FROZEN
    // base-trained centroids (O(batch) narrow map, no retrain) plus the
    // per-cell drift²-triggered retrain flag — the arrival path of a
    // live vector index; per-new-vector output pins every assignment
    // and every flag against DuckDB's re-derivation
    QuerySpec("ann_ivf_incremental", ((s, dir) =>
      graft.pipeline.Ann.ivfIncremental(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annIvfIncremental()),
    // the live-index RESTART lifecycle composed: train on the base
    // slice, publish the book through the versioned store, restore in
    // a FRESH session, ingest the new batch against the RESTORED
    // frozen centroids (same oracle as ann_ivf_incremental — one
    // perturbed centroid bit would flip an assignment or drift digit)
    QuerySpec("ann_ivf_persist_incr", ((s, dir) =>
      graft.pipeline.Ann.ivfPersistIncremental(table(s, dir, "embeddings"),
        scratch(dir, "ivfpersistincr"))),
      graft.pipeline.Oracles.annIvfIncremental()),
    QuerySpec("ann_ivf_balance", ((s, dir) =>
      graft.pipeline.Ann.ivfBalance(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annIvfBalance),
    QuerySpec("ann_ivfpq_topk", ((s, dir) =>
      graft.pipeline.Ann.ivfPqTopK(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annIvfPqTopK),
    // ANN quality eval: bucketed-LSH top-1 recall against the exact
    // top-k — the harness a production deployment runs before trusting
    // an approximate path
    QuerySpec("ann_lsh_recall", ((s, dir) =>
      graft.pipeline.Ann.lshRecall(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annLshRecall),
    // same family through the same harness: the recall delta vs
    // ann_lsh_recall is exactly what the Hamming-1 probes buy
    QuerySpec("ann_multiprobe_recall", ((s, dir) =>
      graft.pipeline.Ann.lshMultiprobeRecall(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annLshMultiprobeRecall),
    // the same harness over the composed IVF x PQ production path
    QuerySpec("ann_ivfpq_recall", ((s, dir) =>
      graft.pipeline.Ann.ivfPqRecall(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annIvfPqRecall),
    // binary-quantized search: brute Hamming top-k over 64-bit sign
    // signatures (8 bytes/vector — the memory-bandwidth scale path; a
    // 100 TB float corpus scans as ~3 TB of signatures)
    QuerySpec("ann_hamming_topk", ((s, dir) =>
      graft.pipeline.Ann.hammingTopK(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annHammingTopK),
    // the production binary-quantization pattern measured: Hamming
    // shortlist + exact-cosine rerank, scored edge-for-edge against the
    // exact top-k (denominator = the full truth set)
    QuerySpec("ann_hamming_rerank", ((s, dir) =>
      graft.pipeline.Ann.hammingRecall(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annHammingRecall),
    // the harness over DIMENSION TRUNCATION (Matryoshka retrieval):
    // does the TruncDims-of-64-dim (48) prefix top-1 land in the full
    // top-k? — the eval that justifies shipping truncated embeddings
    // (less arithmetic/memory per comparison)
    QuerySpec("ann_truncated_recall", ((s, dir) =>
      graft.pipeline.Ann.truncatedRecall(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.annTruncatedRecall(graft.pipeline.Ann.TruncDims)),
    // contrastive hard-negative mining: per query, the top-k most
    // similar vectors with a DIFFERENT label — the confusable
    // non-matches whose gradients move an embedding model; mismatch
    // predicate prunes in the join, before any similarity arithmetic
    QuerySpec("emb_hard_negatives", ((s, dir) =>
      graft.pipeline.Ann.hardNegatives(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.embHardNegatives),
    // filtered vector search: exact top-k over the label=3 corpus slice,
    // predicate pushed into the scan (pre-filter, never post-filter)
    QuerySpec("ann_filtered_topk", ((s, dir) =>
      graft.pipeline.Ann.filteredCosineTopK(table(s, dir, "embeddings"),
        col("label") === graft.pipeline.Ann.FilterLabel)),
      graft.pipeline.Oracles.annFilteredTopK(graft.pipeline.Ann.FilterLabel)),
    // per-label centroid outliers in exact fixed-point arithmetic — the
    // embedding-space QA sweep (mislabeled/corrupted cluster members)
    QuerySpec("emb_centroid_outliers", ((s, dir) =>
      graft.pipeline.Embeddings.centroidOutliers(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.embCentroidOutliers(
        graft.pipeline.Embeddings.OutlierTopK)),
    // per-label centroid drift between the even/odd corpus halves — the
    // snapshot-to-snapshot embedding monitor; exact-integer end to end
    // (quantize → long sums → truncating-div mean → integer drift²),
    // ONE map-side-combinable aggregate
    QuerySpec("emb_centroid_drift", ((s, dir) =>
      graft.pipeline.Embeddings.centroidDrift(table(s, dir, "embeddings"))),
      graft.pipeline.Embeddings.centroidDriftOracle()),
    // exact-integer Gram matrix (PCA/whitening prep): order-independent
    // quantized second moments, one combinable aggregation into Dim²/2
    QuerySpec("emb_gram", ((s, dir) =>
      graft.pipeline.Embeddings.gramMatrix(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.embGramMatrix),
    // whitening applied (the emb_gram consumer): exact-integer moments →
    // fixed-order unrolled Cholesky → per-row forward substitution, all
    // in-plan — bit-identical IEEE chains on both engines, so DuckDB
    // checks a linear-algebra transform it cannot eigendecompose. One
    // 15-sum aggregation + a 1-row broadcast + a narrow map.
    QuerySpec("emb_whiten", ((s, dir) =>
      graft.pipeline.Embeddings.whiten(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.embWhiten),
    QuerySpec("dedup_embedding_pairs", ((s, dir) =>
      graft.pipeline.Ann.embeddingPairs(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.dedupEmbeddingPairs),
    // SemDeDup-shaped semantic dedup: trained k-means cells restrict
    // candidate generation; within a cell the EARLIEST eps-cosine
    // neighbor supersedes (keeper_id = vec_id marks the kept rows)
    QuerySpec("dedup_semantic", ((s, dir) =>
      graft.pipeline.Ann.semanticDedup(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.dedupSemantic),
    // per-document top terms by log-free tf-idf (term extraction)
    QuerySpec("text_tfidf", ((s, dir) =>
      graft.pipeline.TextPipeline.tfidfTopTerms(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.textTfidfTopK(
        graft.pipeline.TextPipeline.TfidfTopK,
        graft.pipeline.TextPipeline.Tokenizer.Whitespace)),
    // RAG-style sliding token windows: 32-token chunks every 24 tokens
    QuerySpec("text_chunks", ((s, dir) =>
      graft.pipeline.TextPipeline.chunkTokens(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.textChunks(
        graft.pipeline.TextPipeline.ChunkWindow, graft.pipeline.TextPipeline.ChunkStride,
        graft.pipeline.TextPipeline.Tokenizer.Whitespace)),
    // content-defined chunking (Rabin/FastCDC at word granularity):
    // boundaries from a local rolling-window hash, so edits re-cut ONE
    // chunk and later boundaries resynchronize (unlike fixed segments);
    // per-doc duplicated-chunk ratio = the shift-robust boilerplate
    // measure; chunks travel as digests only
    QuerySpec("text_cdc_chunks", ((s, dir) =>
      graft.pipeline.TextPipeline.cdcChunks(table(s, dir, "documents"),
        "doc_id", "text")),
      graft.pipeline.TextPipeline.cdcChunksOracle(
        "documents", "doc_id", "text")),
    // the named Gopher rule set (explicit boolean verdicts, vs the
    // blended quality score)
    QuerySpec("text_gopher_rules", ((s, dir) =>
      graft.pipeline.TextPipeline.gopherRules(table(s, dir, "documents"),
        "doc_id", "text")),
      graft.pipeline.Oracles.textGopherRules(
        graft.pipeline.TextPipeline.GopherMinWords,
        graft.pipeline.TextPipeline.GopherMaxWords,
        graft.pipeline.TextPipeline.GopherMinMeanLen,
        graft.pipeline.TextPipeline.GopherMaxMeanLen,
        graft.pipeline.TextPipeline.GopherMinAlphaFrac,
        graft.pipeline.TextPipeline.GopherMinStops)),
    // soft dedup: duplicated content down-weighted (1/cluster-size)
    // instead of dropped — the loss-scaling alternative policy
    QuerySpec("dedup_weights", ((s, dir) =>
      graft.pipeline.Dedup.softDedupWeights(table(s, dir, "documents"),
        "doc_id", "text")),
      graft.pipeline.Oracles.dedupWeights),
    // winnowing fingerprints (MOSS-style): every w-gram window selects
    // its min hash — guaranteed-coverage local-similarity sketch
    QuerySpec("text_winnow", ((s, dir) =>
      graft.pipeline.TextPipeline.winnowFingerprints(
        table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.textWinnow(
        3, graft.pipeline.TextPipeline.WinnowW)),
    // cross-document duplicated 6-gram spans (substring-dup detection)
    QuerySpec("dedup_dup_spans", ((s, dir) =>
      graft.pipeline.Dedup.dupNgramSpans(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.dedupDupNgramSpans(
        graft.pipeline.Dedup.DupSpanN, graft.pipeline.Dedup.DupSpanTopK)),
    // source-overlap matrix: how many content keys each PAIR of sources
    // shares — the crawl-dedup planning diagnostic (which feeds
    // overlap-aware source weighting). The key is the md5 of the
    // IncrementalPrefixLen-char prefix (the dedup_incremental content
    // identity — collision-rich on template corpora). One distinct on
    // (key, source), one self-equi-join on the digest (never all-pairs:
    // candidates only from shared keys), one count
    QuerySpec("dedup_source_overlap", ((s, dir) => {
      val fp = table(s, dir, "documents")
        .select(md5(substring(col("text"), 1, IncrementalPrefixLen)).as("k"),
          col("source")).distinct()
      fp.select(col("k"), col("source").as("source_a"))
        .join(fp.select(col("k").as("k_b"), col("source").as("source_b")),
          col("k") === col("k_b") && col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared"))
    }),
      s"""WITH fp AS (SELECT DISTINCT
         |    md5(substr(text, 1, $IncrementalPrefixLen)) AS k, source
         |  FROM documents)
         |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
         |FROM fp a JOIN fp b ON a.k = b.k AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin),
    // ...and the matching fix: excise every globally-duplicated span
    QuerySpec("dedup_excise_spans", ((s, dir) =>
      graft.pipeline.Dedup.exciseDupSpans(table(s, dir, "documents"), "doc_id", "text")),
      graft.pipeline.Oracles.dedupExciseSpans(
        graft.pipeline.Dedup.DupSpanN)),
    // α=0.5 temperature mixing over the (skewed) language distribution
    QuerySpec("sample_temperature", ((s, dir) =>
      graft.pipeline.Sampling.temperatureMix(table(s, dir, "documents"), "doc_id", "lang")),
      graft.pipeline.Oracles.sampleTemperatureMix(
        graft.pipeline.Sampling.DefaultSalt)),
    // Unicode NFC normalization via the native codegen'd expression —
    // stays inside whole-stage codegen (a UDF would break the stage)
    QuerySpec("text_normalize_nfc", ((s, dir) => {
      val t = table(s, dir, "documents")
      val n = graft.functions.Functions.nfc(s, col("text"))
      t.select(col("doc_id"), n.as("nfc_text"), (n =!= col("text")).as("changed"))
    }),
      ("SELECT doc_id, nfc_normalize(text) AS nfc_text, " +
        "nfc_normalize(text) <> text AS changed FROM documents")),
    // quality-weighted Bernoulli keep (p ∝ n_chars), integer-exact gate
    QuerySpec("sample_weighted", ((s, dir) =>
      graft.pipeline.Sampling.weightedBernoulli(
        table(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        "doc_id", "n_chars")),
      graft.pipeline.Oracles.sampleWeighted(graft.pipeline.Sampling.DefaultSalt)),
    // deterministic sharded training order (the scalable global shuffle)
    QuerySpec("split_shuffle_order", ((s, dir) =>
      graft.pipeline.Splits.shuffleOrder(table(s, dir, "documents"), "doc_id")),
      graft.pipeline.Oracles.splitShuffleOrder(
        graft.pipeline.Splits.NumShards, graft.pipeline.Splits.DefaultSalt)),
    // int8 symmetric quantization of the embedding column; the code
    // vector is rendered as a CSV string for the harness (the oracle
    // comparator sorts output columns — a raw array column is not
    // sortable there), pinning every code exactly, not just the L1
    QuerySpec("emb_quantize", ((s, dir) =>
      graft.pipeline.Embeddings.quantizeInt8(table(s, dir, "embeddings"))
        .withColumn("codes",
          array_join(transform(col("codes"), c => c.cast("string")), ","))),
      graft.pipeline.Oracles.embQuantizeInt8),
    // IVF-restricted k-NN graph: per vector its 3 nearest same-cell
    // neighbors by exact cosine (total-ordered rank) — the neighborhood
    // structure clustering/diversity sampling starts from; the cell
    // equi-join is what keeps the build linear-ish at corpus scale
    QuerySpec("emb_knn_graph", ((s, dir) =>
      graft.pipeline.Ann.knnGraph(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.embKnnGraph),
    // semantic clustering via the MUTUAL-kNN graph: reciprocated edges
    // only (the standard hub-denoising), connected components, size
    // histogram with singletons — the deterministic semantic-grouping
    // pass over an embedded corpus
    QuerySpec("emb_semantic_clusters", ((s, dir) =>
      graft.pipeline.Ann.semanticClusters(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.embSemanticClusters),
    // kNN-graph recall: exact brute-force top-k truth for the query
    // slice vs the cell-restricted graph — what the IVF restriction
    // loses, measured before clustering consumes the graph
    QuerySpec("emb_knn_recall", ((s, dir) =>
      graft.pipeline.Ann.knnRecall(table(s, dir, "embeddings"))),
      graft.pipeline.Oracles.embKnnRecall),
    // RAG-style retrieval: exact ANN top-k joined back to the document
    // payloads (vec_id ↔ doc_id) — the cross-modal fetch step of a
    // retrieval pipeline; at scale the payload join is the cheap part
    // (k·queries rows against a bucketed documents table)
    QuerySpec("rag_retrieve", ((s, dir) =>
      ragRetrieve(table(s, dir, "embeddings"), table(s, dir, "documents"))),
      s"""WITH topk AS (${graft.pipeline.Oracles.annCosineTopK})
         |SELECT t.query_id, t.vec_id, t.sim, d.lang, md5(d.text) AS text_md5, d.n_chars
         |FROM topk t JOIN documents d ON d.doc_id = t.vec_id""".stripMargin),
    // incremental-ingest dedup: every 5th doc arrives as the "new batch",
    // keyed on the leading-60-char content prefix (collides on testdata)
    QuerySpec("dedup_incremental", ((s, dir) =>
      incrementalNewDocs(table(s, dir, "documents"))),
      graft.pipeline.Oracles.dedupIncremental(IncrementalPrefixLen)),
    // incremental NEAR-dup admission: new batch (doc_id % 5 = 0) vs the
    // index side's MinHash band table — any band collision flags the doc
    QuerySpec("dedup_incremental_near", ((s, dir) => {
      val d = table(s, dir, "documents")
      graft.pipeline.Dedup.incrementalNearDup(
        d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
    }),
      graft.pipeline.Oracles.dedupIncrementalNear),
    // lossless prefix-filtered similarity join: same pairs as the full
    // inverted index at t=0.5, from a rarest-first prefix index roughly
    // half the size (AllPairs/SSJoin candidate reduction)
    QuerySpec("dedup_prefix_pairs", ((s, dir) =>
      graft.pipeline.Dedup.prefixFilterPairs(table(s, dir, "documents"),
        "doc_id", "text")),
      graft.pipeline.Oracles.dedupPrefixPairs(
        graft.pipeline.Dedup.JaccardThreshold)),
    // LSH geometry eval: band-collision candidates vs exact-Jaccard
    // ground truth (recall/precision of the 8x3 banding at the shared
    // threshold) — run on a slice before gating a corpus on it
    QuerySpec("dedup_minhash_recall", ((s, dir) =>
      graft.pipeline.Dedup.minhashRecall(table(s, dir, "documents"),
        "doc_id", "text")),
      graft.pipeline.Oracles.dedupMinhashRecall(
        graft.pipeline.Dedup.JaccardThreshold)),
    // the SimHash twin: the Hamming gate (pigeonhole-exact within the
    // radius) scored against the SAME exact-Jaccard truth — how well a
    // 64-bit token fingerprint at radius 3 proxies shingle Jaccard on
    // this corpus; tunes the two fingerprint families side by side
    QuerySpec("dedup_simhash_recall", ((s, dir) =>
      graft.pipeline.Dedup.simhashRecall(table(s, dir, "documents"),
        "doc_id", "text")),
      graft.pipeline.Oracles.dedupSimhashRecall(
        graft.pipeline.Dedup.JaccardThreshold)),
    // per-doc corpus novelty: fraction of the doc's shingles first
    // seen IN this doc (ingest order) — the memorization/template
    // signal a mixture can down-weight; no pair generation, just the
    // gram min-agg + one join
    QuerySpec("dedup_novelty", ((s, dir) =>
      graft.pipeline.Dedup.noveltyPerDoc(table(s, dir, "documents"),
        "doc_id", "text")),
      graft.pipeline.Oracles.dedupNovelty),
    // threshold tuning curve: co-shingle pairs bucketed by INTEGER
    // Jaccard decile ((10*inter) div union — no float boundary), with
    // the cumulative pairs-at-or-above count: "what would a gate at
    // d/10 collapse" read directly off ≤11 rows
    QuerySpec("dedup_threshold_sweep", ((s, dir) =>
      graft.pipeline.Dedup.jaccardThresholdSweep(table(s, dir, "documents"),
        "doc_id", "text")),
      graft.pipeline.Oracles.dedupThresholdSweep),
    // leakage-safe split: the split gate hashes the near-dup CLUSTER
    // label, not the doc id — a near-duplicate of a training document
    // can never land in val/test (the contamination channel a plain
    // per-doc split leaves open)
    QuerySpec("split_leakage_safe", ((s, dir) => {
      val docs = table(s, dir, "documents")
      val clusters = graft.pipeline.Dedup.nearDupClusters(docs, "doc_id", "text")
      graft.pipeline.Splits.hashSplit(clusters, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("bucket"), col("split"))
    }),
      graft.pipeline.Oracles.splitLeakageSafe),
  )
}
