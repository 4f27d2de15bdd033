package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators, each in the formulation that survives 100 TB:
  *
  *  - exact dedup: hash-groupBy — one shuffle on the group key with
  *    map-side partial aggregation, the canonical Spark reduction;
  *  - MinHash + banded LSH near-dup: shingle → signature (narrow map) →
  *    band explode → equi-join on (band, hash) — candidate generation is
  *    a BUCKETED shuffle whose cost is Σ bucket² over colliding buckets,
  *    never the |docs|² cross product;
  *  - n-gram Jaccard: inverted-index formulation — explode shingles, join
  *    on the shingle value, count co-occurrences — again an equi-join
  *    shuffle keyed by content, with the standard hot-key caveat (a
  *    stop-shingle frequency cap bounds the worst bucket; not applied
  *    here because the oracle must see the exact result).
  */
object Dedup {
  /** MinHash/LSH geometry, shared with the DuckDB oracle ([[Oracles]]):
    * 24 hashes = 8 bands × 3 rows. P(candidate | J) = 1-(1-J³)⁸, i.e.
    * ~0.03 at J=0.2 and ~0.997 at J=0.8 — an aggressive near-dup sieve. */
  val NumHashes = 24
  val NumBands = 8
  val RowsPerBand = 3
  val ShingleN = 3
  /** Verification threshold for reported near-dup pairs. */
  val JaccardThreshold = 0.5
  /** Duplicated-span grid: window length (tokens) and report size for
    * [[dupNgramSpans]]. n=6 ≈ a clause — long enough that a shared gram
    * is verbatim reuse, short enough to catch partial-sentence reuse. */
  val DupSpanN = 6
  val DupSpanTopK = 50

  /** Tunable MinHash/LSH geometry; the object's vals are the defaults the
    * oracle suite pins. At real scale, band/row counts tune the
    * candidate-probability curve and `shingleN` the granularity — all
    * plumbed through every stage so a non-default geometry is a config
    * value, not a code change. */
  final case class LshConfig(
      numHashes: Int = NumHashes,
      numBands: Int = NumBands,
      rowsPerBand: Int = RowsPerBand,
      shingleN: Int = ShingleN,
      jaccardThreshold: Double = JaccardThreshold,
      maxBandBucket: Option[Int] = None) {
    require(numHashes == numBands * rowsPerBand,
      s"numHashes ($numHashes) must equal numBands*rowsPerBand (${numBands * rowsPerBand})")
    require(maxBandBucket.forall(_ >= 2), "maxBandBucket below 2 drops every candidate")
  }

  /** Exact dedup by content: one surviving row per distinct key (min id),
    * with the multiplicity that a pure dedup would drop. The group key is
    * the 256-bit digest of the key column, not the raw value — at 100 TB
    * the shuffle carries 32-byte keys instead of documents; the output
    * (id, multiplicity) is identical since the digest is injective on
    * honest data. */
  def exact(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    balanced(df)
      .groupBy(sha2(col(keyCol).cast("string"), 256).as("__key"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** Exact dedup keyed by the engine's content-addressed row hash
    * (graft.hashing canonical encoding → sha-256, the same identity that
    * names tuples in the storage/DCL layer — SURVEY.md §1.3). Grouping by
    * a 256-bit digest instead of the raw key columns is the 100 TB
    * formulation: the shuffle carries 32-byte keys, not documents. */
  def exactByRowHash(df: DataFrame, idCol: String, relName: String,
      keyCols: Seq[String]): DataFrame = {
    val struct = org.apache.spark.sql.types.StructType(keyCols.map(c => df.schema(c)))
    balanced(df).withColumn("content_hash", graft.hashing.Hashing.rowHashCol(relName, struct))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col("content_hash"), col(idCol), col("n_copies"))
  }

  /** Balance a tiny input across the cluster before map-heavy hash
    * stages (delegates to the single shared helper — see
    * [[graft.core.Algebra.balanced]]). */
  private[pipeline] def balanced(df: DataFrame): DataFrame =
    graft.core.Algebra.balanced(df)

  /** doc → one row per DISTINCT shingle, via a typed flatMap (a JVM
    * closure beats interpreted higher-order-function eval on the hot
    * exploded path; the narrow map shape — no shuffle — is identical).
    * Tokenization matches [[TextPipeline.tokens]] and the oracle:
    * trim + split on runs of whitespace. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = ShingleN): DataFrame = {
    val ss = df.sparkSession
    import ss.implicits._
    val n = shingleN
    balanced(df.select(col(idCol).cast("long"), col(textCol).cast("string"))).as[(Long, String)]
      .flatMap { p: (Long, String) =>
        val ws = p._2.trim.split("\\s+")
        if (ws.length < n) Iterator.empty[(Long, String)]
        else ws.sliding(n).map(_.mkString(" ")).toSet.iterator.map((s: String) => (p._1, s))
      }.toDF(idCol, "shingle")
  }

  /** doc → LSH band hashes (b0..b{NumBands-1}), one row per document.
    *
    * Formulated as explode → groupBy with NumHashes min-aggregates — each
    * (doc, shingle) row computes its seed hashes exactly once inside
    * whole-stage codegen, and the mins combine map-side before one
    * shuffle on doc id. (The tempting nested form — array_min over a
    * transform per signature slot — re-evaluates the whole signature per
    * band element because higher-order functions are codegen-fallback
    * with no subexpression elimination; measured minutes vs. seconds.)
    *
    * Precondition: documents have ≥ ShingleN tokens (the testdata
    * guarantees ≥ 10); shorter docs drop out at the explode. */
  def bandSignatures(df: DataFrame, idCol: String, textCol: String,
      cfg: LshConfig = LshConfig()): DataFrame =
    bandSignaturesFromRows(shingleRows(df, idCol, textCol, cfg.shingleN), idCol, cfg)

  /** Arithmetic MinHash family over the Mersenne prime p = 2³¹−1:
    * slot i of a shingle with base hash x is (aᵢ·x + bᵢ) mod p. One md5
    * per (doc, shingle) row derives x; the k permutations are fused
    * integer arithmetic inside codegen — k× cheaper than k independent
    * md5s per row, the textbook MinHash construction (Broder '97 §4).
    * Constants are deterministic functions of the slot index, shared
    * verbatim with the oracle SQL; aᵢ ≠ 0 because p is prime and
    * (2i+1)·1103515245 < p·p never hits a multiple of p for real i. */
  val MinhashP = 2147483647L
  def minhashA(i: Int): Long = ((2L * i + 1L) * 1103515245L) % MinhashP
  def minhashB(i: Int): Long = ((i + 1L) * 2654435761L) % MinhashP

  /** Band hashes from an existing (doc, shingle) row set — lets callers
    * share one shingle scan across the signature and verification arms.
    * The shingle's 60-bit base hash (15 hex chars of its md5) is computed
    * ONCE per row; each signature slot is a mod-p permutation of it
    * (min-combined map-side), and each band is the md5 of its
    * '|'-delimited slot values. */
  def bandSignaturesFromRows(ex: DataFrame, idCol: String,
      cfg: LshConfig = LshConfig()): DataFrame =
    bandSignaturesFromHashedRows(hashedShingleRows(ex, idCol), idCol, cfg)

  /** [[bandSignaturesFromRows]] over rows already keyed by the 60-bit
    * md5 ([[hashedShingleRows]]): the signature's base hash IS that key,
    * so callers that also verify (pairs/clusters/recall) hash each
    * shingle exactly once and ship only longs. */
  def bandSignaturesFromHashedRows(ex: DataFrame, idCol: String,
      cfg: LshConfig = LshConfig()): DataFrame = {
    val x = col("shingle") % MinhashP
    val minAggs = (0 until cfg.numHashes).map(i =>
      min((lit(minhashA(i)) * col("__x") + lit(minhashB(i))) % MinhashP).as(s"mh$i"))
    val sig = ex.withColumn("__x", x).groupBy(col(idCol)).agg(minAggs.head, minAggs.tail: _*)
    val bandCols = (0 until cfg.numBands).map { b =>
      md5(concat_ws("|",
        (0 until cfg.rowsPerBand).map(r => col(s"mh${b * cfg.rowsPerBand + r}").cast("string")): _*))
        .as(s"b$b")
    }
    sig.select(col(idCol) +: bandCols: _*)
  }

  /** Candidate pairs from band collisions: unpivot the band columns to
    * (band, hash) rows and self-equi-join — the bucketed formulation.
    *
    * `maxBandBucket` is the hot-bucket cap: a bucket shared by k
    * documents contributes k² candidate rows, so a degenerate band value
    * (boilerplate-heavy corpora produce them) can dominate the join. The
    * cap drops buckets larger than the bound before the self-join — the
    * same prefix-filter trade as [[jaccardPairs]]'s `maxShingleFreq`
    * (pairs whose ONLY collision was a capped bucket are missed; they
    * are overwhelmingly non-duplicates, and true near-dups collide in
    * several bands). None = exact, the oracle regime. */
  /** Wide band columns (b0..b{numBands-1}) → long (band, bh) rows — the
    * single source of the stack expression for the candidate self-join
    * and the incremental band-index join. */
  def bandRows(bandsDf: DataFrame, idCol: String,
      numBands: Int = NumBands): DataFrame = {
    val stackExpr = (0 until numBands).map(b => s"$b, b$b")
      .mkString(s"stack($numBands, ", ", ", ") AS (band, bh)")
    bandsDf.select(col(idCol), expr(stackExpr))
  }

  def minhashCandidates(bandsDf: DataFrame, idCol: String,
      numBands: Int = NumBands, maxBandBucket: Option[Int] = None): DataFrame = {
    val long0 = bandRows(bandsDf, idCol, numBands)
    val long = maxBandBucket match {
      case None => long0
      case Some(cap) =>
        val ok = long0.groupBy(col("band"), col("bh")).agg(count(lit(1)).as("__k"))
          .filter(col("__k") <= cap).select(col("band"), col("bh"))
        long0.join(ok, Seq("band", "bh"), "left_semi")
    }
    val a = long.alias("a")
    val b = long.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
  }

  /** Verify candidates with exact Jaccard over the shingle sets and keep
    * pairs at/above the threshold. The shingle-set join is two hash joins
    * on doc id (broadcastable when the candidate set is small). */
  def jaccardVerify(cands: DataFrame, sets: DataFrame, idCol: String,
      threshold: Double = JaccardThreshold): DataFrame = {
    val sa = sets.select(col(idCol).as("doc_a"), col("sh").as("sh_a"))
    val sb = sets.select(col(idCol).as("doc_b"), col("sh").as("sh_b"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → bucket
    * join → Jaccard verify. The (doc, shingle) row set is computed once
    * and persisted — it feeds the signature arm and both sides of the
    * verify join, and Spark's exchange reuse cannot unify
    * independently-built flatMap subtrees. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      cfg: LshConfig = LshConfig()): DataFrame = {
    // MEMORY_AND_DISK: the row set feeds the signature arm and both
    // sides of the verification join (measured 3× end-to-end without
    // it). Entries live until LRU eviction or session clearCache — the
    // standard Spark trade for a multi-consumer intermediate.
    val rows = hashedShingleRows(shingleRows(df, idCol, textCol, cfg.shingleN), idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    nearDupPairsFromIndex(rows, idCol, cfg)
  }

  /** [[nearDupPairs]] from an existing hashed-shingle index (the scale
    * probes' entry): signatures, band collisions, and exact-Jaccard
    * verification — all the scale-sensitive machinery — from the index
    * down. Callers should persist `rows` (it feeds the signature arm and
    * both verification sides). */
  def nearDupPairsFromIndex(rows: DataFrame, idCol: String,
      cfg: LshConfig = LshConfig()): DataFrame = {
    val sets = rows.groupBy(col(idCol)).agg(collect_set(col("shingle")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    jaccardVerify(
      minhashCandidates(bandSignaturesFromHashedRows(rows, idCol, cfg), idCol,
        cfg.numBands, cfg.maxBandBucket),
      sets, idCol, cfg.jaccardThreshold)
  }

  /** SimHash near-dup pairs via block banding (Manku, Jain & Sarma,
    * WWW'07): split the 64-bit fingerprint into 4 blocks of 16 bits; any
    * pair within Hamming distance ≤ 3 agrees on at least one whole block
    * (pigeonhole), so candidates come from an equi-join on
    * (block_idx, block_value) — bucketed, never all-pairs — and are then
    * verified with an exact per-nibble XOR popcount. */
  val MaxHamming = 3
  val SimhashBlocks = 4

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = MaxHamming, blocks: Int = SimhashBlocks): DataFrame = {
    // pigeonhole: a pair within maxHamming bits must agree on one of
    // blocks > maxHamming equal slices of the 64-bit fingerprint
    require(blocks > maxHamming && 64 % blocks == 0,
      s"need blocks ($blocks) > maxHamming ($maxHamming) and blocks | 64")
    val nibbles = 16 / blocks // hex chars per block
    // hex → two 32-bit halves ONCE per document, so the per-pair Hamming
    // check in the (potentially hot) bucket join is two XOR+popcounts on
    // longs instead of 32 per-nibble string conversions.
    val fp = TextPipeline.simhash(df, idCol, textCol)
      .withColumn("hi", conv(substring(col("simhash"), 1, 8), 16, 10).cast("long"))
      .withColumn("lo", conv(substring(col("simhash"), 9, 8), 16, 10).cast("long"))
    val blockCols = (0 until blocks).map(b =>
      substring(col("simhash"), 1 + nibbles * b, nibbles).as(s"blk$b"))
    val blocksDf = fp.select(Seq(col(idCol), col("hi"), col("lo")) ++ blockCols: _*)
    val stackExpr = (0 until blocks).map(b => s"$b, blk$b")
      .mkString(s"stack($blocks, ", ", ", ") AS (blk, blockv)")
    val long = blocksDf.select(col(idCol), col("hi"), col("lo"), expr(stackExpr))
    val a = long.alias("a")
    val b = long.alias("b")
    val hamming = (bit_count(col("a.hi").bitwiseXOR(col("b.hi"))) +
      bit_count(col("a.lo").bitwiseXOR(col("b.lo")))).cast("long")
    // Hamming filter BEFORE the pair-dedup: hot buckets generate the
    // bulk of candidate rows, and filtering in the join's output stage
    // means the distinct() shuffle only carries surviving pairs.
    a.join(b, col("a.blk") === col("b.blk") && col("a.blockv") === col("b.blockv") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"), col("hamming"))
      .distinct()
  }

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minOverlap` distinct word n-grams with a benchmark document —
    * the standard eval-contamination sweep before training. The
    * formulation is the inverted-index equi-join on the shingle value
    * (one shuffle keyed by content, like [[jaccardPairs]]), never a
    * corpus × benchmark product; the benchmark side is tiny in practice
    * and broadcastable. Returns (corpus id, benchmark id, shared-gram
    * count) for every flagged pair. */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      minOverlap: Int = 2, shingleN: Int = ShingleN): DataFrame = {
    val c = hashedShingleRows(shingleRows(corpus, idCol, textCol, shingleN), idCol)
    val b = hashedShingleRows(shingleRows(bench, idCol, textCol, shingleN), idCol)
      .select(col(idCol).as("bench_id"), col("shingle"))
    c.join(b, "shingle")
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /** Near-duplicate CLUSTERS: connected components over the verified
    * LSH pair graph, labeling every document (singletons included) with
    * the smallest doc id reachable through near-dup pairs — the group
    * key a "keep one per cluster" training-data policy needs, where
    * pairwise output alone under-merges transitive chains (A~B, B~C but
    * A≁C must still collapse to one cluster). */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
      cfg: LshConfig = LshConfig(), maxIter: Int = 50): DataFrame =
    clustersFromPairs(df.select(col(idCol)), nearDupPairs(df, idCol, textCol, cfg),
      idCol, maxIter)

  /** Soft dedup — the down-weighting alternative to dropping (the
    * SoftDeDup idea: duplicated content contributes less training
    * signal instead of none): every document carries its near-dup
    * cluster label, the cluster size, and weight = 1/size, so a
    * training pipeline scales each example's loss instead of excising
    * it. Singleton docs keep weight 1. One count aggregate over the
    * cluster labels joined back on the label — cost ≡ the clustering
    * itself. */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String,
      cfg: LshConfig = LshConfig()): DataFrame = {
    val cl = nearDupClusters(df, idCol, textCol, cfg)
    val sz = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
    cl.join(sz, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("n_members"),
        round(lit(1.0) / col("n_members"), 4).as("weight"))
  }

  /** Canonical-keeper selection — the curation step AFTER clustering: for
    * each near-dup cluster keep the highest-quality member (ties by
    * smallest id), reporting the cluster size. "Keep the best copy, drop
    * the rest" is the standard dedup policy for training corpora (keeping
    * min-id instead silently prefers whichever shard was crawled first).
    *
    * Shape: clusters (the hybrid component labeling) ⋈ per-doc quality
    * scores, then ONE min(struct) hash aggregate per cluster — argmax by
    * (score desc, id asc) with no window sort. */
  def canonicalKeepers(df: DataFrame, idCol: String, textCol: String,
      cfg: LshConfig = LshConfig()): DataFrame = {
    val clusters = nearDupClusters(df, idCol, textCol, cfg)
    val scored = TextPipeline.quality(df, idCol, textCol)
      .select(col(idCol), col("score"))
    clusters.join(scored, Seq(idCol))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        min(struct((-col("score")).as("ns"), col(idCol).as("id"))).as("__m"))
      .select(col("cluster_id"), col("__m.id").as("keeper_id"),
        col("n_members"), (-col("__m.ns")).as("keeper_score"))
  }

  /** Connected components over the pair graph. Distributed path:
    * [[graft.operators.Components]] — large-star/small-star alternation
    * (O(log² n) rounds on ANY topology, where plain min-label
    * propagation pays one round per unit of component diameter).
    * Throws if `maxIter` rounds don't reach fixpoint: a truncated
    * contraction silently mislabels.
    *
    * Hybrid regime: a pair set with long ids that fits under
    * `localThreshold` resolves by exact driver union-find instead
    * (one collect + one broadcast join-back — no iteration jobs),
    * mirroring the engine's Local/Dist extension split. */
  def clustersFromPairs(nodes: DataFrame, pairs: DataFrame, idCol: String,
      maxIter: Int = 50, localThreshold: Int = 100000): DataFrame = {
    // hybrid regime, mirroring Engine.LocalThreshold: a pair set small
    // enough to hold on the driver (the common case — dup pairs are a
    // sliver of the corpus) resolves by exact union-find in one collect
    // + one broadcast join-back, instead of ~2 jobs per propagation
    // round; a larger graph takes the distributed fixpoint below
    val longIds = Seq("doc_a", "doc_b").forall(c =>
      pairs.schema(c).dataType == org.apache.spark.sql.types.LongType)
    val probe =
      if (longIds) pairs.select(col("doc_a"), col("doc_b")).limit(localThreshold + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (longIds && probe.length <= localThreshold) {
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      for (row <- probe) {
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { // keep the smaller id as root: root = min of component
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val labels = probe.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
        .map(id => (id, find(id)))
      val ss = nodes.sparkSession
      import ss.implicits._
      val labelDf = labels.toSeq.toDF(idCol, "__cc")
      return nodes.select(col(idCol)).distinct()
        .join(org.apache.spark.sql.functions.broadcast(labelDf), Seq(idCol), "left_outer")
        .select(col(idCol), coalesce(col("__cc"), col(idCol)).as("cluster_id"))
    }
    graft.operators.Components.labels(nodes, pairs, idCol, maxIter = maxIter)
  }

  /** Boilerplate block for the `dedup_skew_capped` scenario: appended to
    * EVERY document in-plan, it turns each of its word 3-grams into a
    * stop-shingle with corpus-wide document frequency — the adversarial
    * skew (license footers, nav bars, cookie banners) the posting cap
    * exists for. Single-sourced with the oracle SQL. Keep it
    * single-quote-free (it is spliced into DuckDB string literals). */
  val SkewBoiler: String =
    "all rights reserved terms of service apply contact support for assistance unsubscribe at any time"

  /** Posting cap for `dedup_skew_capped` — far below the corpus size, so
    * every boilerplate shingle drops while genuine near-dup overlap
    * (document frequency ~2) survives. */
  val SkewCapFreq = 16

  /** Shared candidate generation for [[jaccardPairs]] /
    * [[containmentPairs]]: inverted-index co-occurrence counts
    * (doc_a, doc_b, inter) over shared shingles, a < b canon — never
    * all-pairs. `maxShingleFreq` is the hot-shingle cap: a stop-shingle
    * (boilerplate, markup) shared by k docs contributes k² join rows, so
    * at real scale cap the inverted-index posting length (the standard
    * prefix-filter trade: slightly underestimates overlap for pairs
    * whose only shared shingles were capped). None = exact, the default
    * oracle regime; `dedup_skew_capped` oracles the capped path.
    * Public so the skew-guard spec can assert candidate-count bounds
    * directly. */
  def shingleCandidates(inv: DataFrame, idCol: String,
      maxShingleFreq: Option[Int]): DataFrame = {
    val postings = maxShingleFreq match {
      case None => inv
      case Some(cap) =>
        val freq = inv.groupBy(col("shingle")).agg(count(lit(1)).as("__f"))
        inv.join(freq.filter(col("__f") <= cap).select(col("shingle")), Seq("shingle"), "left_semi")
    }
    val a = postings.alias("a")
    val b = postings.alias("b")
    a.join(b, col("a.shingle") === col("b.shingle") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
  }

  /** (doc, shingle) rows re-keyed to the shingle's 60-bit md5 value:
    * every wide exchange downstream (posting-frequency agg, candidate
    * self-join, intersection count) ships 8-byte longs instead of
    * ~40-byte gram strings — the [[prefixFilterPairs]] move applied to
    * the whole inverted-index family. The oracle hashes identically, so
    * even a (cosmically unlikely) key collision agrees cross-engine. */
  def hashedShingleRows(rows: DataFrame, idCol: String): DataFrame =
    rows.select(col(idCol),
      conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long").as("shingle"))

  /** Exact n-gram Jaccard pairs via the inverted index: explode shingles,
    * self-join on the shingle key, count shared shingles per pair, then
    * J = |∩| / (|A| + |B| − |∩|). Reports pairs with J ≥ `threshold`. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.2, maxShingleFreq: Option[Int] = None,
      shingleN: Int = ShingleN): DataFrame =
    jaccardPairsFromIndex(
      hashedShingleRows(shingleRows(df, idCol, textCol, shingleN), idCol),
      idCol, threshold, maxShingleFreq)

  /** [[jaccardPairs]] from an existing hashed inverted index (distinct
    * (doc, shingle-key) rows) — the entry the scale probes and any
    * caller with a precomputed/persisted index use; everything
    * scale-sensitive (posting join, pair aggregation, verification)
    * lives below this point. */
  def jaccardPairsFromIndex(inv: DataFrame, idCol: String,
      threshold: Double = 0.2, maxShingleFreq: Option[Int] = None): DataFrame = {
    val sizes = inv.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val co = shingleCandidates(inv, idCol, maxShingleFreq)
    co.join(sizes.select(col(idCol).as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard", round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Asymmetric containment pairs: max(|A∩B|/|A|, |A∩B|/|B|) =
    * inter / min(|A|, |B|) over the shingle sets — the partial-copy
    * detector. Symmetric Jaccard structurally misses quotation: a
    * 100-token document fully embedded in a 10,000-token one scores
    * J ≈ 0.01 but containment 1.0, and it's exactly such engulfed
    * copies (boilerplate wrappers, aggregator pages, benchmark text
    * pasted into a long page) that leak through Jaccard-thresholded
    * dedup. Same inverted-index equi-join shape as [[jaccardPairs]] —
    * candidate generation is shared-shingle co-occurrence, never
    * all-pairs — with the same optional hot-shingle posting cap.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, maxShingleFreq: Option[Int] = None,
      shingleN: Int = ShingleN): DataFrame = {
    val inv = hashedShingleRows(shingleRows(df, idCol, textCol, shingleN), idCol)
    val sizes = inv.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val co = shingleCandidates(inv, idCol, maxShingleFreq)
    co.join(sizes.select(col(idCol).as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("containment", round(col("inter").cast("double") / least(col("na"), col("nb")), 4))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("containment"))
  }

  /** Incremental-ingest dedup: the rows of `batch` that are genuinely
    * NEW — first occurrence of their content digest within the batch
    * (min id wins, with the dropped-copy count surfaced) and digest
    * absent from `corpus`. The daily-crawl shape: the corpus side
    * reduces to a distinct digest index (at 100 TB this is the
    * precomputed index you maintain, not a rescan — pass the digest
    * relation directly and it prunes to a scan), and the batch joins it
    * LEFT ANTI on 32-byte keys. Both sides shuffle digests, never
    * documents; a small batch's per-digest aggregate broadcasts. */
  def incrementalNew(corpus: DataFrame, batch: DataFrame, idCol: String,
      keyCol: String): DataFrame = {
    val digest = sha2(col(s"`$keyCol`").cast("string"), 256)
    val batchFirst = balanced(batch)
      .groupBy(digest.as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_batch_copies"))
    val corpusIdx = balanced(corpus)
      .select(digest.as("content_hash")).distinct()
    batchFirst.join(corpusIdx, Seq("content_hash"), "left_anti")
  }

  /** Prefix-filtered set-similarity join (Bayardo et al. WWW'07
    * AllPairs / Chaudhuri et al. SSJoin): identical OUTPUT to
    * [[jaccardPairs]] at the same threshold, but candidate generation
    * indexes only each document's PREFIX — its (n − ⌈t·n⌉ + 1)
    * rarest-first shingles under the global (document-frequency,
    * shingle) total order — instead of all n. Lossless by the prefix
    * lemma: J(a,b) ≥ t forces overlap ≥ ⌈t·|a|⌉ and ≥ ⌈t·|b|⌉, and the
    * first shared shingle in the global order must then sit inside BOTH
    * prefixes (at most |x| − o non-shared shingles can precede it).
    *
    * The scale win over the full inverted index: at t = 0.5 the index
    * halves, and because the order is rarest-first the surviving
    * postings are the LOW-frequency ones — exactly the opposite tail
    * from the hot-shingle blowup `maxShingleFreq` caps lossily. This is
    * the lossless half of the same fight; compose both for adversarial
    * corpora. Verification is unchanged exact Jaccard over full sets.
    *
    * Determinism: the threshold must be exactly representable in binary
    * (the default 0.5 is) so ⌈t·n⌉ agrees across engines. */
  def prefixFilterPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = JaccardThreshold, shingleN: Int = ShingleN): DataFrame = {
    // shingles travel as 60-bit md5 keys from the first map on: every
    // wide exchange (frequency agg, rank join, candidate join, verify
    // join) ships longs instead of ~40-byte strings. The oracle hashes
    // identically, so even a (cosmically unlikely) key collision agrees
    // cross-engine.
    val rows = hashedShingleRows(shingleRows(df, idCol, textCol, shingleN), idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = rows.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // ONE aggregation yields both the set size and the rarest-first
    // prefix (in-row array sort + slice — the per-doc "sort" is bounded
    // by document size, never a wide window exchange)
    val pre = rows.join(freq, "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n"),
        expr(s"slice(array_sort(collect_list(struct(df, shingle))), 1, " +
          s"cast(count(shingle) - ceil($threshold * count(shingle)) + 1 AS int))").as("pref"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = pre.select(col(idCol), col("n"))
    val ranked = pre.select(col(idCol), explode(col("pref.shingle")).as("shingle"))
    val a = ranked.select(col(idCol).as("doc_a"), col("shingle"))
    val b = ranked.select(col(idCol).as("doc_b"), col("shingle"))
    val cand = a.join(b, Seq("shingle")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // count-based verification (no per-pair array materialization): the
    // candidate set re-joins the full posting rows on both sides and the
    // matched-key count IS the intersection — the same combinable
    // aggregate shape as [[jaccardPairs]], bounded by candidates instead
    // of all co-occurrences
    val inter = cand
      .join(rows.select(col(idCol).as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(rows.select(col(idCol).as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Incremental NEAR-dup admission — [[incrementalNew]]'s fuzzy
    * complement: a new-batch document is flagged when ANY of its MinHash
    * LSH bands collides with an index document's band (the same
    * candidate test [[minhashCandidates]] applies corpus-internally,
    * pointed at an external index). Output is one verdict row per
    * new-batch document: `n_hits` = distinct index documents sharing at
    * least one band, `admitted` = 1 iff n_hits is 0.
    *
    * At 100 TB the corpus side is the PRECOMPUTED band index you
    * maintain (store [[bandSignatures]]' output and pass it through —
    * the ingest never re-shingles the corpus); the batch signs fresh and
    * equi-joins on (band, hash) — 16-byte keys, never documents.
    *
    * Precondition (inherited from [[bandSignatures]]): documents with
    * fewer than `shingleN` tokens produce no bands and no verdict row. */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, cfg: LshConfig = LshConfig()): DataFrame = {
    def sideBands(df: DataFrame): DataFrame =
      bandRows(bandSignatures(df, idCol, textCol, cfg), idCol, cfg.numBands)
    val newBands = sideBands(batch)
    val idxBands = sideBands(corpus)
      .select(col("band"), col("bh"), col(idCol).as("__idx"))
    val hits = newBands.join(idxBands, Seq("band", "bh"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("__idx")).as("n_hits"))
    newBands.select(col(idCol)).distinct()
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("n_hits").isNull, lit(1)).otherwise(lit(0)).as("admitted"))
  }

  /** LSH quality evaluation: band-collision candidate pairs scored
    * against the exact-Jaccard ground truth at the shared threshold —
    * the recall/precision run that justifies (or vetoes) the banding
    * geometry before it gates a corpus. One summary row:
    * n_truth (exact pairs ≥ threshold), n_cand (band collisions),
    * n_hits (their intersection), recall = hits/truth,
    * prec = hits/candidates. The (doc, shingle) row set is computed
    * once and persisted — it feeds the signature arm and the
    * inverted-index truth arm. Evaluation cost ≡ the exact
    * inverted-index baseline, which is the sampling point: run it on a
    * slice, ship the geometry corpus-wide. */
  def minhashRecall(df: DataFrame, idCol: String, textCol: String,
      cfg: LshConfig = LshConfig()): DataFrame = {
    val rows = hashedShingleRows(shingleRows(df, idCol, textCol, cfg.shingleN), idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = minhashCandidates(bandSignaturesFromHashedRows(rows, idCol, cfg),
      idCol, cfg.numBands)
    // scoreAgainstTruth materializes its 1-row summary eagerly, so the
    // shingle cache is safe to release here (no lazy consumer remains)
    try scoreAgainstTruth(rows, cand, idCol, cfg.jaccardThreshold)
    finally rows.unpersist()
  }

  /** SimHash fingerprint-quality evaluation — the harness for the OTHER
    * fingerprint family: [[minhashRecall]] scores the banding geometry
    * against exact-Jaccard truth, while here the Hamming gate itself is
    * scored against the same truth (candidate generation inside
    * [[simhashPairs]] is pigeonhole-EXACT within the radius, so what is
    * being measured is how well a 64-bit token SimHash at radius
    * `maxHamming` proxies shingle Jaccard on THIS corpus). Low recall ⇒
    * widen the radius or switch families; low precision ⇒ the radius
    * admits unrelated documents. Same summary row as [[minhashRecall]],
    * so the two families tune side by side. */
  def simhashRecall(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = JaccardThreshold, maxHamming: Int = MaxHamming): DataFrame = {
    val rows = hashedShingleRows(shingleRows(df, idCol, textCol, LshConfig().shingleN), idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = simhashPairs(df, idCol, textCol, maxHamming)
      .select(col("doc_a"), col("doc_b"))
    // eager summary inside scoreAgainstTruth → release the cache here
    try scoreAgainstTruth(rows, cand, idCol, threshold)
    finally rows.unpersist()
  }

  /** Corpus NOVELTY per document — the memorization/recency signal a
    * curation pass reads: the fraction of a document's distinct n-gram
    * shingles whose FIRST corpus occurrence (by doc id order — ingest
    * order in production) is this document. Low novelty = the document
    * is assembled from n-grams the corpus already contains (quotes,
    * templates, near-dups the pair gates may have missed); a training
    * mixture can down-weight it the way `dedup_weights` down-weights
    * clusters. Documents shorter than the shingle width report 0 grams
    * and null novelty — explicitly present, not silently dropped.
    *
    * Scale shape: one map-side-combined min-agg per shingle hash
    * (8-byte keys), one content-keyed join back, one per-doc count —
    * the inverted-index family's cost envelope without any pair
    * generation.
    *
    * The shingle rows feed the min-agg AND the join back but are NOT
    * persisted: the result is corpus-sized and lazy, so a persist here
    * has no release point — the narrow shingle expansion recomputes
    * once per arm instead of pinning an application-lifetime cache
    * (the [[knnGraph]] rationale). */
  def noveltyPerDoc(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = LshConfig().shingleN): DataFrame = {
    val rows = hashedShingleRows(shingleRows(df, idCol, textCol, shingleN), idCol)
    val first = rows.groupBy(col("shingle")).agg(min(col(idCol)).as("__first"))
    val perDoc = rows.join(first, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L)).as("n_novel"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 4).as("novelty"))
  }

  /** Threshold TUNING curve — the sweep you run before committing a
    * dedup gate: every co-shingle pair's exact Jaccard, bucketed into
    * deciles by INTEGER arithmetic ((10·|∩|) div |∪| — no float
    * boundary to drift cross-engine), with a cumulative
    * pairs-at-or-above count per decile. Reading the row for decile d
    * answers "how many pairs would a threshold of d/10 collapse" — the
    * dial [[minhashRecall]] then prices for a chosen threshold. One
    * inverted-index pass; the curve itself is ≤ 11 rows.
    *
    * Scale shape: identical to the exact-Jaccard baseline (the
    * content-keyed inverted-index join with its hot-shingle guards);
    * the decile histogram adds one metadata-sized aggregation. Run on
    * a slice, pick the threshold, gate the corpus with the banded
    * machinery. */
  def jaccardThresholdSweep(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = LshConfig().shingleN): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = hashedShingleRows(shingleRows(df, idCol, textCol, shingleN), idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = rows.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val byDecile = shingleCandidates(rows, idCol, None)
      .join(sizes.select(col(idCol).as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("decile", expr("(10 * inter) div (na + nb - inter)"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy(col("decile").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = byDecile
      .withColumn("n_at_or_above", sum(col("n_pairs")).over(w))
      .select(round(col("decile").cast("double") / 10.0, 1).as("threshold"),
        col("n_pairs"), col("n_at_or_above"))
    // the curve is ≤ 11 rows — materialize it while the shingle cache
    // is alive, then release (the semanticClusters discipline)
    val out = curve.collect().toSeq
    rows.unpersist()
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(out, 1), curve.schema)
  }

  /** Shared scorer for the fingerprint-recall harnesses: exact-Jaccard
    * truth pairs from the hashed-shingle index vs a candidate pair set.
    * truth and cand each feed BOTH a count arm and the hit join —
    * persisted, or Spark re-executes the two heaviest self-joins
    * (separate aggregate branches do not share exchanges). The 1-row
    * summary is materialized HERE while those caches are alive and both
    * are released before returning — callers get an eager local frame,
    * never a lazy plan over unpersisted caches. */
  private def scoreAgainstTruth(rows: DataFrame, candidates: DataFrame,
      idCol: String, threshold: Double): DataFrame = {
    val sizes = rows.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val truth = shingleCandidates(rows, idCol, None)
      .join(sizes.select(col(idCol).as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val truthP = truth.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = candidates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hit = truthP.join(cand, Seq("doc_a", "doc_b"), "left_semi")
    def ratio(num: org.apache.spark.sql.Column,
        den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(num.cast("double") / when(den === 0, lit(null)).otherwise(den), 4)
    val summary = truthP.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hits")))
      .select(col("n_truth"), col("n_cand"), col("n_hits"),
        ratio(col("n_hits"), col("n_truth")).as("recall"),
        ratio(col("n_hits"), col("n_cand")).as("prec"))
    val out = summary.collect().toSeq
    truthP.unpersist()
    cand.unpersist()
    val ss = rows.sparkSession
    ss.createDataFrame(ss.sparkContext.parallelize(out, 1), summary.schema)
  }

  /** Span EXCISION — the fix step behind [[dupNgramSpans]]'s detector
    * (Lee et al. '21 remove duplicated spans rather than whole
    * documents): every token covered by an n-gram occurring in ≥2
    * distinct documents is cut, and the surviving tokens (in order)
    * are re-joined. Reports per document the token count, the number
    * of excised positions, and the md5 of the cleaned text — the
    * compact identity the oracle can re-derive.
    *
    * Scale shape: gram hashes pre-agg to (hash, doc) before the wide
    * exchange; the hot-gram set is vocab-sized (broadcastable); the
    * covered-position set returns to each doc via ONE id-keyed
    * aggregation join, and the final cut is a narrow array filter —
    * no token-level shuffle survives to the output side. */
  def exciseDupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = DupSpanN): DataFrame = {
    require(n > 0, s"need positive n, got $n")
    val ws = TextPipeline.tokens(col(textCol))
    val src = balanced(df.select(col(idCol), col(textCol)))
      .select(col(idCol), ws.as("__ws"))
    // (doc, start, gramHash) occurrence rows; docs shorter than n yield none
    val occ = src
      .select(col(idCol), explode(when(size(col("__ws")) < n, array().cast("array<int>"))
        .otherwise(sequence(lit(1), size(col("__ws")) - (n - 1)))).as("__i"),
        col("__ws"))
      .select(col(idCol), col("__i"),
        md5(concat_ws(" ", slice(col("__ws"), col("__i"), lit(n)))).as("__h"))
    val hot = occ.select(col("__h"), col(idCol)).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("__h"))
    val covered = occ.join(hot, Seq("__h"))
      .select(col(idCol), explode(sequence(col("__i"), col("__i") + (n - 1))).as("__p"))
      .distinct()
      .groupBy(col(idCol)).agg(collect_set(col("__p")).as("__cov"))
    src.join(covered, Seq(idCol), "left")
      .select(
        col(idCol),
        size(col("__ws")).cast("long").as("n_tokens"),
        coalesce(size(col("__cov")), lit(0)).cast("long").as("n_removed"),
        md5(concat_ws(" ", transform(
          filter(sequence(lit(1), size(col("__ws"))),
            k => !coalesce(array_contains(col("__cov"), k), lit(false))),
          k => element_at(col("__ws"), k)))).as("clean_md5"))
  }

  /** Cross-document duplicated n-gram spans — the n-gram-granularity
    * approximation of exact-substring dedup (Lee et al. '21,
    * "Deduplicating Training Data Makes Language Models Better": shared
    * verbatim spans, not whole-document similarity). NON-distinct
    * n-grams (multiplicity counts), grouped by content hash; spans in
    * ≥2 documents surface with document and occurrence counts, top-k by
    * occurrences. The full suffix-array approach finds maximal spans;
    * the n-gram grid finds every duplicated window of length n — enough
    * to locate boilerplate and licence blocks for span-level excision.
    *
    * Scale shape: explode → (gram, doc) pre-agg (map-side combinable,
    * collapses within-doc repeats before the wide exchange) → gram agg →
    * TakeOrderedAndProject top-k (per-partition heaps). Grams travel as
    * md5 hashes, never strings, so shuffle rows are fixed-width. */
  def dupNgramSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = DupSpanN, topK: Int = DupSpanTopK): DataFrame = {
    require(n > 0 && topK > 0, s"need positive n/topK, got n=$n topK=$topK")
    val ws = TextPipeline.tokens(col(textCol))
    val grams = when(size(ws) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(ws) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*)))
    balanced(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("__d"), explode(grams).as("gram"))
      .select(col("__d"), md5(col("gram")).as("gram_hash"))
      .groupBy(col("gram_hash"), col("__d")).agg(count(lit(1)).as("__tf"))
      .groupBy(col("gram_hash"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tf")).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_occ").desc, col("n_docs").desc, col("gram_hash"))
      .limit(topK)
  }
}
