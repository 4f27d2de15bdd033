package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, MinHash signatures, SimHash fingerprints,
  * language ID, quality scoring, and document fingerprinting — all as
  * codegen-friendly Column expressions over a text column (no UDFs), so
  * every operator is a single narrow map stage that scales embarrassingly:
  * no shuffle until a downstream groupBy/join, columns pruned at the scan.
  *
  * Cross-engine determinism (the DuckDB oracle mirrors every formula, see
  * [[Oracles]]): hashes are md5 hex strings (identical in any engine);
  * ratios are double divisions of integer counts rounded half-up; no
  * transcendental functions (exp/log differ across libm implementations —
  * sqrt alone is IEEE-correctly-rounded and allowed).
  */
object TextPipeline {

  /** Defaults pinned by the oracle suite, single-sourced between the
    * Spark operators and the [[PipelineQueries]] oracle registrations so
    * the two sides cannot drift. */
  val TfidfTopK = 3
  val ChunkWindow = 32
  val ChunkStride = 24

  /** Tokenization strategy, single-sourced for the Spark plan AND the
    * DuckDB oracle SQL (so the two sides cannot drift). Both variants
    * stay pure Column expressions — codegen'd narrow maps, no UDFs. */
  sealed trait Tokenizer {
    /** The token array as a Column expression. */
    def of(text: Column): Column
    /** The same tokenization as a DuckDB expression over `textExpr`. */
    def duck(textExpr: String): String
  }
  object Tokenizer {
    /** Split on whitespace runs — the classic corpus-stats tokenizer.
      * Quirk (shared by both engines via split-semantics parity): an
      * empty/whitespace-only text yields [""], one empty token. */
    case object Whitespace extends Tokenizer {
      def of(text: Column): Column = split(trim(text), "\\s+")
      def duck(e: String): String = s"regexp_split_to_array(trim($e), '\\s+')"
    }
    /** Unicode letter/digit runs — the BPE-style pre-tokenizer shape:
      * punctuation splits, diacritics and non-Latin scripts stay inside
      * tokens. `\p{L}\p{N}` classes are shared by Java regex (Spark) and
      * RE2 (DuckDB). An all-symbol text yields zero tokens. */
    case object UnicodeWords extends Tokenizer {
      def of(text: Column): Column =
        regexp_extract_all(text, lit("[\\p{L}\\p{N}]+"), lit(0))
      def duck(e: String): String = s"regexp_extract_all($e, '[\\p{L}\\p{N}]+')"
    }
  }

  /** Tokenization of trimmed text under the given strategy. */
  def tokens(text: Column, tokenizer: Tokenizer = Tokenizer.Whitespace): Column =
    tokenizer.of(text)

  /** Distinct word n-gram shingles (n=3): the standard near-dup unit for
    * MinHash/Jaccard (shingling per Broder '97). Guarded so texts shorter
    * than n tokens yield an empty set. */
  def shingles(text: Column, n: Int = 3): Column = {
    val ws = tokens(text)
    val grams = transform(sequence(lit(1), size(ws) - (n - 1)), i =>
      concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*))
    array_distinct(when(size(ws) < n, array().cast("array<string>")).otherwise(grams))
  }

  /** Per-document 64-bit SimHash over the distinct token set, emitted as a
    * 16-hex-char fingerprint. Each token contributes ±1 to 64 bit-scores
    * from its md5's leading 64 bits; the fingerprint takes the sign of
    * each score. Computed as explode → 64 conditional sums → reassembly:
    * one shuffle on doc_id with map-side partial aggregation. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val src = Dedup.balanced(df.select(col(idCol), col(textCol)))
    val tok = src.select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("token"))
      .withColumn("h", substring(md5(col("token")), 1, 16))
    // nibble values v0..v15 of the 16 leading hex chars
    val withNibbles = (0 until 16).foldLeft(tok) { (d, p) =>
      d.withColumn(s"v$p", conv(substring(col("h"), p + 1, 1), 16, 10).cast("int"))
    }
    // bit-score sums s0..s63 (bit k = bit 3-(k%4) of nibble k/4, MSB first)
    val sums = (0 until 64).map { k =>
      val bit = shiftright(col(s"v${k / 4}"), 3 - k % 4).bitwiseAND(lit(1))
      sum(when(bit === 1, 1).otherwise(-1)).as(s"s$k")
    }
    val scored = withNibbles.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    // reassemble: nibble p = 8·(s_{4p}>0) + 4·(s_{4p+1}>0) + 2·(s_{4p+2}>0) + (s_{4p+3}>0)
    val withNibbleVals = (0 until 16).foldLeft(scored) { (d, p) =>
      val v = (0 until 4).map { j =>
        val w = 8 >> j
        when(col(s"s${4 * p + j}") > 0, w).otherwise(0)
      }.reduce(_ + _)
      d.withColumn(s"n$p", v)
    }
    withNibbleVals.select(col(idCol),
      concat((0 until 16).map(p => expr(s"substr('0123456789abcdef', n$p + 1, 1)")): _*).as("simhash"))
  }

  /** Token counting statistics: counts + type-token ratio. One map stage;
    * counts surfaced as long (the oracle engine's count type). */
  def tokenStats(df: DataFrame, idCol: String, textCol: String,
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    val ws = tokens(col(textCol), tokenizer)
    df.select(
      col(idCol),
      size(ws).cast("long").as("n_tokens"),
      size(array_distinct(ws)).cast("long").as("n_distinct"),
      // a zero-token doc (possible under UnicodeWords) yields NULL, the
      // same as DuckDB's x/0 — never an ANSI divide-by-zero error
      round(when(size(ws) > 0,
        size(array_distinct(ws)).cast("double") / size(ws)), 4).as("ttr"))
  }

  /** Language-profile stopword lists for the lang-ID heuristic. Tiny,
    * fixed, and shared verbatim with the oracle SQL. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "un", "est"),
    "es" -> Seq("el", "la", "los", "y", "un", "es"),
  )

  /** Count of tokens present in a fixed word list. */
  def stopwordCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  /** Stopword-profile language ID: score each profile by stopword hits,
    * predict the argmax with a fixed tie-break order (the listing order of
    * [[LangProfiles]]). A pure map — no shuffle. */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val scored = LangProfiles.foldLeft(df.select(col(idCol), toks.as("toks"))) {
      case (d, (lang, words)) => d.withColumn(s"s_$lang", stopwordCount(col("toks"), words))
    }
    val langs = LangProfiles.map(_._1)
    val pred = langs.zipWithIndex.foldRight(lit(langs.last): Column) { case ((lang, i), els) =>
      if (i == langs.length - 1) els
      else {
        val beats = langs.drop(i + 1).map(o => col(s"s_$lang") >= col(s"s_$o")).reduce(_ && _)
        when(beats, lang).otherwise(els)
      }
    }
    val outCols = col(idCol) +: langs.map(l => col(s"s_$l").cast("long").as(s"s_$l")) :+ pred.as("pred_lang")
    scored.select(outCols: _*)
  }

  /** [[codeSwitch]] window width in tokens. */
  val CodeSwitchWindow = 40

  /** Code-switching / language-consistency detector: run the stopword
    * lang-ID per fixed non-overlapping token WINDOW, then summarize each
    * document by its window votes — (n_windows, n_langs, major_lang,
    * major_frac). A document whose windows disagree (n_langs > 1, low
    * major_frac) is mixed-language — a real curation signal that
    * whole-document argmax lang-ID structurally hides (a 90% English
    * page with a German boilerplate block IDs as clean "en").
    * Tie-breaks are fixed (vote count desc, then lang order), so the
    * verdicts hash-check.
    *
    * Scale shape: window explode is a narrow ×(len/W) map; scoring is
    * the same in-list filter as [[langId]]; then two keyed aggregations
    * and one per-doc window — everything keys on doc_id. */
  def codeSwitch(df: DataFrame, idCol: String, textCol: String,
      window: Int = CodeSwitchWindow): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 1, s"window must be positive, got $window")
    val toks = tokens(col(textCol))
    val base = df.select(col(idCol), toks.as("toks"))
      .withColumn("w", explode(sequence(lit(0),
        ((size(col("toks")) - 1) / window).cast("int"))))
      .withColumn("wt", slice(col("toks"), col("w") * window + 1, lit(window)))
    val scored = LangProfiles.foldLeft(base) {
      case (d, (lang, words)) => d.withColumn(s"s_$lang", stopwordCount(col("wt"), words))
    }
    val langs = LangProfiles.map(_._1)
    val pred = langs.zipWithIndex.foldRight(lit(langs.last): Column) { case ((lang, i), els) =>
      if (i == langs.length - 1) els
      else {
        val beats = langs.drop(i + 1).map(o => col(s"s_$lang") >= col(s"s_$o")).reduce(_ && _)
        when(beats, lang).otherwise(els)
      }
    }
    val winPred = scored.select(col(idCol), col("w"), pred.as("pred"))
    val counts = winPred.groupBy(col(idCol), col("pred")).agg(count(lit(1)).as("cnt"))
    val tot = winPred.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"), countDistinct(col("pred")).as("n_langs"))
    val wnd = Window.partitionBy(col(idCol)).orderBy(col("cnt").desc, col("pred"))
    counts.withColumn("rn", row_number().over(wnd)).filter(col("rn") === 1)
      .select(col(idCol), col("pred").as("major_lang"), col("cnt"))
      .join(tot, idCol)
      .select(col(idCol), col("n_windows"), col("n_langs"), col("major_lang"),
        round(col("cnt").cast("double") / col("n_windows").cast("double"), 4).as("major_frac"))
  }

  /** Quality scoring from length/stopword/token-shape statistics — pure
    * rational arithmetic (cross-engine safe), one map stage. */
  def quality(df: DataFrame, idCol: String, textCol: String,
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    val t = trim(col(textCol))
    val toks = tokens(col(textCol), tokenizer)
    df.select(
      col(idCol),
      length(t).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      // zero-token / zero-char docs yield NULL ratios (DuckDB x/0
      // parity), never an ANSI divide-by-zero error
      round(when(size(toks) > 0,
        stopwordCount(toks, LangProfiles.head._2).cast("double") / size(toks)), 4).as("stop_ratio"),
      round(when(length(t) > 0,
        length(regexp_replace(t, "[a-z0-9 ]", "")).cast("double") / length(t)), 4).as("punct_ratio"),
      round(when(size(toks) > 0,
        length(regexp_replace(t, " ", "")).cast("double") / size(toks)), 4).as("mean_tok_len"))
      .withColumn("score",
        round(lit(0.6) * col("stop_ratio")
          + lit(0.04) * least(col("mean_tok_len"), lit(10.0))
          + lit(0.2) * when(col("n_tokens").between(20, 80), 1.0).otherwise(0.0), 4))
  }

  /** Gopher rule-filter bounds (Rae et al. '21 §A1.1, scaled to this
    * corpus's 10–200-token documents). */
  val GopherMinWords = 20L
  val GopherMaxWords = 200L
  val GopherMinMeanLen = 3.0
  val GopherMaxMeanLen = 10.0
  val GopherMinAlphaFrac = 0.8
  val GopherMinStops = 2L

  /** Explicit Gopher rule verdicts (Rae et al. '21 §A1.1) — the
    * named boolean filter set, as opposed to [[quality]]'s blended
    * score: word-count bounds, mean-word-length bounds, fraction of
    * words containing an alphabetic character, and the ≥2-stopword
    * rule. `pass` is their conjunction. All rational arithmetic over
    * one narrow map; ratios round before comparison so the verdicts
    * are bit-identical cross-engine. (The repetition side of Gopher
    * lives in [[repetition]].) */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    val t = trim(col(textCol))
    val toks = tokens(col(textCol), tokenizer)
    df.select(
      col(idCol),
      size(toks).cast("long").as("n_words"),
      round(when(size(toks) > 0,
        length(regexp_replace(t, " ", "")).cast("double") / size(toks)), 4)
        .as("mean_tok_len"),
      round(when(size(toks) > 0,
        size(filter(toks, x => x.rlike("[a-z]"))).cast("double") / size(toks)), 4)
        .as("alpha_frac"),
      stopwordCount(toks, LangProfiles.head._2).cast("long").as("n_stop"))
      .withColumn("r_words",
        col("n_words").between(GopherMinWords, GopherMaxWords))
      .withColumn("r_mean_len",
        col("mean_tok_len").between(GopherMinMeanLen, GopherMaxMeanLen))
      .withColumn("r_alpha", col("alpha_frac") >= GopherMinAlphaFrac)
      .withColumn("r_stops", col("n_stop") >= GopherMinStops)
      .withColumn("pass",
        col("r_words") && col("r_mean_len") && col("r_alpha") && col("r_stops"))
  }

  /** Repetition statistics (the Gopher-style repetition filters of Rae
    * et al. '21 §A1.1): the fraction of repeated tokens and repeated word
    * n-grams within a document — high ratios mark boilerplate and
    * degenerate looped text. Pure map stage; documents shorter than n
    * tokens report zero grams and a zero gram ratio. */
  def repetition(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val ws = tokens(col(textCol))
    // NON-distinct grams (unlike [[shingles]]): multiplicity is the signal
    val grams = when(size(ws) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(ws) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*)))
    df.select(
      col(idCol),
      size(ws).cast("long").as("n_tokens"),
      round(lit(1.0) - size(array_distinct(ws)).cast("double") / size(ws), 4)
        .as("dup_token_ratio"),
      size(grams).cast("long").as("n_grams"),
      round(when(size(grams) > 0,
        lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams))
        .otherwise(0.0), 4).as("dup_gram_ratio"))
  }

  /** Corpus vocabulary: the `topK` tokens by total frequency, with
    * document frequency — the term-statistics sweep behind tokenizer
    * vocab induction and stop-list construction.
    *
    * Scale shape: explode → (token, doc) pre-aggregation → token
    * aggregation — two shuffles, both map-side combinable (the pre-agg
    * collapses per-document repetitions BEFORE the global shuffle, so a
    * document repeating "the" 10⁴ times contributes one row, and df is a
    * plain count instead of a count-distinct's extra dedup pass). Top-k
    * is orderBy+limit — Spark's TakeOrderedAndProject, a per-partition
    * heap + driver merge of k·partitions rows, never a global sort.
    * Ties break deterministically (total desc, token asc). */
  def vocab(df: DataFrame, idCol: String, textCol: String, topK: Int = 100,
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    val perDoc = Dedup.balanced(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol), tokenizer)).as("token"))
      .groupBy(col("token"), col(idCol)).agg(count(lit(1)).as("tf_doc"))
    perDoc.groupBy(col("token"))
      .agg(sum(col("tf_doc")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(topK)
  }

  /** One BPE merge round over the corpus: adjacent-token-pair frequencies,
    * top-k by (count desc, pair asc). This is the counting step a
    * byte-pair/word-pair tokenizer trainer iterates — the expensive part at
    * corpus scale, and the part that must be distributed: pair explosion is
    * a pure scan-side row multiplier (no shuffle), the count is one
    * map-side-combinable aggregation on the pair string, and the top-k is
    * per-partition heaps (TakeOrderedAndProject), never a global sort.
    * Unlike [[shingles]] (distinct, per-doc), repeats within a document
    * count — merge ranking needs raw frequencies. */
  def bpePairs(df: DataFrame, idCol: String, textCol: String, topK: Int = 100,
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    val ws = tokens(col(textCol), tokenizer)
    val pairs = when(size(ws) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(ws) - 1), i =>
        concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
    Dedup.balanced(df.select(col(idCol), col(textCol)))
      .select(explode(pairs).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topK)
  }

  /** The FIXED trained merge table [[bpeApply]] runs: rank-ordered
    * (left, right) symbol pairs, merged symbol = left + right — the
    * artifact a BPE trainer ([[bpePairs]] iterated) emits, frozen here
    * the way a production tokenizer ships its merges file. Ranks follow
    * descending pair frequency on the testdata corpus vocabulary, with
    * deliberate COMPOSED chains (t+a→ta→tab; s+c→sc→sca→scan — three
    * levels) and a deliberate rank-priority trap: (a, n) at rank 8
    * sits BELOW (sca, n) at rank 5, so "scan" must resolve through the
    * sca-chain, while "an" elsewhere still merges — any implementation
    * that applies merges out of rank order diverges on it. */
  val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "a", "ta" -> "b", "s" -> "c", "sc" -> "a", "sca" -> "n",
    "e" -> "r", "q" -> "u", "a" -> "n", "o" -> "r", "or" -> "t",
    "i" -> "n", "in" -> "e", "t" -> "h", "th" -> "e", "s" -> "t",
    "v" -> "a")

  /** BPE APPLY at corpus scale — the tokenization step every
    * training-data pipeline actually runs once a merge table exists
    * (the step [[bpePairs]]/vocab only prepare for): apply `merges` in
    * RANK ORDER to every document and emit the resulting token
    * sequence. The classic algorithm (Sennrich et al. '16 §3.2: for
    * each merge, in rank order, fuse every adjacent occurrence of the
    * pair, leftmost first) is re-expressed as delimiter-protected
    * string rewrites so the whole thing is ONE codegen'd narrow map —
    * no UDF, no shuffle, no per-word loop; at 100 TB this is a pure
    * scan-side rewrite like [[redact]]:
    *
    *  - normalize: lowercase, DROP any word containing a non-[a-z]
    *    character (the alpha-word corpus discipline that also keeps
    *    the delimiter alphabet collision-free), squeeze whitespace;
    *  - encode: every char c becomes `#c#`, word boundaries become
    *    `|` — each symbol carries its OWN leading and trailing `#`,
    *    so the pair (l, r) is the literal substring `#l##r#`:
    *    adjacent matches share no characters (leftmost non-overlapping
    *    replace = the classic leftmost merge), a symbol whose text
    *    merely CONTAINS the pair cannot false-match (its chars are not
    *    flanked by `#`), and no pair spans a `|` word boundary;
    *  - merge: for each rank, one `replace(s, "#l##r#", "#lr#")` —
    *    a later rank sees exactly the symbol stream the earlier ranks
    *    left, which IS rank-order BPE;
    *  - decode: boundaries back to spaces, strip the delimiters.
    *
    * Output: (id, tokens, n_tokens) — `tokens` is the space-joined
    * BPE token sequence (hash-checkable as one value per document),
    * n_tokens its length. The oracle mirrors the same rewrite chain in
    * DuckDB from the SAME [[BpeMerges]] constant
    * ([[Oracles.bpeApply]]), so the two engines' string machinery
    * re-derives the tokenization independently. */
  def bpeApply(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)] = BpeMerges): DataFrame = {
    val merged = bpeMergeChain(bpeEncode(col(textCol)), merges)
    val toks = trim(bpeRep(bpeRep(merged, "#|#", "##"), "##", " "), "#")
    df.select(col(idCol), toks.as("tokens"),
      when(toks === "", lit(0L))
        .otherwise(size(split(toks, " ")).cast("long")).as("n_tokens"))
  }

  private def bpeRep(c: Column, find: String, to: String): Column =
    call_function("replace", c, lit(find), lit(to))

  /** The shared BPE normalization (see [[bpeApply]]'s contract):
    * lowercase, drop words containing a non-[a-z] character, squeeze
    * whitespace. */
  private def bpeNorm(textCol: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(trim(textCol)), "\\S*[^a-z\\s]\\S*", " "),
      "\\s+", " "))

  /** The shared BPE corpus encoding (see [[bpeApply]]'s contract):
    * normalize → `#c#` per char → `|` word boundaries. */
  private def bpeEncode(textCol: Column): Column =
    bpeRep(regexp_replace(bpeNorm(textCol), "([a-z])", "#$1#"), " ", "|")

  /** Apply a merge list in rank order to an encoded column. */
  private def bpeMergeChain(encoded: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(encoded) { case (acc, (l, r)) =>
      bpeRep(acc, s"#$l##$r#", s"#$l$r#")
    }

  /** Training rounds for [[bpeTrain]] — shared with the oracle's
    * unrolled CTE chain. 64 (up from the r15 demo's 8): large enough
    * that the per-round cost shape is the claim under test (flat —
    * see the scaleprobe_bpetrain ladder), small enough for the sf0.1
    * bench. A production 32k-merge run changes only this constant. */
  val BpeTrainRounds = 64

  /** Per-round lineage cut for [[bpeTrain]]: LAZY localCheckpoint by
    * default — the materialization fuses into the next round's argmax
    * job, one job per round — flipped to the EAGER reliable
    * `checkpoint` when `SPARK_GRAFT_CHECKPOINT_DIR` is set (the same
    * executor-churn switch the iterative graph loops honor via
    * [[graft.operators.Checkpoints]]; a 32k-round run over hours must
    * survive losing the executor holding a round's blocks). */
  private def cutRound(df: DataFrame): DataFrame =
    if (graft.operators.Checkpoints.reliable) graft.operators.Checkpoints.cut(df)
    else df.localCheckpoint(false)

  /** BPE TRAIN in the HISTOGRAM DOMAIN — Sennrich '16's actual
    * algorithm: train on the distinct-word frequency table, not the
    * corpus. ONE corpus scan builds `(word, count)` (at 100 TB that is
    * ~10⁸ unique words instead of the corpus); every round then
    * (1) counts adjacent symbol pairs over UNIQUE WORDS weighted by
    * word count — one map-side-combinable aggregation over the
    * vocab-sized frame, (2) takes the 1-row argmax (ties broken
    * (l, r) ascending — a total order, so both engines pick the same
    * winner), and (3) advances the encoding with ONE literal replace
    * of the winning pair. Per-round cost is O(vocab), independent of
    * both the corpus size and the merge count — the difference between
    * a demo and a real 32k-merge table (the r15 corpus-domain trainer
    * re-scanned the corpus each round with an r-long replace chain).
    *
    * Pair counts are word-decomposable (the `|` word boundary means no
    * pair spans words), so the weighted histogram count equals the
    * corpus-domain count exactly: output — (rank, l, r, merged, cnt),
    * the artifact [[bpeApply]] consumes — is bit-identical to the r15
    * trainer's and to the oracle's unrolled histogram CTE chain
    * ([[Oracles.bpeTrain]]). Rounds with no pairs left stop early
    * (absent ranks on both engines).
    *
    * Iteration discipline — the loop is O(rounds), not O(rounds²):
    * every round's word table is cut to a FLAT plan with a lazy
    * `localCheckpoint` (a `LogicalRDD` scan — one logical node), so
    * analysis/optimization/cache-lookup cost per round is constant no
    * matter the merge count. (The naive alternative — persist each
    * round's DataFrame on top of its parent's — leaves the logical
    * plan growing one replace per round, and Catalyst's per-action
    * plan processing over that chain measured ×2 PER ROUND on this
    * suite: 16 rounds took 63 s; this shape runs 64 in ~11 s, flat
    * ~0.12 s/round.) Laziness fuses materialization into the round's
    * argmax job — ONE job per round; the replaced table materializes
    * while the NEXT round's pair count scans it. Superseded round
    * RDDs are dropped by reference and reaped by the ContextCleaner;
    * a production 32k-merge run over a 10⁸-row word table sets
    * `SPARK_GRAFT_CHECKPOINT_DIR` and [[cutRound]] flips every cut to
    * the reliable `checkpoint` (same shape, survives executor loss —
    * the switch the graph loops already honor). Only one (l, r, cnt)
    * row per round crosses the driver. */
  def bpeTrain(df: DataFrame, idCol: String, textCol: String,
      rounds: Int = BpeTrainRounds): DataFrame = {
    val ss = df.sparkSession
    import ss.implicits._
    // the ONE corpus scan: normalized words → (encoded word, count).
    // groupBy BEFORE encoding: the shuffle carries raw words, the
    // #c# expansion (3× the bytes) stays post-aggregation. balanced():
    // the regex-heavy normalization must not run single-threaded on a
    // one-file parquet scan (the repo-wide small-file rebalance rule).
    // AQE's post-shuffle coalesce sizes the word table's partitions to
    // the data (tiny at bench sf, thousands-wide at 100 TB), and the
    // checkpoint pins that partitioning for every later round.
    var cur = Dedup.balanced(df.select(col(textCol)))
      .select(explode(split(bpeNorm(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
      .select(regexp_replace(col("w"), "([a-z])", "#$1#").as("e"), col("wcnt"))
      .transform(cutRound)
    var merges = Vector.empty[(String, String, Long)]
    var exhausted = false
    var round = 0
    while (round < rounds && !exhausted) {
      round += 1
      val syms = split(trim(col("e"), "#"), "##")
      val top = cur
        .select(syms.as("syms"), col("wcnt"))
        .filter(size(col("syms")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("syms")) - 1), i =>
          struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"), col("wcnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wcnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges :+= ((l, r, top(0).getLong(2)))
        cur = cur.select(
          bpeRep(col("e"), s"#$l##$r#", s"#$l$r#").as("e"), col("wcnt"))
          .transform(cutRound)
      }
    }
    merges.zipWithIndex.map { case ((l, r, cnt), i) =>
      (i + 1, l, r, l + r, cnt)
    }.toDF("rank", "l", "r", "merged", "cnt")
  }

  /** Shard count for [[tokenizePack]]'s deterministic shard assignment
    * (`seq_id % PackShards` — reproducible across runs and layouts). */
  val PackShards = 8

  /** THE PIPELINE'S END PRODUCT, composed: train → tokenize → ids →
    * pack → shard, the artifact chain an LLM data pipeline actually
    * ships ([[bpeTrain]] and [[Packing]] each prove their own half;
    * this row proves they compose).
    *
    *  1. '''Train''': [[bpeTrain]]'s merge table — k rows, THE
    *     tokenizer model, a driver-sized artifact by definition (the
    *     one collect here).
    *  2. '''Vocab FROM the merge table''': a–z = ids 1..26, each merge
    *     = 26 + rank; duplicate merged strings keep the smallest id
    *     (two ranks CAN concatenate to the same string — e.g. (th,e)
    *     and (t,he) both yield "the").
    *  3. '''Tokenize in the histogram domain''': the merge chain runs
    *     once per DISTINCT word (vocab-sized narrow map, same
    *     delimiter-protected replaces as [[bpeApply]]), never per
    *     document; documents re-join their words' id sequences (a
    *     shuffle join on the word — the word table is corpus-derived,
    *     so no broadcast assumption at 100 TB).
    *  4. '''Pack''': each document's global token offset is the
    *     two-phase distributed prefix sum ([[Packing.pack]]'s
    *     scaffold — range exchange + driver prefix of per-partition
    *     totals), never a global single-task window; within a doc the
    *     (word pos, token pos) window is partitioned by doc.
    *  5. '''Shard''': `seq_id % shards` — a pure function of content.
    *
    * Output: one row per packed sequence — (seq_id, shard, n_tokens,
    * n_docs, ids_md5), where ids_md5 digests the sequence's token ids
    * in tape order (the content-equality instrument;
    * [[tokenizePackWrite]] emits the id arrays themselves, partitioned
    * by shard). The oracle derives the identical rows with the train CTE
    * chain + one global window ([[Oracles.tokenizePack]]); an
    * exhausted trainer (fewer than `rounds` merges available) agrees
    * on both sides — the merge list just ends early and the oracle's
    * word-table chain carries through unchanged. */
  def tokenizePack(df: DataFrame, idCol: String, textCol: String,
      rounds: Int = BpeTrainRounds, capacity: Long = Packing.Capacity,
      shards: Int = PackShards): DataFrame =
    sequenceDigests(packedSequences(df, idCol, textCol, rounds, capacity, shards))

  /** WRITE the packed sequences as the training-shard artifact itself —
    * the id arrays, parquet, partitioned by shard with ONE file per
    * shard (a shard is the unit a training job reads, so write
    * parallelism = shard count, not tasks × shards — the same
    * one-task-per-partition discipline [[graft.streaming.BucketedState]]
    * uses). Returns the same per-sequence digest frame as
    * [[tokenizePack]], computed from the SAME materialized sequences,
    * so the caller holds the manifest of exactly what landed on disk;
    * TokenizePackSpec pins that reading the shards back and re-digesting
    * reproduces it bit-for-bit. */
  def tokenizePackWrite(df: DataFrame, idCol: String, textCol: String,
      outDir: String, rounds: Int = BpeTrainRounds,
      capacity: Long = Packing.Capacity, shards: Int = PackShards): DataFrame = {
    val seqs = packedSequences(df, idCol, textCol, rounds, capacity, shards)
    seqs.select(col("shard"), col("seq_id"), col("ids"))
      .repartition(shards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    sequenceDigests(seqs)
  }

  /** [[tokenizePack]]'s materialized middle: one row per packed
    * sequence with its full token-id array (tape order). */
  private def packedSequences(df: DataFrame, idCol: String, textCol: String,
      rounds: Int, capacity: Long, shards: Int): DataFrame = {
    val ss = df.sparkSession
    import ss.implicits._
    val mergeRows = bpeTrain(df, idCol, textCol, rounds)
      .select(col("rank"), col("l"), col("r"), col("merged"))
      .collect().sortBy(_.getInt(0))
    val merges = mergeRows.map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = (('a' to 'z').map(c => (c.toString, (('a' to 'z').indexOf(c) + 1).toLong)) ++
      mergeRows.map(r => (r.getString(3), 26L + r.getInt(0))))
      .groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).min) }.toSeq
      .toDF("token", "token_id")
    // doc → (word pos, word), order-carrying; balanced for the same
    // small-file reason as the trainer's corpus scan
    val words = Dedup.balanced(df.select(col(idCol), col(textCol)))
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(bpeNorm(col(textCol)), " ")).as(Seq("wp", "w")))
      .filter(col("w") =!= "")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var docWords: DataFrame = null
    try {
      // distinct word → ordered token-id array + token count (the merge
      // chain and the vocab join both run in the vocab domain)
      val wordTok = words.select(col("w")).distinct()
        .withColumn("e",
          bpeMergeChain(regexp_replace(col("w"), "([a-z])", "#$1#"), merges))
        .select(col("w"),
          split(trim(bpeRep(col("e"), "##", " "), "#"), " ").as("toks"))
      val wordIds = wordTok
        .select(col("w"), posexplode(col("toks")).as(Seq("tp", "token")))
        .join(broadcast(vocab), Seq("token"))
        .groupBy(col("w"))
        .agg(array_sort(collect_list(struct(col("tp"), col("token_id")))).as("ts"))
        .select(col("w"),
          transform(col("ts"), x => x.getField("token_id")).as("ids"),
          size(col("ts")).cast("long").as("nwt"))
      // persisted: the word join feeds BOTH the prefix-sum counts and
      // the tape explosion — unpersisted it runs twice
      docWords = words.join(wordIds, Seq("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // phase 1 of the tape: per-doc token counts → distributed prefix
      // sum over doc_id order (the Packing.pack scaffold)
      val counted = docWords.groupBy(col("doc_id"))
        .agg(sum(col("nwt")).as("n_tokens"))
      val (ranged, baseDf, _) =
        graft.operators.PrefixSum.rangedBases(counted, Seq("doc_id"), col("n_tokens"))
      val wdoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__pid")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val offsets = ranged.join(broadcast(baseDf), Seq("__pid"))
        .withColumn("start_offset",
          col("__base") + coalesce(sum(col("n_tokens")).over(wdoc), lit(0L)))
        .select(col("doc_id"), col("start_offset"))
      // phase 2: word start within the doc (per-doc window — docs are
      // bounded), then the global token position
      val wword = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("wp"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val tape = docWords
        .withColumn("wstart", coalesce(sum(col("nwt")).over(wword), lit(0L)))
        .join(offsets, Seq("doc_id"))
        .select(col("doc_id"),
          (col("start_offset") + col("wstart")).as("ws0"), col("ids"))
        .select(col("doc_id"), col("ws0"),
          posexplode(col("ids")).as(Seq("tp", "tid")))
        .withColumn("gpos", col("ws0") + col("tp"))
      tape
        .withColumn("seq_id", floor(col("gpos") / capacity).cast("long"))
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("doc_id")).as("n_docs"),
          transform(
            array_sort(collect_list(struct(col("gpos"), col("tid")))),
            x => x.getField("tid")).as("ids"))
        .select(col("seq_id"), pmod(col("seq_id"), lit(shards.toLong)).as("shard"),
          col("n_tokens"), col("n_docs"), col("ids"))
        // eager cut: one row per SEQUENCE (corpus_tokens/capacity —
        // small), materialized while the caches above are still alive
        // so the finally can release them
        .localCheckpoint(true)
    } finally {
      words.unpersist()
      if (docWords != null) docWords.unpersist()
      ()
    }
  }

  /** The per-sequence digest view of [[packedSequences]] — the shape
    * the oracle hash-checks. */
  private def sequenceDigests(seqs: DataFrame): DataFrame =
    seqs.select(col("seq_id"), col("shard"), col("n_tokens"), col("n_docs"),
      md5(array_join(transform(col("ids"), x => x.cast("string")), ","))
        .as("ids_md5"))

  /** PII redaction patterns: (name, regex, replacement), applied in
    * order — emails first, then IPv4 (before the phone pattern, which a
    * dotted quad also matches), then phone-like digit runs. The regex
    * constructs here (\d, \b, classes, bounded repetition) behave
    * identically under Java regex (Spark) and RE2 (DuckDB), which is
    * what lets [[Oracles.textRedact]] replay redaction verbatim. */
  val RedactionPatterns: Seq[(String, String, String)] = Seq(
    ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phones", "\\+?\\(?\\d[\\d().-]{5,}\\d", "<PHONE>"),
  )

  /** Fixed PII-laden corpus driving the cross-engine redaction oracle:
    * the SAME literals feed the Spark frame and the oracle's VALUES, so
    * the oracle checks Java-vs-RE2 regex semantics, not data plumbing. */
  val RedactionFixture: Seq[(Long, String)] = Seq(
    1L -> "contact me at jane.doe+spam@example.co.uk or at work",
    2L -> "server 10.0.0.1 and 192.168.1.255 timed out",
    3L -> "call +1-800-555-0199 or (212)555-0142 now",
    4L -> "mixed: bob@test.io from 172.16.254.3 dialed 415.555.0123",
    5L -> "clean text with no identifiers at all",
  )

  /** PII redaction: sequentially replace each [[RedactionPatterns]]
    * match with its placeholder, reporting a per-pattern match count
    * (counted on the text as that step sees it, i.e. post-prior-steps).
    * One codegen'd narrow map — no UDFs, no shuffle; at 100 TB this is
    * a pure scan-side rewrite. */
  def redact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val start = df.select(col(idCol), col(textCol).as("__t0"))
    val stepped = RedactionPatterns.zipWithIndex.foldLeft(start) {
      case (d, ((name, pat, repl), i)) =>
        d.withColumn(s"n_$name",
            size(regexp_extract_all(col(s"__t$i"), lit(pat), lit(0))).cast("long"))
          .withColumn(s"__t${i + 1}", regexp_replace(col(s"__t$i"), pat, repl))
    }
    stepped.select(col(idCol) +:
      col(s"__t${RedactionPatterns.length}").as("redacted") +:
      RedactionPatterns.map { case (name, _, _) => col(s"n_$name") }: _*)
  }

  /** Per-document top-`topK` terms by LOG-FREE tf-idf: score =
    * (tf · N) / df evaluated as exact-long tf·N cast to double and ONE
    * division — rank-equivalent to classic tf·log(N/df) within a
    * document for terms of equal tf, and (unlike log) bit-identical
    * across engines (this file's determinism contract bans
    * transcendentals; the multiplicative idf keeps the "rare terms
    * score higher" ordering that term extraction actually uses).
    *
    * Scale shape: reuses [[vocab]]'s explode → (token, doc) pre-agg
    * (collapses per-doc repetitions before any wide exchange), then a
    * token-keyed shuffle join against the document-frequency aggregate
    * (vocab-sized, NOT corpus-sized — broadcastable when the vocabulary
    * fits, AQE decides), then one doc-keyed window for the per-document
    * top-k. The corpus row count rides along as a broadcast single-row
    * frame — no driver-side count, the plan stays one job. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, topK: Int = TfidfTopK,
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val src = Dedup.balanced(df.select(col(idCol), col(textCol)))
    // the (token, doc) pre-agg feeds tf, df AND N — persist it so the
    // token explosion over the corpus runs once, not three times (the
    // same shared-scan move as Dedup's shingle inverted index). Cache
    // contract (as in Packing.pack): the frame stays persisted until
    // LRU eviction or spark.catalog.clearCache() — repeated library
    // calls in one session accumulate cached relations by design
    val perDoc = src
      .select(col(idCol), explode(tokens(col(textCol), tokenizer)).as("token"))
      .groupBy(col("token"), col(idCol)).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = perDoc.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // N is the CORPUS size, not the tokenized-doc count (a zero-token
    // doc under UnicodeWords drops out of perDoc but still counts) — a
    // columnless count over the scan, not a third pass over tokens
    val n = src.select(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("token").asc)
    perDoc.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round((col("tf") * col("__n")).cast("double") / col("df"), 4))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topK)
      .select(col(idCol), col("token"), col("tf"), col("df"), col("tfidf"))
  }

  /** Sliding-window token chunking with overlap — the RAG/context-window
    * chunker: windows of `window` tokens starting every `stride` tokens
    * (overlap = window − stride), the final window allowed to run short.
    * A start whose PREDECESSOR window already reached the document's end
    * is dropped (it would add no new tokens); start 1 always survives,
    * so every document yields ≥1 chunk. Chunks surface as md5 content
    * hashes plus exact token spans — one codegen'd explode, no shuffle,
    * no UDF; at 100 TB this is a pure scan-side row multiplier.
    *
    * `chunk_idx` is derivable from the start ((start−1) div stride + 1)
    * BECAUSE dropped starts are only ever a suffix of the arithmetic
    * start sequence — both engines recompute it rather than threading an
    * ordinality through the explode. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      window: Int = ChunkWindow, stride: Int = ChunkStride,
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val ws = tokens(col(textCol), tokenizer)
    val starts = filter(sequence(lit(1), greatest(size(ws), lit(1)), lit(stride)),
      s => (s === 1) || (s - stride + (window - 1) < size(ws)))
    df.select(col(idCol), ws.as("__ws"), explode(starts).as("start_tok"))
      .select(
        col(idCol),
        (expr(s"(start_tok - 1) div $stride") + 1).cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        size(slice(col("__ws"), col("start_tok"), lit(window))).cast("long").as("n_tokens"),
        md5(concat_ws(" ", slice(col("__ws"), col("start_tok"), lit(window)))).as("chunk_hash"))
  }

  /** Fixed-point scale for [[lmScore]] transition probabilities: a
    * bigram's conditional probability c2/c1 is carried as the exact
    * integer (c2 · LmScale) div c1, so per-document sums are
    * order-independent longs (a float log-prob sum would be
    * partial-aggregation-order dependent and unverifiable cross-engine —
    * the same move as the fixed-point PageRank). */
  val LmScale = 1000000L

  /** Corpus-LM quality scoring (the CCNet-style perplexity filter of
    * Wenzek et al. '20, rational-arithmetic variant): train bigram and
    * prefix counts on the corpus itself, score each document by its MEAN
    * TRANSITION PROBABILITY — the average over its bigram occurrences of
    * p(w2|w1) = c2(w1,w2)/c1(w1·). Documents gluing common words in rare
    * orders score low (the boilerplate/gibberish signal); perplexity's
    * log is banned by this file's determinism contract, and the mean
    * probability is the monotone rational stand-in.
    *
    * Scale shape: the per-(doc, bigram) pre-aggregation collapses
    * within-document repetitions BEFORE anything wide (a doc looping one
    * phrase 10⁴ times contributes one row per distinct bigram), both
    * count tables derive from that pre-agg by map-side-combinable sums,
    * the c2⋈c1 probability table is a VOCAB-sized join (never touches
    * doc ids), and the score join multiplies each distinct bigram's q by
    * its in-doc multiplicity — so the Zipf-hot join keys ("the …"
    * bigrams) carry per-doc-distinct rows, not per-occurrence rows.
    * Per-document reduce sums exact longs. Documents under 2 tokens
    * surface with n_bigrams = 0 and a NULL score (x/0 parity with the
    * oracle).
    *
    * Integer-range bound: c2 · LmScale must stay under 2⁶³ — valid
    * while no single bigram exceeds ~9.2·10¹² occurrences (a ~2·10¹³-
    * token corpus's hottest bigram sits orders of magnitude below);
    * beyond that, pre-scale the counts. */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    val ws = tokens(col(textCol), tokenizer)
    val pairs = when(size(ws) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(transform(sequence(lit(1), size(ws) - 1), i =>
        struct(element_at(ws, i).as("w1"), element_at(ws, i + 1).as("w2"))))
    val src = Dedup.balanced(df.select(col(idCol), col(textCol)))
    // the pre-agg feeds c2, c1 AND the score join — persist so the
    // corpus is tokenized and exploded once, not three times (same
    // shared-scan cache contract as [[tfidfTopTerms]])
    val perDocBg = src.select(col(idCol), explode(pairs).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c2 = perDocBg.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c2"))
    val c1 = perDocBg.groupBy(col("w1")).agg(sum(col("tf")).as("c1"))
    // exact fixed-point conditional probability; non-negative operands,
    // so truncating and flooring integer division agree cross-engine
    val qtab = c2.join(c1, "w1")
      .select(col("w1"), col("w2"), expr(s"(c2 * $LmScale) div c1").as("q"))
    val scored = perDocBg.join(qtab, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("q") * col("tf")).as("qsum"))
    src.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("qsum").cast("double") / (col("n_bigrams") * LmScale), 4).as("lm_score"))
  }

  /** Windowed co-occurrence counts — the corpus statistic behind
    * word2vec/GloVe-style embedding training and PMI collocation
    * mining: for every token position, pair it with the next `window`
    * tokens, count each unordered pair corpus-wide, and surface the
    * top-`topK` with unigram counts and an affinity ratio.
    *
    * `affinity` = (n_pairs · N) / (c1 · c2) — the PMI fraction without
    * the log (banned by this file's determinism contract; the ratio is
    * order-equivalent). Evaluated as two double products and one
    * division — deterministic IEEE in both engines, no accumulation.
    *
    * Scale shape: pair generation is a scan-side nested-sequence
    * explode (bounded by n·window per doc, no shuffle); the pair count
    * is ONE map-side-combinable aggregation keyed on the pair (Zipf-hot
    * pairs collapse in the combiner); unigram counts and the corpus
    * total are vocab-sized / 1-row broadcasts; top-k is per-partition
    * heaps. */
  def cooccurrence(df: DataFrame, idCol: String, textCol: String,
      window: Int = 4, topK: Int = 100,
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(topK > 0, s"topK must be positive, got $topK")
    // tokenize ONCE and share the token-array frame across all three
    // consumers (pair counts, unigram counts, N) — the tfidf shared-scan
    // move; without it the corpus is scanned and tokenized three times
    val toksF = Dedup.balanced(df.select(col(idCol), col(textCol)))
      .select(tokens(col(textCol), tokenizer).as("__ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ws = col("__ws")
    // i runs to size-1, j over (i, min(i+window, size)] — both sequences
    // are always ascending and non-empty by construction (a descending
    // Spark sequence() would silently reverse, never happen here)
    val pairs = when(size(ws) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(flatten(transform(sequence(lit(1), size(ws) - 1), i =>
        transform(sequence(i + 1, least(i + window, size(ws))), j => {
          val a = element_at(ws, i)
          val b = element_at(ws, j)
          when(a <= b, struct(a.as("w1"), b.as("w2")))
            .otherwise(struct(b.as("w1"), a.as("w2")))
        }))))
    val pc = toksF.select(explode(pairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pairs"))
    val uni = toksF.select(explode(ws).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = toksF.select(sum(size(ws)).cast("long").as("__n"))
    pc.join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("n_pairs"), col("c1"), col("c2"),
        round((col("n_pairs").cast("double") * col("__n")) /
          (col("c1").cast("double") * col("c2")), 4).as("affinity"))
      .orderBy(col("n_pairs").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Winnowing window width: every run of [[WinnowW]] consecutive grams
    * contributes at least one fingerprint, so any shared span of
    * WinnowW + n − 1 tokens is guaranteed to collide. */
  val WinnowW = 4

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03):
    * the guaranteed-coverage selection the single min-hash of
    * [[fingerprint]] lacks. Per document, the ORDERED (non-distinct)
    * word-3-gram sequence is hashed (60 md5 bits) and each width-`w`
    * window selects its minimum; the output is the distinct selected
    * hash set per document — the local-similarity sketch used by
    * plagiarism/clone detectors (MOSS). Documents with fewer than `w`
    * grams yield no fingerprints (no complete window exists).
    *
    * Scale shape: gram hashing is scan-side; the window min is a
    * per-document sliding frame over gram positions (bounded by doc
    * length, never corpus-wide); the shuffle ships (doc, 8-byte hash)
    * pairs; density is ~2/(w+1) of the gram count before the distinct. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, w: Int = WinnowW): DataFrame = {
    require(w >= 1, s"need positive window: $w")
    import org.apache.spark.sql.expressions.Window
    val ss = df.sparkSession
    import ss.implicits._
    // positioned ORDERED grams via a balanced typed flatMap — the
    // shingleRows lesson: a JVM closure beats interpreted
    // higher-order-function eval on the hot exploded path, and
    // balanced() keeps a small parquet input from running the whole
    // pipeline in one scan partition
    val nn = n
    val g = graft.core.Algebra.balanced(
      df.select(col(idCol).cast("long"), col(textCol).cast("string")))
      .as[(Long, String)]
      .flatMap { p: (Long, String) =>
        val ws = p._2.trim.split("\\s+")
        if (ws.length < nn) Iterator.empty[(Long, Int, String)]
        else ws.sliding(nn).zipWithIndex.map { case (gr, i) => (p._1, i, gr.mkString(" ")) }
      }.toDF(idCol, "pos", "gram")
      .select(col(idCol), col("pos"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("hv"))
    val frame = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val span = Window.partitionBy(col(idCol))
    g.withColumn("wmin", min(col("hv")).over(frame))
      .withColumn("m", count(lit(1)).over(span))
      .filter(col("pos") <= col("m") - w) // 0-based: starts 0..m-w
      .select(col(idCol), col("wmin").as("fp")).distinct()
  }

  /** Document fingerprinting: full-content md5 over the normalized text
    * (lowercase, whitespace collapsed) plus a winnowing-style min-shingle
    * hash — the rolling-hash minimum used by near-dup sketchers. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = lower(regexp_replace(trim(col(textCol)), "\\s+", " "))
    df.select(
      col(idCol),
      md5(norm).as("fp_full"),
      array_min(transform(shingles(col(textCol)), s => md5(s))).as("fp_min"))
  }

  /** Segment size (words) and cross-document frequency floor for
    * [[segmentDedup]], pinned by the oracle suite. */
  val SegmentWords = 10
  val SegmentMinDocs = 2L

  /** C4-style cross-document segment dedup (Raffel et al. '20 §2.2
    * dedupe lines occurring more than once in the corpus; Gopher and
    * RefinedWeb run the same rule): cut every document into fixed
    * `segWords`-word segments (the "line" unit for single-line corpora),
    * count each EXACT segment's distinct-document frequency corpus-wide,
    * delete segments appearing in ≥ `minDocs` documents, and reassemble
    * the surviving text in original order. Unlike [[Dedup.dupSpans]]
    * (gram evidence between a specific document PAIR), this rule is
    * global: boilerplate shared by thousands of pages disappears from
    * every one of them in a single pass.
    *
    * Output: one row per document — `doc_id`, surviving `text` (empty
    * string when everything was boilerplate), `n_kept`/`n_dropped`
    * segment counts.
    *
    * Scale shape: segments travel as md5 digests into ONE
    * map-side-combinable (digest → distinct-doc count) aggregate; the
    * verdict rejoins segments on the digest (hot boilerplate digests are
    * exactly the frequent keys — the count side is tiny after
    * aggregation and broadcasts); reassembly is one (doc) aggregation
    * ordered by segment position. No step carries text through a
    * shuffle except the final per-doc reassembly of SURVIVING segments. */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = SegmentWords, minDocs: Long = SegmentMinDocs): DataFrame = {
    require(segWords > 0, s"segWords must be positive, got $segWords")
    require(minDocs >= 2, s"minDocs below 2 would delete every segment: $minDocs")
    val id = col(s"`$idCol`")
    // (doc, seg_id, segment text): posexplode the word array, regroup by
    // word-position div segWords — the fixed segmentation both engines
    // replay exactly (trailing short segments are segments too)
    val words = df.select(id.as("__doc"),
        posexplode(tokens(col(s"`$textCol`"))).as(Seq("__pos", "__w")))
    // persisted: the segment frame feeds both the frequency count and
    // the verdict join — without it the corpus is segmented twice
    val segs = words
      .groupBy(col("__doc"), (col("__pos") / segWords).cast("long").as("__seg"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("__pos"), col("__w")))),
          x => x.getField("__w"))).as("__text"))
      .withColumn("__h", md5(col("__text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus-wide distinct-document frequency per exact segment — the
    // shuffle carries (digest, doc) pairs, never segment text; after
    // aggregation the hot set is tiny (boilerplate digests) → broadcasts
    val hot = segs.groupBy(col("__h"))
      .agg(countDistinct(col("__doc")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"), lit(true).as("__hot"))
    // one verdict join + ONE per-doc aggregation: surviving text,
    // kept/dropped counts, all conditional on the hot mark — every
    // document emits a row (all-boilerplate docs come back empty;
    // silently vanishing rows would corrupt downstream joins on doc_id)
    segs.join(hot, Seq("__h"), "left")
      .groupBy(col("__doc"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__hot").isNull,
            struct(col("__seg"), col("__text"))))),
          x => x.getField("__text"))).as("text"),
        count(when(col("__hot").isNull, 1)).as("n_kept"),
        count(when(col("__hot"), 1)).as("n_dropped"))
      .select(col("__doc").as(idCol), col("text"), col("n_kept"), col("n_dropped"))
  }

  /** Feature-hashing vectorizer (Weinberger et al. '09) — the
    * vocabulary-free text→vector bridge: every token hashes to a
    * dimension (md5 prefix mod `dim`) and a sign (one independent hash
    * bit, which kills the collision bias the unsigned variant carries),
    * and the document's vector is the signed occurrence count per
    * dimension. Emitted in LONG form (doc_id, dim, weight) — sparse,
    * exact integers, and the shape a downstream matrix op or the
    * embedding operators consume directly. No vocabulary broadcast, no
    * OOV: the estimator's memory is O(dim) regardless of corpus size,
    * which is the whole point at 100 TB.
    *
    * Scale shape: tokenize is narrow; the ONLY exchange is the
    * map-side-combined (doc, dim) aggregation whose key space is
    * |docs|·dim bounded. */
  def hashEmbed(df: DataFrame, idCol: String, textCol: String, dim: Int = 16,
      tokenizer: Tokenizer = Tokenizer.Whitespace): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim must be in [2, 4096], got $dim")
    val tok = df.select(col(idCol), explode(tokens(col(textCol), tokenizer)).as("__t"))
    val h = md5(col("__t"))
    // dim from the first 8 hex chars, sign from the 9th (an independent
    // nibble): '0'-'7' -> +1, '8'-'f' -> -1
    tok
      .withColumn("dim", (conv(substring(h, 1, 8), 16, 10).cast("long") % dim))
      .withColumn("__s", when(substring(h, 9, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"),
        lit(1L)).otherwise(lit(-1L)))
      .groupBy(col(idCol), col("dim"))
      .agg(sum(col("__s")).as("weight"))
  }

  /** Character-distribution Gini impurity — the entropy-style
    * low-diversity detector (keyboard mash, padding, single-char spam)
    * WITHOUT the cross-engine-banned logarithm: gini = 1 − Σc²/n² over
    * per-document character counts is a pure rational of exact
    * integers (one IEEE division at the end), ranking documents by
    * character diversity the way entropy would. Near 0 ⇒ one character
    * dominates; higher ⇒ diverse. Reported with n_chars and the
    * distinct-character count.
    *
    * Scale shape: the char fan-out pre-aggregates map-side to
    * (doc, char) — at most |alphabet| rows per document cross the
    * exchange, never the characters themselves; the per-doc summary is
    * a second same-key aggregation. */
  def charGini(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // rebalance before the per-char fan-out: the transform chain is
    // codegen-fallback and a small parquet scans as one partition —
    // without this the whole char explode runs single-threaded.
    // Empty/whitespace-only docs are dropped BEFORE the explode:
    // sequence(1, 0) is DESCENDING [1, 0] (default step −1) and would
    // fabricate two empty-string "chars", while the oracle's
    // range(1, 1) emits nothing — both engines now agree: no row.
    val chars = graft.core.Algebra.balanced(df.select(col(idCol), col(textCol)))
      .where(length(trim(col(textCol))) >= 1)
      .select(col(idCol),
        explode(expr(s"transform(sequence(1, length(trim($textCol))), i -> substr(trim($textCol), i, 1))")).as("__c"))
    chars.groupBy(col(idCol), col("__c")).agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        round(lit(1.0) - sum(col("__n") * col("__n")).cast("double") /
          (sum(col("__n")) * sum(col("__n"))).cast("double"), 4).as("gini"))
  }

  /** Content-defined-chunking window (words) and boundary modulus: a
    * cut lands after word j when the 60-bit hash of the [[CdcWindow]]
    * words ending at j is ≡ 0 mod [[CdcMask]] — expected chunk length
    * [[CdcMask]] words, boundaries a pure function of LOCAL content. */
  val CdcWindow = 4
  val CdcMask = 16L

  /** Content-defined chunking + chunk-level cross-document dedup — the
    * storage-dedup primitive (Rabin/LBFS '01, FastCDC) at word
    * granularity: because each boundary depends only on the
    * [[CdcWindow]] words before it, an insertion or deletion re-cuts
    * ONE chunk and every later boundary re-synchronizes — unlike the
    * fixed-size segments of [[segmentDedup]], where a one-word shift
    * changes every downstream segment. Reported per document: chunk
    * count, chunks whose exact content appears in ≥2 documents, and the
    * duplicated-chunk ratio — the shift-robust boilerplate measure.
    * Documents shorter than the window are a single chunk.
    *
    * Scale shape: word/gram fan-out is a balanced narrow flatMap; the
    * chunk-id assignment is one per-doc running sum over word
    * positions; chunks travel as 32-byte digests into the corpus-wide
    * frequency count (map-side-combined, hot set tiny → broadcasts
    * back); one per-doc verdict aggregation. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = CdcWindow, mask: Long = CdcMask): DataFrame = {
    require(window >= 1 && mask >= 2, s"bad window=$window mask=$mask")
    import org.apache.spark.sql.expressions.Window
    val ss = df.sparkSession
    import ss.implicits._
    val w = window
    val rows = graft.core.Algebra.balanced(
      df.select(col(s"`$idCol`").cast("long"), col(s"`$textCol`").cast("string")))
      .as[(Long, String)]
      .flatMap { p: (Long, String) =>
        val ws = p._2.trim.split("\\s+")
        ws.iterator.zipWithIndex.map { case (wd, i0) =>
          val j = i0 + 1 // 1-based, matching the oracle's range(1, m+1)
          val gram = if (j >= w) ws.slice(j - w, j).mkString(" ") else null
          (p._1, j, wd, gram)
        }
      }.toDF("__doc", "__pos", "__w", "__gram")
    val cut = when(col("__gram").isNotNull &&
      conv(substring(md5(col("__gram")), 1, 15), 16, 10).cast("long") % mask === 0L, 1L)
      .otherwise(0L)
    val before = Window.partitionBy(col("__doc")).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = rows.withColumn("__cut", cut)
      .withColumn("__chunk", coalesce(sum(col("__cut")).over(before), lit(0L)))
      .groupBy(col("__doc"), col("__chunk"))
      .agg(md5(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("__pos"), col("__w")))),
          x => x.getField("__w")))).as("__h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = chunks.groupBy(col("__h"))
      .agg(countDistinct(col("__doc")).as("__nd"))
      .filter(col("__nd") >= 2L)
      .select(col("__h"), lit(true).as("__hot"))
    chunks.join(hot, Seq("__h"), "left")
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("__hot"), 1)).as("n_dup_chunks"))
      .select(col("__doc").as(idCol), col("n_chunks"), col("n_dup_chunks"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 4).as("dup_ratio"))
  }

  /** DuckDB half of [[cdcChunks]]: same 1-based word fan-out, same
    * window-gram hash boundary, same strictly-before running sum, same
    * exact-content chunk digests and ≥2-distinct-docs rule. */
  def cdcChunksOracle(table: String, idCol: String, textExpr: String,
      window: Int = CdcWindow, mask: Long = CdcMask): String = {
    val gram = (window - 1 to 0 by -1).map {
      case 0 => "ws[i]"
      case k => s"ws[i-$k]"
    }.mkString(" || ' ' || ")
    s"""WITH t AS (SELECT $idCol, regexp_split_to_array(trim($textExpr), '\\s+') AS ws FROM $table),
       |w AS (SELECT $idCol, i, ws[i] AS word,
       |        CASE WHEN i >= $window
       |          THEN ('0x' || substr(md5($gram), 1, 15))::BIGINT END AS hv
       |      FROM t, unnest(range(1, len(ws) + 1)) AS u(i)),
       |b AS (SELECT $idCol, i, word,
       |        CASE WHEN hv % $mask = 0 THEN 1 ELSE 0 END AS cut FROM w),
       |c AS (SELECT $idCol, i, word,
       |        coalesce(sum(cut) OVER (PARTITION BY $idCol ORDER BY i
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |      FROM b),
       |ch AS (SELECT $idCol, chunk_id, md5(string_agg(word, ' ' ORDER BY i)) AS h
       |       FROM c GROUP BY 1, 2),
       |hot AS (SELECT h FROM ch GROUP BY h HAVING count(DISTINCT $idCol) >= 2)
       |SELECT ch.$idCol, count(*)::BIGINT AS n_chunks,
       |  sum(CASE WHEN hot.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
       |  round(sum(CASE WHEN hot.h IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS dup_ratio
       |FROM ch LEFT JOIN hot ON hot.h = ch.h GROUP BY 1"""
      .stripMargin
  }

  /** DuckDB half of [[charGini]]. */
  def charGiniOracle(table: String, idCol: String, textExpr: String): String =
    s"""WITH c AS (SELECT $idCol,
       |        unnest(list_transform(range(1, length(trim($textExpr)) + 1),
       |                              i -> substr(trim($textExpr), i::INT, 1))) AS ch
       |      FROM $table),
       |f AS (SELECT $idCol, ch, count(*) AS n FROM c GROUP BY 1, 2)
       |SELECT $idCol, sum(n)::BIGINT AS n_chars, count(*)::BIGINT AS n_distinct_chars,
       |  round(1.0 - sum(n * n)::DOUBLE / (sum(n)::DOUBLE * sum(n)::DOUBLE), 4) AS gini
       |FROM f GROUP BY 1""".stripMargin

  /** Exact phrase search over a positional index — the inverted-index
    * query shape: posting lists (doc, position) are materialized ONLY
    * for the phrase's terms (the `isin` filter pushes into the scan, so
    * at 100 TB the index read is the phrase terms' postings, never the
    * corpus), then consecutive terms align by an equi-join on
    * (doc, pos − i). Positions inside a document are unique, so the
    * joins need no dedup; output is (doc_id, n_hits) per matching doc.
    * A 0-based (Spark) vs 1-based (oracle) position origin cancels in
    * the offset-only join. */
  def phraseSearch(docs: DataFrame, phrase: Seq[String], idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val postings = docs.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
      .where(col("token").isin(phrase: _*))
    val first = postings.where(col("token") === phrase.head)
      .select(col(idCol), col("pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(first) { case (acc, (w, i)) =>
      val next = postings.where(col("token") === w)
        .select(col(idCol), (col("pos") - i).as("pos"))
      acc.join(next, Seq(idCol, "pos"), "left_semi")
    }
    matched.groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
  }

  /** DuckDB half of [[phraseSearch]] (1-based positions — the origin
    * cancels in the consecutive-position joins). */
  def phraseSearchOracle(table: String, phrase: Seq[String], idCol: String = "doc_id",
      textExpr: String = "text"): String = {
    val terms = phrase.map(t => s"'$t'").mkString(", ")
    val joins = phrase.zipWithIndex.tail.map { case (w, i) =>
      s"JOIN p t$i ON t$i.$idCol = t0.$idCol AND t$i.pos = t0.pos + $i AND t$i.token = '$w'"
    }.mkString("\n       |      ")
    s"""WITH t AS (SELECT $idCol, regexp_split_to_array(trim($textExpr), '\\s+') AS arr FROM $table),
       |p AS (SELECT $idCol, arr[i] AS token, i AS pos
       |      FROM t, LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i)
       |      WHERE arr[i] IN ($terms)),
       |m AS (SELECT t0.$idCol FROM p t0
       |      $joins
       |      WHERE t0.token = '${phrase.head}')
       |SELECT $idCol, count(*) AS n_hits FROM m GROUP BY 1""".stripMargin
  }

  /** DuckDB half of [[hashEmbed]]. */
  def hashEmbedOracle(table: String, idCol: String, textExpr: String, dim: Int = 16,
      tokenizer: Tokenizer = Tokenizer.Whitespace): String =
    s"""WITH t AS (SELECT $idCol, unnest(${tokenizer.duck(textExpr)}) AS tk FROM $table),
       |h AS (SELECT $idCol, md5(tk) AS h FROM t),
       |v AS (SELECT $idCol, ('0x' || substr(h, 1, 8))::BIGINT % $dim AS dim,
       |        CASE WHEN substr(h, 9, 1) IN ('0','1','2','3','4','5','6','7')
       |          THEN 1 ELSE -1 END AS s FROM h)
       |SELECT $idCol, dim, sum(s)::BIGINT AS weight FROM v GROUP BY 1, 2"""
      .stripMargin
}
