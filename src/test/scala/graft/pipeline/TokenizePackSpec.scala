package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Structural invariants of [[TextPipeline.tokenizePack]] — the
  * cross-engine hash check is the `pipeline_tokenize_pack` oracle row;
  * this spec pins the packing facts any input must satisfy, at
  * sf0.001. */
class TokenizePackSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("exhausted trainer, hand-traced end to end: 2 merges, 5 tokens, one sequence") {
    import spark.implicits._
    // "aa aa ab" + "ab aa": training dries up after (a,a)->aa@3 and
    // (a,b)->ab@2 — well short of the 64 requested rounds. Vocab:
    // a=1, b=2, aa=26+1=27, ab=26+2=28. Tape in doc order:
    // [aa,aa,ab] ++ [ab,aa] = ids 27,27,28,28,27 — md5 of the joined
    // list computed independently (and equal to DuckDB's answer on the
    // same fixture through the hardened LEFT-JOIN CTE chain).
    val docs = Seq((1L, "aa aa ab"), (2L, "ab aa")).toDF("doc_id", "text")
    val got = TextPipeline.tokenizePack(docs, "doc_id", "text").collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)) ==
      (0L, 0L, 5L, 2L, "73ec822aa7eea2a2c2cec98d7f6ed65c"),
      s"hand-traced exhaustion fixture mismatch: $r")
  }

  test("shard writer round-trips: one file per shard, read-back re-digests to the manifest") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = tempDir("graft-shards").toString
    val manifest = TextPipeline.tokenizePackWrite(docs, "doc_id", "text", out)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    assert(manifest.nonEmpty)
    // layout: every shard present in the manifest has a dir with
    // EXACTLY one parquet part (write parallelism = shard count)
    val shardsOnDisk = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).toSeq
    assert(shardsOnDisk.map(_.getName.drop(6).toLong).toSet ==
      manifest.values.map(_._1).toSet)
    for (d <- shardsOnDisk)
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"${d.getName} has more than one part file")
    // content: re-digesting the read-back id arrays reproduces the
    // manifest bit-for-bit, and lengths match the token counts
    val back = spark.read.parquet(out)
      // partition-dir inference types shard= as int; normalize
      .select(col("seq_id"), col("shard").cast("long").as("shard"),
        size(col("ids")).cast("long").as("n"),
        md5(array_join(transform(col("ids"), x => x.cast("string")), ",")).as("m"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(back == manifest,
      s"read-back shards diverge from the manifest (e.g. ${(manifest.toSet -- back.toSet).take(2)})")
  }

  test("packed sequences tile the token tape exactly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val packed = TextPipeline.tokenizePack(docs, "doc_id", "text").persist()
    try {
      val cap = Packing.Capacity
      val n = packed.count()
      assert(n > 1, "corpus packed into <= 1 sequence — invariants vacuous")
      // every sequence id in [0, n) appears exactly once (the tape has
      // no holes), and all but the last carry exactly `capacity` tokens
      assert(packed.agg(min(col("seq_id")), max(col("seq_id"))).head().toSeq
        == Seq(0L, n - 1))
      val short = packed.filter(col("seq_id") < n - 1 && col("n_tokens") =!= cap).count()
      assert(short == 0, s"$short non-final sequences are not capacity-full")
      assert(packed.filter(col("seq_id") === n - 1)
        .head().getAs[Long]("n_tokens") <= cap)
      // shard is the deterministic residue, docs-per-sequence is sane
      assert(packed.filter(
        col("shard") =!= pmod(col("seq_id"), lit(TextPipeline.PackShards.toLong))).count() == 0)
      assert(packed.filter(col("n_docs") < 1).count() == 0)
      // total token mass equals the corpus's BPE token count (the same
      // trained merges applied per document) — packing loses nothing
      val merges = TextPipeline.bpeTrain(docs, "doc_id", "text")
        .orderBy(col("rank")).collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val total = TextPipeline.bpeApply(docs, "doc_id", "text", merges)
        .agg(sum(col("n_tokens"))).head().getLong(0)
      val packedTotal = packed.agg(sum(col("n_tokens"))).head().getLong(0)
      assert(packedTotal == total,
        s"packed token mass $packedTotal != corpus BPE token mass $total")
    } finally { packed.unpersist(); () }
  }
}
