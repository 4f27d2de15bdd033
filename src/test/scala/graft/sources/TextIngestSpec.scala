package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, StructField, LongType, StringType}

/** Ingest readers (JSONL/CSV with quarantine) and the shuffled shard
  * writer, driven against real temp files. */
class TextIngestSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def tmpDir(): String =
    tempDir("graft_ingest").toString

  test("readJsonl parses clean lines and quarantines malformed ones without failing") {
    val dir = tmpDir()
    val f = new java.io.PrintWriter(s"$dir/part0.jsonl")
    f.println("""{"doc_id": 1, "text": "hello world"}""")
    f.println("""{"doc_id": 2, "text": "second line"}""")
    f.println("""{"doc_id": 3 "text": "MISSING COMMA"}""")
    f.println("""not json at all""")
    f.close()
    val (clean, bad) = TextIngest.withQuarantine(
      TextIngest.readJsonl(spark, s"$dir/part0.jsonl", schema))
    val rows = clean.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "hello world"), (2L, "second line")))
    val raw = bad.collect().map(_.getString(0))
    assert(raw.length == 2 && raw.exists(_.contains("MISSING COMMA")) &&
      raw.contains("not json at all"))
  }

  test("readCsv parses headered rows with explicit types and quarantines bad rows") {
    val dir = tmpDir()
    val f = new java.io.PrintWriter(s"$dir/docs.csv")
    f.println("doc_id,text")
    f.println("""1,plain text""")
    f.println("""2,"quoted, with comma"""")
    f.println("""not_a_number,bad id""")
    f.close()
    val (clean, bad) = TextIngest.withQuarantine(
      TextIngest.readCsv(spark, s"$dir/docs.csv", schema))
    val rows = clean.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "plain text"), (2L, "quoted, with comma")))
    assert(bad.collect().map(_.getString(0)).exists(_.contains("not_a_number")))
  }

  test("writeShuffled lays out shard=*/ dirs whose in-file order is the shuffleOrder permutation") {
    val dir = tmpDir() + "/out"
    val d = (1 to 100).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    TextIngest.writeShuffled(d, "doc_id", dir, numShards = 4)
    // partition dirs exist
    val shards = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("shard="))
    assert(shards.toSet == (0 to 3).map(s => s"shard=$s").toSet)
    // reading one shard back preserves shard_pos order within files
    val back = spark.read.parquet(dir)
    assert(back.count() == 100)
    // the (shard, shard_pos) assignment equals the operator's
    val want = graft.pipeline.Splits.shuffleOrder(d, "doc_id", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = back.select(col("doc_id"), col("shard").cast("long"), col("shard_pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("incrementalNew keeps only first-in-batch keys absent from the corpus") {
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "k")
    val batch = Seq(
      (10L, "alpha"),  // known in corpus → dropped
      (11L, "gamma"), (13L, "gamma"), // new, duplicated in batch → keeper 11, 2 copies
      (12L, "delta"), // new, unique
    ).toDF("doc_id", "k")
    val r = graft.pipeline.Dedup.incrementalNew(corpus, batch, "doc_id", "k")
      .collect().map(x => (x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((11L, 2L), (12L, 1L)))
  }
}
