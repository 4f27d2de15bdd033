package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class WarehouseSpec extends SparkTestBase {
  import spark.implicits._

  test("same-key same-count bucketed tables join with ZERO exchange") {
    val facts = (1L to 2000L).map(i => (i % 97, i)).toDF("k", "fv")
    val dims = (0L until 97L).map(k => (k, s"d$k")).toDF("k", "dv")
    Warehouse.writeBucketed(facts, "wh_facts", "k", buckets = 8)
    Warehouse.writeBucketed(dims, "wh_dims", "k", buckets = 8)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path so the assertion is about bucketing,
      // not about the dim side happening to broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("wh_facts").join(spark.table("wh_dims"), "k")
      assert(joined.count() === 2000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffled:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS wh_facts")
      spark.sql("DROP TABLE IF EXISTS wh_dims")
    }
  }

  test("mismatched bucket counts fall back to a correct (shuffled) join") {
    val a = (1L to 100L).map(i => (i % 7, i)).toDF("k", "av")
    val b = (0L until 7L).map(k => (k, k * 10)).toDF("k", "bv")
    Warehouse.writeBucketed(a, "wh_a", "k", buckets = 4)
    Warehouse.writeBucketed(b, "wh_b", "k", buckets = 3)
    try {
      val joined = spark.table("wh_a").join(spark.table("wh_b"), "k")
      assert(joined.count() === 100) // correctness never depends on layout
    } finally {
      spark.sql("DROP TABLE IF EXISTS wh_a")
      spark.sql("DROP TABLE IF EXISTS wh_b")
    }
  }

  test("partitioned parquet prunes non-matching partitions at planning time") {
    val dir = tempDir("graft-part").toString
    val docs = Seq(
      (1L, "en", "aaa"), (2L, "en", "bbb"), (3L, "de", "ccc"), (4L, "fr", "ddd"))
      .toDF("doc_id", "lang", "text")
    Warehouse.writePartitioned(docs, dir, Seq("lang"))
    val en = spark.read.parquet(dir).filter(col("lang") === "en")
    assert(en.count() === 2)
    val plan = en.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"no partition pruning in plan:\n$plan")
    // the predicate lives in PartitionFilters (resolved from directory
    // names at planning time), NOT in DataFilters/PushedFilters
    val scanLine = plan.split("\n").find(_.contains("PartitionFilters")).getOrElse("")
    assert("""PartitionFilters: \[[^\]]*\(lang#\d+ = en\)""".r.findFirstIn(scanLine).isDefined,
      s"partition predicate missing from PartitionFilters:\n$scanLine")
    assert(scanLine.contains("DataFilters: []"),
      s"lang predicate leaked into DataFilters:\n$scanLine")
    // directory layout on disk: one subdir per lang
    val subdirs = new java.io.File(dir).list().filter(_.startsWith("lang=")).sorted
    assert(subdirs.toSeq === Seq("lang=de", "lang=en", "lang=fr"))
  }

  test("applyChangelog: update replaces, delete removes, insert adds, rest survives") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val changes = Seq(
      (2L, "U", "b2", 25.0),   // replace key 2
      (3L, "D", null, 0.0),    // remove key 3
      (9L, "I", "new", 90.0))  // add key 9
      .toDF("k", "op", "s", "v")
    val merged = Warehouse.applyChangelog(base, changes, "k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(merged === Set((1L, "a", 10.0), (2L, "b2", 25.0), (9L, "new", 90.0)))
  }

  test("applyChangelog: update on an absent key degrades to an insert (upsert)") {
    val base = Seq((1L, "a")).toDF("k", "s")
    val changes = Seq((5L, "U", "ghost")).toDF("k", "op", "s")
    val merged = Warehouse.applyChangelog(base, changes, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(merged === Set((1L, "a"), (5L, "ghost")))
  }

  test("scd2: runs collapse, versions number changes, only the last is current") {
    // user 1: a a b a  → versions a(1), b(2), a(3); user 2: x → one version
    val log = Seq(
      (1L, "a", 10L, 1L), (1L, "a", 20L, 2L), (1L, "b", 30L, 3L),
      (1L, "a", 40L, 4L), (2L, "x", 15L, 5L))
      .toDF("user_id", "state", "t", "eid")
    val hist = Warehouse.scd2(log, "user_id", "state", Seq("t", "eid"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getInt(4), r.getBoolean(5)))
      .toSet
    assert(hist === Set(
      (1L, "a", 10L, Some(30L), 1, false),
      (1L, "b", 30L, Some(40L), 2, false),
      (1L, "a", 40L, None, 3, true),
      (2L, "x", 15L, None, 1, true)))
  }

  test("mergeAggStates: merge(agg(A), agg(B), agg(C)) equals agg(A ∪ B ∪ C)") {
    val all = (1L to 300L).map(i => (i % 13, (i * 7 % 100) + 0.25))
    val parts = all.grouped(100).toSeq // three arbitrary delta batches
    val states = parts.map(p =>
      Warehouse.aggState(p.toDF("k", "v"), Seq("k"), "v"))
    val merged = Warehouse.mergeAggStates(states, Seq("k"), "v")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDecimal(2).doubleValue(), r.getDouble(3), r.getDouble(4))))
      .toMap
    val direct = Warehouse.aggState(all.toDF("k", "v"), Seq("k"), "v")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDecimal(2).doubleValue(), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(merged === direct)
  }

  test("mergeAggStates: a key present in only one delta survives the merge") {
    val a = Warehouse.aggState(Seq((1L, 10.0)).toDF("k", "v"), Seq("k"), "v")
    val b = Warehouse.aggState(Seq((2L, 5.0), (2L, 7.0)).toDF("k", "v"), Seq("k"), "v")
    val m = Warehouse.mergeAggStates(Seq(a, b), Seq("k"), "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(1L -> 1L, 2L -> 2L))
  }

  test("scd2: a null state is a real state — it opens and closes versions") {
    val log = Seq(
      (1L, Some("a"), 10L, 1L), (1L, None, 20L, 2L), (1L, None, 30L, 3L),
      (1L, Some("a"), 40L, 4L))
      .toDF("user_id", "state", "t", "eid")
    val hist = Warehouse.scd2(log, "user_id", "state", Seq("t", "eid"))
      .collect().map(r => (Option(r.getString(1)), r.getLong(2), r.getInt(4)))
      .toSet
    // a(v1) → null(v2, one version for the run of two) → a(v3)
    assert(hist === Set(
      (Some("a"), 10L, 1), (None, 20L, 2), (Some("a"), 40L, 3)))
  }
}
