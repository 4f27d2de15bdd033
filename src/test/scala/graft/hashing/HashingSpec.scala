package graft.hashing

import graft.SparkTestBase
import graft.types.{RelSchema, Value}
import org.apache.spark.sql.types._

/** Mirrors the reference's hashing/database-value determinism tests
  * (reference test/test_relational_engine.ml:54-65, 136-215). */
class HashingSpec extends SparkTestBase {
  import spark.implicits._

  test("sha256Hex is lowercase hex SHA-256 of the UTF-8 bytes (FIPS 180-2 vector)") {
    assert(Hashing.sha256Hex("abc") ===
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }

  test("tupleHash is deterministic and attribute-order-insensitive") {
    val a = Hashing.tupleHash("r", Seq("x" -> Value.IntV(1), "y" -> Value.StrV("a")))
    val b = Hashing.tupleHash("r", Seq("y" -> Value.StrV("a"), "x" -> Value.IntV(1)))
    assert(a == b)
    assert(a.length == 64)
  }

  test("tupleHash distinguishes values, types, names, and relation") {
    val base = Hashing.tupleHash("r", Seq("x" -> Value.IntV(1)))
    assert(base != Hashing.tupleHash("r", Seq("x" -> Value.IntV(2))))
    assert(base != Hashing.tupleHash("r", Seq("x" -> Value.StrV("1")))) // type tag
    assert(base != Hashing.tupleHash("r", Seq("y" -> Value.IntV(1))))
    assert(base != Hashing.tupleHash("s", Seq("x" -> Value.IntV(1))))
  }

  test("adjacent string attrs cannot collide (length prefixing)") {
    assert(Hashing.tupleHash("r", Seq("a" -> Value.StrV("ab"), "b" -> Value.StrV("c"))) !=
      Hashing.tupleHash("r", Seq("a" -> Value.StrV("a"), "b" -> Value.StrV("bc"))))
  }

  test("rowHashCol matches driver-side tupleHash for all four types") {
    val df = Seq((42L, 1.5, "hello", true), (-7L, 2.0e10, "", false))
      .toDF("i", "f", "s", "b")
    val hashes = df.select(Hashing.rowHashCol("rel", df.schema)).collect().map(_.getString(0))
    val expected = Seq(
      Hashing.tupleHash("rel", Seq("i" -> Value.IntV(42), "f" -> Value.FloatV(1.5),
        "s" -> Value.StrV("hello"), "b" -> Value.BoolV(true))),
      Hashing.tupleHash("rel", Seq("i" -> Value.IntV(-7), "f" -> Value.FloatV(2.0e10),
        "s" -> Value.StrV(""), "b" -> Value.BoolV(false))))
    assert(hashes.toSeq == expected)
  }

  test("rowHashCol matches tupleHash on non-BMP strings (UTF-8 byte length prefix)") {
    // "🚀" is U+1F680: 2 UTF-16 units, 1 code point, 4 UTF-8 bytes — the
    // three length notions all differ, so any mixed convention diverges.
    val s = "a🚀bé" // ascii + supplementary + latin-1
    val df = Seq(Tuple1(s)).toDF("t")
    val colHash = df.select(Hashing.rowHashCol("r", df.schema)).head().getString(0)
    assert(colHash == Hashing.tupleHash("r", Seq("t" -> Value.StrV(s))))
  }

  test("rowHashCol normalizes int widths") {
    val narrow = Seq(Tuple1(5)).toDF("x") // IntegerType
    val wide = Seq(Tuple1(5L)).toDF("x")  // LongType
    val h1 = narrow.select(Hashing.rowHashCol("r", narrow.schema)).head().getString(0)
    val h2 = wide.select(Hashing.rowHashCol("r", wide.schema)).head().getString(0)
    assert(h1 == h2)
  }

  test("ContentRoot is order-insensitive and insert/remove-symmetric") {
    val h1 = Hashing.sha256Hex("one")
    val h2 = Hashing.sha256Hex("two")
    val a = Hashing.ContentRoot.empty.add(h1).add(h2)
    val b = Hashing.ContentRoot.empty.add(h2).add(h1)
    assert(a == b)
    assert(a.remove(h2) == Hashing.ContentRoot.empty.add(h1))
    assert(a.remove(h1).remove(h2) == Hashing.ContentRoot.empty)
    assert(Hashing.ContentRoot.empty.render == "empty")
    assert(a.render != b.add(h1).render)
  }

  test("contentRootOf equals incremental root over the same rows") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val bulk = Hashing.contentRootOf(df, Hashing.rowHashCol("r", df.schema))
    val inc = Seq(
      Seq("k" -> Value.IntV(1), "v" -> Value.StrV("a")),
      Seq("k" -> Value.IntV(2), "v" -> Value.StrV("b")),
      Seq("k" -> Value.IntV(3), "v" -> Value.StrV("c")),
    ).foldLeft(Hashing.ContentRoot.empty)((r, t) => r.add(Hashing.tupleHash("r", t)))
    assert(bulk == inc)
  }

  test("relationHash covers name, schema, and content") {
    val schema = RelSchema(List("x" -> "integer"))
    val root = Hashing.ContentRoot.empty.add(Hashing.sha256Hex("t"))
    val h = Hashing.relationHash("r", schema, root)
    assert(h != Hashing.relationHash("r2", schema, root))
    assert(h != Hashing.relationHash("r", RelSchema(List("x" -> "natural")), root))
    assert(h != Hashing.relationHash("r", schema, Hashing.ContentRoot.empty))
  }

  test("databaseHash: empty db hashes its name; else sorted relation hashes") {
    assert(Hashing.databaseHash("db", Nil) == Hashing.sha256Hex("db"))
    val hs = Seq(Hashing.sha256Hex("a"), Hashing.sha256Hex("b"))
    assert(Hashing.databaseHash("db", hs) == Hashing.databaseHash("db", hs.reverse))
    assert(Hashing.databaseHash("db", hs) != Hashing.databaseHash("db", hs.take(1)))
  }

  test("dup probe catches digest-equal rows with distinct NaN payload bits") {
    // Two NaN bit patterns: the canonical quiet NaN and a payload-bearing
    // one. Both render "NaN" in the canonical digest encoding (digest-
    // EQUAL — the reference treats them as the same tuple), but their raw
    // bits differ, so an un-normalized xxhash64 pre-filter would declare
    // them distinct and silently miss the duplicate the digest catches.
    val weird = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    assert(weird.isNaN && java.lang.Double.doubleToRawLongBits(weird) !=
      java.lang.Double.doubleToRawLongBits(Double.NaN))
    val df = Seq((1L, Double.NaN), (1L, weird)).toDF("k", "f")
    val rh = Hashing.rowHashCol("r", df.schema)
    // precondition: the digests really are equal (injectivity gap exists)
    assert(df.select(rh).distinct().count() == 1)
    val (dup, root) = Hashing.rootWithDupCheck(df, rh)
    assert(dup.isDefined, "NaN-payload duplicate must be flagged")
    assert(root.count == 2)
    // same verdict through the prehashed (wide-batch) entry point
    val wide = df.withColumn("__rh", rh)
    val (dup2, root2) = Hashing.rootWithDupCheckPrehashed(wide, "__rh")
    assert(dup2 == dup && root2 == root)
  }

  test("rootWithDupCheckPrehashed agrees with rootWithDupCheck") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (2L, "b")).toDF("k", "v")
    val rh = Hashing.rowHashCol("r", df.schema)
    val (dup, root) = Hashing.rootWithDupCheck(df, rh)
    val (dup2, root2) = Hashing.rootWithDupCheckPrehashed(df.withColumn("__rh", rh), "__rh")
    assert(dup.isDefined && dup2 == dup && root2 == root)
    val clean = df.dropDuplicates()
    val (d3, r3) = Hashing.rootWithDupCheckPrehashed(clean.withColumn("__rh", rh), "__rh")
    assert(d3.isEmpty && r3 ==
      Hashing.contentRootOf(clean, Hashing.rowHashCol("r", clean.schema)))
  }
}
