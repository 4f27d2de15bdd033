package graft.hashing

import java.security.MessageDigest
import java.util.HexFormat
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.types.{RelSchema, Value}

/** Content addressing: tuple, relation, and database state hashes
  * (reference lib/hashing.ml:29-56, lib/merkle.ml:41-67).
  *
  * The reference hashes a tuple as SHA-256 over the relation name plus the
  * sorted (attr, marshalled-value) pairs; a relation as name|schema|merkle
  * root; a database as the merkle root over relation hashes. We keep the
  * same identity structure with a canonical TEXT encoding (type-tagged and
  * length-prefixed, so `1` vs `"1"` and `("ab","c")` vs `("a","bc")` never
  * collide — SURVEY.md §7.4) instead of OCaml Marshal bytes.
  *
  * Two scale-minded departures, semantics preserved:
  *  - the tuple hash is computable both driver-side ([[tupleHash]]) and as
  *    a Catalyst Column ([[rowHashCol]]) so whole-relation hashing is one
  *    codegen'd scan, never a collect;
  *  - the reference's merkle "root" is the hash of the concatenated sorted
  *    member hashes (lib/merkle.ml:41-67, a placeholder by its own
  *    comment) — at 10^9 rows that concatenation is unbuildable, so the
  *    content root here is a COMMUTATIVE 4-limb wrapping sum of row hashes
  *    ([[ContentRoot]]): order-insensitive and change-sensitive like the
  *    reference's, plus O(1) incrementally updatable on insert/delete.
  */
object Hashing {

  def sha256Hex(s: String): String =
    HexFormat.of().formatHex(MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")))

  private def tagOf(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType => "i"
    case DoubleType | FloatType => "f"
    case StringType => "s"
    case BooleanType => "b"
    case other => throw new IllegalArgumentException(s"unhashable type: $other")
  }

  /** Canonical text encoding of one tuple (attrs sorted by name). The
    * length prefix is the UTF-8 BYTE length of the rendered value — the one
    * representation identical driver-side and in [[rowHashCol]]'s
    * `octet_length` (String.length counts UTF-16 units and Spark's `length`
    * counts code points, which diverge on supplementary-plane chars). */
  def encodeTuple(relName: String, attrs: Seq[(String, Value)]): String = {
    val parts = attrs.sortBy(_._1).map { case (n, v) =>
      val r = v match {
        case Value.IntV(i)   => i.toString
        case Value.FloatV(f) => f.toString
        case Value.StrV(s)   => s
        case Value.BoolV(b)  => b.toString
      }
      val byteLen = r.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      s"$n:${v.tag}:$byteLen:$r"
    }
    relName + "|" + parts.mkString(";")
  }

  /** Driver-side tuple hash (reference hash_tuple, lib/hashing.ml:29-45). */
  def tupleHash(relName: String, attrs: Seq[(String, Value)]): String =
    sha256Hex(encodeTuple(relName, attrs))

  /** The same hash as a Column expression over a row of `schema` — one
    * whole-stage-codegen pass hashes an entire relation. Parity with
    * [[tupleHash]] is pinned by HashingSpec. */
  def rowHashCol(relName: String, schema: StructType): Column = {
    val sorted = schema.fields.sortBy(_.name)
    val parts: Seq[Column] = sorted.zipWithIndex.flatMap { case (f, i) =>
      val repr = f.dataType match {
        // normalize narrow ints so 1: Int and 1: Long hash identically
        case IntegerType | ShortType | ByteType => col(s"`${f.name}`").cast(LongType).cast(StringType)
        case FloatType => col(s"`${f.name}`").cast(DoubleType).cast(StringType)
        case _ => col(s"`${f.name}`").cast(StringType)
      }
      val piece = concat(
        lit(s"${f.name}:${tagOf(f.dataType)}:"),
        octet_length(repr).cast(StringType), lit(":"), repr)
      if (i == 0) Seq(piece) else Seq(lit(";"), piece)
    }.toSeq
    sha2(concat((lit(relName + "|") +: parts): _*), 256)
  }

  /** Order-insensitive relation content root: element count + 4-limb
    * wrapping sum of the 256-bit row hashes. Insert/delete are O(1)
    * limb updates; bulk computation is a single aggregation.
    *
    * Collision posture: an additive combination of hashes is NOT
    * collision-resistant against an adversary (generalized-birthday /
    * lattice attacks can craft distinct row sets with equal roots), unlike
    * the reference's sorted-concatenation root (lib/merkle.ml:41-67). State
    * hashes here are integrity/identity checksums for honest data — change
    * detection, snapshot identity, merge LCA — not tamper-evidence. If
    * adversarial collision resistance is ever required, swap this for a
    * wide homomorphic accumulator (LtHash/MuHash-style 2048-bit sum); the
    * incremental/mergeable API stays identical. */
  final case class ContentRoot(count: Long, limbs: Vector[Long]) {
    require(limbs.length == 4)
    def add(hashHex: String): ContentRoot = combine(hashHex, 1)
    def remove(hashHex: String): ContentRoot = combine(hashHex, -1)
    private def combine(hashHex: String, sign: Int): ContentRoot = {
      val hs = ContentRoot.limbsOf(hashHex)
      ContentRoot(count + sign,
        limbs.zip(hs).map { case (a, b) => if (sign > 0) a + b else a - b })
    }
    /** Combine with the root of a disjoint row set (bulk insert). */
    def merge(o: ContentRoot): ContentRoot =
      ContentRoot(count + o.count, limbs.zip(o.limbs).map { case (a, b) => a + b })
    /** Remove a contained row set's contribution (bulk delete). */
    def subtract(o: ContentRoot): ContentRoot =
      ContentRoot(count - o.count, limbs.zip(o.limbs).map { case (a, b) => a - b })
    /** Canonical rendering: "empty" when no rows (reference
      * lib/hashing.ml:52-55 uses "empty" for a rootless tree). */
    def render: String =
      if (count == 0) "empty" else limbs.map(l => f"$l%016x").mkString
  }
  object ContentRoot {
    val empty: ContentRoot = ContentRoot(0, Vector(0L, 0L, 0L, 0L))
    def limbsOf(hashHex: String): Vector[Long] =
      (0 until 4).map(i => java.lang.Long.parseUnsignedLong(hashHex.substring(i * 16, (i + 1) * 16), 16)).toVector
  }

  private val TwoPow64 = java.math.BigInteger.ONE.shiftLeft(64)

  /** Bulk content root over a whole DataFrame: one distributed
    * aggregation (count + 4 decimal sums), no collect of hashes. */
  def contentRootOf(df: DataFrame, rowHash: Column): ContentRoot = {
    val limbAggs = (0 until 4).map { i =>
      sum(conv(substring(rowHash, i * 16 + 1, 16), 16, 10).cast(DecimalType(38, 0))).as(s"l$i")
    }
    val row = df.agg(count(lit(1)).as("cnt"), limbAggs: _*).head()
    val cnt = row.getLong(0)
    if (cnt == 0) ContentRoot.empty
    else ContentRoot(cnt, (1 to 4).map { i =>
      row.getDecimal(i).toBigInteger.mod(TwoPow64).longValue()
    }.toVector)
  }

  /** Combined duplicate probe + content root. The root is one
    * map-side-combinable aggregation (count + 4 limb sums — a handful of
    * values per partition cross the exchange, never the digests). The
    * duplicate probe is keyed on `xxhash64` OVER THE RAW ROW COLUMNS —
    * pure codegen over native types, an 8-byte shuffle key — instead of
    * grouping by the 64-char hex digest (the r15 shape shuffled ~88
    * bytes/row of high-entropy string key and paid a string-keyed hash
    * aggregation over the whole batch: measured ~4.5 s of
    * scaleprobe_fkbulk_x4's 17 s on the 7.5M-row batch; at 100 TB the
    * digest shuffle is the whole cost). Equal rows hash equal, so an
    * xx-clean batch provably has no duplicates; an xx collision (real
    * dup, or ~2⁻⁶⁴-rare false positive between distinct rows) takes a
    * confirm pass restricted to the collided keys, grouping by the TRUE
    * content digest — the verdict is exactly the reference's, and the
    * example hash in the error is a real row digest.
    *
    * Returns (example duplicated hash if any, root); the root is exact
    * whenever no duplicate exists (the only case callers proceed in). */
  def rootWithDupCheck(df: DataFrame, rowHash: Column): (Option[String], ContentRoot) =
    rootWithDupCheckImpl(df, rowHash, df.columns.toIndexedSeq)

  /** [[rootWithDupCheck]] over a frame that already CARRIES its digest in
    * column `rhCol` (the engine's persisted wide batch): the root limbs
    * aggregate the MATERIALIZED digest column and the confirm pass reads
    * it — zero sha-256 recompute anywhere in the probe. The xxhash64 dup
    * key spans only the raw row columns (hashing the 64-char digest per
    * row would buy nothing the raw columns don't already decide). */
  def rootWithDupCheckPrehashed(wide: DataFrame, rhCol: String): (Option[String], ContentRoot) =
    rootWithDupCheckImpl(wide, col(s"`$rhCol`"), wide.columns.toIndexedSeq.filterNot(_ == rhCol))

  /** Invariants the xxhash64 pre-filter rests on (both pinned by
    * HashingSpec):
    *  (a) digest-equal ⇒ xx-equal — holds because the canonical digest
    *      encoding is injective on raw column values EXCEPT float/double
    *      NaNs (every NaN bit pattern renders "NaN"), so NaNs are
    *      canonicalized below before hashing; any OTHER normalization
    *      added to [[rowHashCol]] must be mirrored here or the pre-filter
    *      silently misses duplicates the digest would catch;
    *  (b) the batch is null-free — xxhash64 skips null columns while the
    *      digest goes null on a null cell; callers run bulkValidate first
    *      (the engine's single call site does). */
  private def rootWithDupCheckImpl(df: DataFrame, rowHash: Column,
      rawCols: Seq[String]): (Option[String], ContentRoot) = {
    val rowCols = rawCols.toIndexedSeq.map { c =>
      val base = col(s"`$c`")
      df.schema(c).dataType match {
        // canonicalize NaN payload bits: digest-equal rows must xx-equal
        case DoubleType => when(isnan(base), lit(Double.NaN)).otherwise(base)
        case FloatType  => when(isnan(base), lit(Float.NaN)).otherwise(base)
        case _          => base
      }
    }
    val xk = xxhash64(rowCols: _*)
    val root = contentRootOf(df, rowHash)
    val collidedKeys = df.groupBy(xk.as("__k")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select(col("__k"))
    val dup =
      if (collidedKeys.limit(1).isEmpty) None
      else df.select(rowHash.as("__h"), xk.as("__k"))
        .join(collidedKeys, Seq("__k"), "left_semi")
        .groupBy(col("__h")).agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1).limit(1).collect()
        .headOption.map(_.getString(0))
    (dup, root)
  }

  /** Relation hash = name | schema | content root
    * (reference hash_relation, lib/hashing.ml:51-56). */
  def relationHash(name: String, schema: RelSchema, root: ContentRoot): String =
    sha256Hex(name + "|" + schema.canonical + "|" + root.render)

  /** Database hash = hash over the sorted relation hashes; an empty
    * database hashes its name (reference lib/management/database.ml:40-43,
    * lib/merkle.ml:41-67). */
  def databaseHash(dbName: String, relationHashes: Iterable[String]): String =
    if (relationHashes.isEmpty) sha256Hex(dbName)
    else sha256Hex(relationHashes.toSeq.sorted.mkString)
}
