package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.LocalSession

/** Hash-bucketed, VERSIONED parquet state for foreachBatch pipelines —
  * the scale-shaped replacement for the full-rewrite snapshot MERGE:
  * a micro-batch rewrites only the hash buckets its keys touch
  * (O(batch-touched buckets) per batch), never the whole state
  * (O(state) per batch).
  *
  * Layout: `root/__v=<batchId>/__bucket=<slot>/part-*.parquet` — one
  * partitioned write job per batch, holding ONLY the touched slots.
  * The state visible to batch N is, per slot, the newest version
  * STRICTLY BELOW N; untouched slots simply stay at their older
  * versions.
  *
  * SLOTS AND SPLITS (extendible hashing): the physical partition unit
  * is a slot. A key with hash h starts in base bucket b = pmod(h, B)
  * (slot key `"b"`). When a slot outgrows `splitBytes`, a batch that
  * rewrites it anyway subdivides it into its two trie children —
  * slot (b, j, f) splits into (b, j, 2f) and (b, j+f, 2f), written as
  * `"b.j.2f"` — so a hot bucket's rewrite granularity halves at ZERO
  * extra I/O (the split rides a rewrite the batch already pays for),
  * and sibling slots are never touched. A key resolves to the unique
  * manifest slot with pmod(h, B)=b and ((pmod(h, B·f)-b)/B) = j; per
  * base bucket the manifest's slots always form a complete trie, so
  * resolution is total. Splits compound: a child that grows splits
  * again (factor 4, 8, …).
  *
  * MANIFEST: every write installs `root/__manifest-v=<batch>` (written
  * to a temp name, then ATOMIC_MOVE — readers see old or new, never
  * partial), holding the complete slot → (version, nonEmpty, bytes) map
  * as of that batch, then advances the `root/__latest` POINTER file
  * (atomic move, monotone) to that version. Reads resolve through the
  * newest manifest strictly below their batch id — found via the
  * pointer on the common path (one GET; no LIST at all), via the
  * directory LIST only when the pointer is missing, unreadable, or at/
  * above the read's bound (the replay path) — instead of an O(versions
  * × buckets) directory walk: exactly the shape an object store needs
  * (LIST is the expensive call there).
  *
  * Replay safety (foreachBatch may re-execute a batch id after a
  * failure): reads AND slot resolution pin to manifests/versions
  * strictly below the batch id, so a replay reads exactly the pre-batch
  * state the first attempt read — never the partial v=N it is about to
  * overwrite — makes the same split decisions (they depend only on
  * pre-batch manifest bytes), and rewrites identical content.
  * Superseded versions and manifests are swept by [[compact]]. */
final class BucketedState(spark: SparkSession, root: Path, buckets: Int,
    splitBytes: Long = BucketedState.DefaultSplitBytes,
    ptr: PointerStore = LatestPointer) {
  require(buckets > 0, s"bucket count must be positive: $buckets")
  import BucketedState.{Slot, SlotMeta}

  /** Slot assignment for a key at `batch` — callers add this as
    * `__bucket`. Resolution is pinned to the newest manifest STRICTLY
    * below `batch` (replay-deterministic: a re-execution of `batch`
    * assigns identically). Column order must match the key-column order
    * later passed to [[merge]]/[[write]] — the split refinement hashes
    * the same columns.
    *
    * Expression shape is bounded: up to
    * [[BucketedState.WhenChainMaxBases]] split bases resolve through a
    * per-base `when` chain (the proven small-catalog path); past that
    * the catalog switches to TWO MAP LITERALS (base → factor, base →
    * q-indexed slot array) probed by `try_element_at` — constant
    * expression-node count no matter how many bases have split, with
    * the catalog riding along as literal DATA instead of codegen'd
    * tree (a thousand-base when-chain would grow the generated method
    * linearly and eventually trip janino's 64 KB limit). Both paths
    * compute the identical trie arithmetic; StreamStateSpec pins their
    * agreement and the node bound at 64 split bases. */
  def bucketOf(batch: Long, first: Column, rest: Column*): Column = {
    val h = hash(first +: rest: _*)
    val base = pmod(h, lit(buckets))
    val byBase = latest(batch).keys.map(Slot.parse).filter(_.factor > 1)
      .toSeq.groupBy(_.base)
    if (byBase.sizeIs <= BucketedState.WhenChainMaxBases)
      byBase.foldLeft(base.cast("string")) { case (acc, (b, slots)) =>
        val (f, lookup) = lookupArray(b, slots)
        val q = floor((pmod(h, lit(buckets * f)) - lit(b)) / lit(buckets)).cast("int")
        when(base === b, element_at(typedlit(lookup), q + 1)).otherwise(acc)
      }
    else {
      val factorOf: Map[Int, Int] =
        byBase.map { case (b, slots) => b -> slots.map(_.factor).max }
      val lookupOf: Map[Int, Seq[String]] =
        byBase.map { case (b, slots) => b -> lookupArray(b, slots)._2 }
      // unsplit base ⇒ factor lookup misses ⇒ q null ⇒ slot null ⇒
      // coalesce falls through to the base itself (try_element_at, not
      // element_at: a map miss must be null, not an ANSI error)
      val f = try_element_at(typedlit(factorOf), base)
      val q = floor((pmod(h, lit(buckets) * f) - base) / lit(buckets)).cast("int")
      coalesce(
        try_element_at(try_element_at(typedlit(lookupOf), base), q + 1),
        base.cast("string"))
    }
  }

  /** q → slot key for one base's split set (complete trie ⇒ total). */
  private def lookupArray(b: Int, slots: Seq[Slot]): (Int, Seq[String]) = {
    val f = slots.map(_.factor).max
    (f, (0 until f).map { q =>
      slots.find(s => q % s.factor == s.sub).map(_.key)
        .getOrElse(Slot(b, 0, 1).key) // unreachable on a well-formed manifest
    })
  }

  /** Legacy base assignment (no manifest pin) — ONLY for states that
    * never split (splitBytes = Long.MaxValue) or pre-manifest fixtures. */
  def bucketOf(first: Column, rest: Column*): Column =
    pmod(hash(first +: rest: _*), lit(buckets)).cast("string")

  // ---- manifest ----

  private def manifestPath(v: Long): Path = root.resolve(s"__manifest-v=$v")

  private def manifestVersions(): Seq[Long] =
    Option(root.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .flatMap(f => Option(f.getName).filter(_.startsWith("__manifest-v="))
        .flatMap(_.drop("__manifest-v=".length).toLongOption))
      .toSeq.sorted

  private def readManifest(v: Long): Option[Map[String, SlotMeta]] =
    if (!Files.exists(manifestPath(v))) None
    else Some(scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(manifestPath(v))).asScala
      .filter(_.nonEmpty).map { line =>
        val Array(k, ver, ne, bytes) = line.split('\t')
        k -> SlotMeta(ver.toLong, ne == "1", bytes.toLong)
      }.toMap)

  /** slot key → meta per the newest manifest STRICTLY below
    * `beforeBatch`. Common path (steady-state read or the next batch's
    * write): the `__latest` pointer ([[LatestPointer]]) names a version
    * below the bound — one pointer GET + one manifest GET, zero LISTs.
    * Fallback (pointer missing, unreadable, dangling, or AT/ABOVE the
    * bound — the replay path, where the previous attempt already
    * installed this batch's manifest and pointer): the directory
    * LIST. */
  private def latest(beforeBatch: Long): Map[String, SlotMeta] =
    ptr.read(root).filter(_ < beforeBatch).flatMap(readManifest).getOrElse {
      manifestVersions().filter(_ < beforeBatch).lastOption
        .flatMap(readManifest).getOrElse(Map.empty)
    }

  private def writeManifest(batch: Long, entries: Map[String, SlotMeta]): Unit = {
    val body = entries.toSeq.sortBy(_._1).map { case (k, m) =>
      s"$k\t${m.version}\t${if (m.nonEmpty) "1" else "0"}\t${m.bytes}"
    }.mkString("\n")
    val tmp = root.resolve(s".__manifest-v=$batch.tmp")
    Files.createDirectories(root)
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, manifestPath(batch), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING): Unit
    ptr.advance(root, batch)
  }

  // ---- reads ----

  /** State visible strictly before `batch`, restricted to `onlySlots`
    * (None = all): per manifest entry, exactly its newest qualifying
    * version is read — older versions are never scanned. A slot whose
    * newest version is EMPTY (every key deleted — manifest nonEmpty=0,
    * dir kept as a tombstone) is skipped, not resurrected from an older
    * version. */
  def before(batch: Long, onlySlots: Option[Set[String]] = None): Option[DataFrame] = {
    val paths = latest(batch)
      .filter { case (k, m) => m.nonEmpty && onlySlots.forall(_.contains(k)) }
      .map { case (k, m) => Paths.get(s"$root/__v=${m.version}/__bucket=$k") }
    if (paths.isEmpty) None
    else Some(spark.read.option("basePath", root.toString)
      .parquet(paths.map(_.toString).toSeq: _*)
      .drop("__v")
      // slot keys are strings ("5", "5.1.2"); an all-numeric read would
      // let partition inference type the column int — normalize
      .withColumn("__bucket", col("__bucket").cast("string")))
  }

  /** The final state (newest version per slot, all slots). */
  def current(): Option[DataFrame] = before(Long.MaxValue, None)

  // ---- writes ----

  /** Install version `batch`: one partitioned write of the touched
    * slots only (`df` must carry `__bucket` from [[bucketOf]] pinned to
    * this batch). `touched` must name every slot the batch's keys
    * resolve to — a slot the merge left EMPTY (all keys deleted) writes
    * no part files, so its dir is created explicitly as a tombstone and
    * its manifest entry records nonEmpty=0; without that the slot's
    * older version would stay newest and the deleted keys would
    * resurface.
    *
    * `splitKeyCols` (the key columns, in [[bucketOf]] hash order)
    * enables the split protocol: a touched slot whose PRE-BATCH bytes
    * exceed `splitBytes` is rewritten into its two trie children in
    * this same write. Empty = never split (fixture/raw mode). */
  def write(batch: Long, df: DataFrame, touched: Set[String],
      splitKeyCols: Seq[String] = Nil): Unit = {
    val prior = latest(batch)
    val splitting: Map[String, Slot] =
      if (splitKeyCols.isEmpty) Map.empty
      else touched.iterator.filter { k =>
        prior.get(k).exists(_.bytes > splitBytes)
      }.map(k => k -> Slot.parse(k)).toMap

    val outCol =
      if (splitting.isEmpty) col("__bucket")
      else {
        val h = hash(splitKeyCols.map(c => col(s"`$c`")): _*)
        splitting.foldLeft(col("__bucket")) { case (acc, (k, s)) =>
          val f2 = s.factor * 2
          val q2 = floor((pmod(h, lit(buckets * f2)) - lit(s.base)) / lit(buckets)).cast("int")
          when(col("__bucket") === k,
            concat_ws(".", lit(s.base), q2, lit(f2))).otherwise(acc)
        }
      }
    // slots actually landing at this version: split parents are replaced
    // by BOTH children (even an empty child gets a tombstone + manifest
    // entry, keeping the base bucket's trie complete)
    val finalSlots: Set[String] = touched.flatMap { k =>
      splitting.get(k) match {
        case None    => Set(k)
        case Some(s) => Set(Slot(s.base, s.sub, s.factor * 2).key,
          Slot(s.base, s.sub + s.factor, s.factor * 2).key)
      }
    }

    // cluster rows by slot before the partitioned write: one task — and
    // one file — per touched slot, instead of every shuffle partition
    // fanning out a sliver-file into every slot dir (the same discipline
    // a cluster-scale writer needs so a batch's write parallelism is its
    // touched-slot count, not tasks × slots)
    val vdir = root.resolve(s"__v=$batch")
    df.withColumn("__bucket", outCol)
      .repartition(math.max(finalSlots.size, 1), col("__bucket"))
      .write.mode("overwrite").partitionBy("__bucket")
      .parquet(vdir.toString)
    finalSlots.foreach { k =>
      Files.createDirectories(vdir.resolve(s"__bucket=$k")); ()
    }
    // manifest: prior map, split parents dropped, touched slots advanced
    // to this version with their actual file stats (O(touched) metadata
    // calls, riding the write)
    val advanced = finalSlots.iterator.map { k =>
      val files = Option(vdir.resolve(s"__bucket=$k").toFile.listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.getName.endsWith(".parquet"))
      k -> SlotMeta(batch, files.nonEmpty, files.map(_.length()).sum)
    }.toMap
    writeManifest(batch, (prior -- splitting.keys) ++ advanced)
  }

  /** One MERGE micro-batch, end to end — the whole foreachBatch protocol
    * in one call: replace every row whose key appears in `touchedKeys`
    * with the rows of `upserts` (a key in touchedKeys but not in upserts
    * is a DELETE), touching only the slots the batch's keys resolve to,
    * then sweep versions shadowed below this batch. Both inputs must
    * carry `__bucket` (from [[bucketOf]] pinned to `batch`, over
    * `keyCols` in order). Replay-safe: a re-execution of `batch` reads
    * the same pre-batch state and rewrites identical content. Oversize
    * touched slots split as part of the rewrite. This is what the
    * `streaming_cdc_upsert` oracle row runs. */
  def merge(batch: Long, touchedKeys: DataFrame, upserts: DataFrame,
      keyCols: Seq[String]): Unit = {
    // bounded collect: at most `slots` keys cross the driver
    val touched = touchedKeys.select(col("__bucket")).distinct()
      .collect().map(_.getString(0)).toSet
    val merged = before(batch, Some(touched)) match {
      case None => upserts
      case Some(p) =>
        p.join(touchedKeys.select(keyCols.map(c => col(s"`$c`")): _*), keyCols, "left_anti")
          .unionByName(upserts)
    }
    write(batch, merged, touched, splitKeyCols = keyCols)
    compact(batch - 1)
  }

  /** Keys of every slot holding rows in the newest manifest STRICTLY
    * below `beforeBatch` (empty tombstoned slots excluded) — the
    * touched set a full-index rewrite ([[retain]]) passes to [[write]].
    * Pinned pre-batch for the same reason [[before]] is: a REPLAY of
    * the rewrite must resolve the same touched set, not the one its
    * own first attempt left behind (which would skip — and so
    * resurrect — every slot that attempt emptied). */
  def liveSlots(beforeBatch: Long = Long.MaxValue): Set[String] =
    latest(beforeBatch).filter(_._2.nonEmpty).keysIterator.toSet

  /** AGE-OUT COMPACTION — the physical retention rewrite backing a
    * lazily-filtered index: rewrite EVERY live slot as version `batch`,
    * keeping only rows satisfying `keep`. Deliberately O(index), so it
    * is the AMORTIZED half of the retention protocol: readers retire
    * expired rows logically (a `filter` on the slots they were reading
    * anyway — O(touched) per batch), and this pass reclaims the bytes
    * on a cadence (every N batches / nightly), exactly the
    * TTL-compaction split log-structured stores use. Runs through the
    * same [[write]] path as a merge, so oversize slots still split,
    * slots emptied by the filter tombstone correctly, and a replay of
    * `batch` rewrites identical content. Run BETWEEN batches, as
    * [[compact]]'s contract requires. */
  def retain(batch: Long, keep: Column, keyCols: Seq[String]): Unit = {
    val touched = liveSlots(batch)
    before(batch, Some(touched)).foreach { cur =>
      write(batch, cur.filter(keep), touched, splitKeyCols = keyCols)
      compact(batch - 1)
    }
  }

  /** Retention janitor: delete every slot partition SHADOWED by a
    * newer version at or below `upToBatch` (versions above it are left
    * alone — they may belong to an in-flight batch), every manifest
    * older than the newest one at or below `upToBatch` (that one must
    * survive: a replay of batch upToBatch+1 resolves through it), and
    * version dirs emptied of all slot partitions. Reads are unaffected
    * by construction: `before`/`current` resolve through the surviving
    * manifest, and only unreferenced partitions are removed. Run it
    * BETWEEN batches (e.g. every N-th foreachBatch, after the write
    * lands) — never concurrently with a read of the versions it sweeps.
    * At 100 TB this is the compaction pass that bounds the state table
    * to one live copy per slot plus the in-flight version; each swept
    * version dir is listed once in its lifetime (amortized O(1) per
    * batch), never per read. */
  def compact(upToBatch: Long): Unit = {
    val keep = latest(upToBatch + 1) // newest manifest ≤ upToBatch
    manifestVersions().filter(_ <= upToBatch).dropRight(1)
      .foreach(v => Files.deleteIfExists(manifestPath(v)): Unit)
    for {
      vdir <- Option(root.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      if vdir.isDirectory && vdir.getName.startsWith("__v=")
      v <- vdir.getName.drop("__v=".length).toLongOption
      if v <= upToBatch
    } {
      for {
        bdir <- Option(vdir.listFiles()).getOrElse(Array.empty[java.io.File])
        if bdir.isDirectory && bdir.getName.startsWith("__bucket=")
        k = bdir.getName.drop("__bucket=".length)
        if !keep.get(k).exists(_.version == v)
      } LocalSession.deleteTree(bdir)
      val left = Option(vdir.listFiles()).getOrElse(Array.empty[java.io.File])
      if (!left.exists(f => f.isDirectory && f.getName.startsWith("__bucket=")))
        LocalSession.deleteTree(vdir)
    }
  }
}

object BucketedState {
  /** Split threshold: a slot bigger than this is subdivided by the next
    * batch that rewrites it. 64 MiB ≈ one comfortable task input. */
  val DefaultSplitBytes: Long = 64L << 20

  /** Largest split-base count resolved by the per-base `when` chain;
    * wider catalogs switch to the constant-node map-literal probe (see
    * [[BucketedState.bucketOf]]). 16 bases ≈ a few hundred expression
    * nodes — comfortably inside one codegen'd method. */
  val WhenChainMaxBases = 16

  /** A slot in the extendible-hash trie: keys with pmod(h, B) == base
    * and ((pmod(h, B·factor) - base) / B) == sub. factor 1 ⇒ the whole
    * base bucket (key rendered as just "base"). */
  final case class Slot(base: Int, sub: Int, factor: Int) {
    def key: String = if (factor == 1) base.toString else s"$base.$sub.$factor"
  }
  object Slot {
    def parse(key: String): Slot = key.split('.') match {
      case Array(b)       => Slot(b.toInt, 0, 1)
      case Array(b, j, f) => Slot(b.toInt, j.toInt, f.toInt)
      case _ => throw new IllegalArgumentException(s"bad slot key: $key")
    }
  }

  private[streaming] final case class SlotMeta(version: Long, nonEmpty: Boolean, bytes: Long)
}
