package graft.engine

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Content-addressed cache of the frames behind [[Extension.Local]]
  * relations. A frame over a relation's driver rows costs about 1 µs per
  * row twice over: once to encode each `Row` as an `InternalRow`, and again
  * to analyze the `LocalRelation`, since several analyzer rules walk every
  * row of it. A read used to pay both at the finiteness gate and again at
  * compile; the cache pays them once per relation version, and hands every
  * later read the same analyzed frame.
  *
  * Entries are keyed by (session, relation hash, struct): a relation hash
  * names one content root, so an entry can never be stale. Row order is
  * not part of a relation's value: a version that reaches equal content by
  * another path (delete then re-insert, a restore from disk) is served in
  * the row order of the frame first built for that content.
  *
  * One query may name the shared frame twice (self-`Join`, `Diff`,
  * `ThetaJoin`): the analyzer gives the second occurrence fresh attribute
  * ids, as for any self-join, and the engine's algebra refers to columns
  * by name only.
  *
  * The cache holds at most [[MaxRows]] rows in total, evicting the least
  * recently used entries: snapshots share rows structurally, and an
  * unbounded cache would pin one copy per version ever read. Safe to call
  * from any connection thread. */
private[graft] object LocalFrames {

  /** Bound on cached rows across all entries — the Local regime's own
    * size, so any one Local relation fits. */
  val MaxRows: Long = Engine.LocalThreshold.toLong

  private final case class Key(session: SparkSession, relHash: String, struct: StructType)
  private final case class Entry(frame: DataFrame, rows: Long)

  // access-ordered: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var rowTotal = 0L

  /** Rows currently held, summed over entries. */
  def cachedRows: Long = synchronized(rowTotal)

  def frame(spark: SparkSession, rel: StoredRelation, rows: VectorMap[String, Row]): DataFrame = {
    val key = Key(spark, rel.relHash, rel.struct)
    synchronized(Option(entries.get(key))).map(_.frame).getOrElse {
      val built = spark.createDataFrame(rows.values.toSeq.asJava, rel.struct)
      put(key, Entry(built, rows.size.toLong))
      built
    }
  }

  private def put(key: Key, entry: Entry): Unit = synchronized {
    // an empty frame is cheap to build, and weighing no rows it would never be evicted
    if (entry.rows > 0 && entry.rows <= MaxRows) {
      Option(entries.put(key, entry)).foreach(old => rowTotal -= old.rows)
      rowTotal += entry.rows
      val it = entries.values.iterator
      while (rowTotal > MaxRows) {
        rowTotal -= it.next().rows
        it.remove()
      }
    }
  }
}
