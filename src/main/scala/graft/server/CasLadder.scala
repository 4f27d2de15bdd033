package graft.server

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import graft.catalog.ParquetCatalog

/** Multi-writer CAS throughput harness — the MEASUREMENT arm of what
  * `tcp_concurrent_inserts` proves for correctness: W client threads on
  * W sockets race single-tuple inserts of disjoint keys against the
  * engine's whole-database CAS head (the reference's process-global
  * Atomic, `lib/listener.ml:53-59,174-181`); a conflict loser retries
  * against the head that beat it, and every retry is counted.
  *
  * The harness fixes the TOTAL insert count and scales only the writer
  * count, so the ladder isolates CONTENTION: commits apply one at a
  * time under the head lock, so wall time is bounded below by the
  * serialized commit cost regardless of W, while the retry count is the
  * contention overhead — each landed commit invalidates up to W−1 other
  * writers' in-flight snapshots, so retries are expected to grow
  * roughly linearly-to-quadratically in W. That shape is the
  * whole-db-CAS design's documented write ceiling (the reference's own
  * architecture); an INVERTED result — wall time growing with W at
  * fixed total work — would argue for a commit queue in front of the
  * CAS. Run as `scaleprobe_caswriters_x{1,4,8}` in the bench. */
object CasLadder {

  final case class Result(writers: Int, totalInserts: Int, retries: Long,
      rowsLanded: Long)

  def run(spark: SparkSession, dir: String, writers: Int,
      totalInserts: Int): Result = {
    require(writers > 0 && totalInserts % writers == 0,
      s"totalInserts=$totalInserts must divide evenly across writers=$writers")
    val listener = new Listener(spark, Some(new ParquetCatalog(spark, dir))).start()
    try {
      val retries = new AtomicLong(0)
      // bound: an attempt only re-fails if ANOTHER commit landed since
      // its snapshot, and the whole scenario commits totalInserts + 2 times
      def ok(conn: WireClient.Conn, stmt: String): Unit =
        retries.addAndGet(WireClient.requestOk(conn, stmt, maxAttempts = totalInserts + 10)): Unit
      val boot = new WireClient.Conn(listener.localPort)
      try {
        ok(boot, "(CreateDatabase g)")
        ok(boot, "(CreateRelation (name kv) (schema ((k integer) (v string))))")
        val perThread = totalInserts / writers
        val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = (0 until writers).map { t =>
          val th = new Thread(() => {
            try {
              val c = new WireClient.Conn(listener.localPort)
              try {
                var i = 0
                while (i < perThread) {
                  ok(c, s"(InsertTuple (relation kv) (attributes ((k (Int ${100000 + t * 10000 + i})) (v (Str W${t}_$i)))))")
                  i += 1
                }
              } finally c.close()
            } catch { case e: Throwable => failures.add(e) }
          })
          th.setDaemon(true)
          th
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        if (!failures.isEmpty) throw failures.peek()
        // exactly-once audit on a fresh socket (observes the live
        // converged head): every insert landed, none doubled
        val reader = new WireClient.Conn(listener.localPort)
        val landed =
          try WireClient.streamQuery(reader, "(Base kv)", pageSize = 64).size
          finally reader.close()
        if (landed != totalInserts)
          throw new IllegalStateException(
            s"converged set has $landed rows, expected $totalInserts — a commit was lost or doubled")
        Result(writers, totalInserts, retries.get, landed.toLong)
      } finally boot.close()
    } finally listener.close()
  }
}
