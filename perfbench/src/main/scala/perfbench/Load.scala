package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.server.WireClient

/** Closed-loop wire client. Every connection sends its next request only
  * after the previous one was answered; a request that loses the commit
  * race (`(error (conflict …))`) is resent, and its latency runs from the
  * first send to the final answer.
  *
  * {{{
  * Load run      <port> <plan-dir> <solo-s> <loaded-s> <out.json> [<store-dir>]
  * Load readback <port> <plan-dir> <out.json>
  * }}}
  *
  * `run` sends `stage1.txt`, `stage2.txt`, … one after the other (each a
  * fresh staging, timed whole), then `warm.txt` on one connection, then
  * the measured phases. With `w*.txt` / `r*.txt` files: first one
  * connection takes their request groups in turn (a writer's insert and
  * delete, a reader's select or scan) for `solo-s` seconds (the `solo`
  * phase, service latency without contention), then, when `loaded-s` is
  * not 0, each file gets its own connection, continuing where it
  * stopped, for `loaded-s` more (the `loaded` phase). Otherwise
  * `iter.txt` over and over on one connection until `solo-s` have passed
  * (at least once). `final.txt` is sent last,
  * on a fresh connection. `readback` retries the connection until the
  * server answers, then sends `readback.txt`; it records when the first
  * answer arrived. Rows of the last drain go to `<out>.rows.tsv`. */
object Load {

  final case class Op(kind: String, latNs: Long, retries: Int)

  /** Outcome of one connection's stream. */
  final class Stream(val name: String) {
    val ops = ArrayBuffer[Op]()
    var acked = 0
    /** Request bytes of acknowledged inserts and deletes. */
    var writtenBytes = 0L
    val failures = ArrayBuffer[String]()
    var lastRows: Seq[Seq[Any]] = Nil
  }

  private val MaxRetries = 1000
  private val RowCount = """\(row_count (\d+)\)""".r
  private val DbHash = """\(db_hash ([0-9a-f]*)\)""".r

  private def rowCount(resp: String): Int =
    RowCount.findFirstMatchIn(resp).map(_.group(1).toInt).getOrElse(-1)

  private def dbHash(resp: String): String =
    DbHash.findFirstMatchIn(resp).map(_.group(1)).getOrElse("")

  /** Send with conflict retries; returns (response, retries). */
  private def send(conn: WireClient.Conn, text: String): (String, Int) = {
    var resp = conn.request(text)
    var retries = 0
    while (resp.startsWith("(error (conflict") && retries < MaxRetries) {
      retries += 1
      resp = conn.request(text)
    }
    (resp, retries)
  }

  /** Every row of a response carries `check` (when one is given). */
  private def rowsOk(resp: String, check: String, minRows: Int): Boolean = {
    val n = rowCount(resp)
    n >= minRows && (check.isEmpty || resp.split(java.util.regex.Pattern.quote(check), -1).length - 1 == n)
  }

  /** Run `reqs` in order on one connection, from index `from`, until
    * `deadline` (ns) or after `groups` request groups (a group is one
    * request, or a `begin` with its `fetch` and `close`). Returns the
    * index reached, or -1 when the stream stopped on a failure. */
  def runStream(conn: WireClient.Conn, reqs: Vector[Req], s: Stream, deadline: Long,
      from: Int = 0, groups: Int = Int.MaxValue, onMerge: String => Unit = _ => ()): Int = {
    var i = from
    var left = groups
    var cursor = ""
    var cursorLive = false
    def fail(msg: String): Int = { s.failures += msg.take(300); -1 }
    while (i < reqs.length) {
      val r = reqs(i)
      val inGroup = r.kind == "fetch" || r.kind == "close"
      if (!inGroup && (left == 0 || System.nanoTime() >= deadline)) return i
      if (!inGroup) left -= 1
      if (inGroup && !cursorLive) { i += 1 } // cursor drained early: group ends
      else {
        val t0 = System.nanoTime()
        val ok: Boolean = r.kind match {
          case "drain" =>
            val rows = ArrayBuffer[Seq[Any]]()
            var page = WireClient.decodeCursor(conn.request(r.text))
            rows ++= page.rows
            while (page.hasMore) {
              page = WireClient.decodeCursor(conn.request(r.check.replace("{cursor}", page.id)))
              rows ++= page.rows
            }
            s.lastRows = rows.toSeq
            s.ops += Op(r.kind, System.nanoTime() - t0, 0)
            true
          case k =>
            val (resp, retries) = send(conn, r.withCursor(cursor))
            val lat = System.nanoTime() - t0
            val good = k match {
              case "sel" => resp.startsWith("(relation") && rowsOk(resp, r.check, 1)
              case "begin" | "fetch" =>
                val ok = resp.startsWith("(cursor") && rowsOk(resp, r.check, 0)
                if (ok) {
                  cursor = WireClient.decodeCursor(resp).id
                  cursorLive = resp.contains("(has_more true)")
                }
                ok
              case "close" => cursorLive = false; resp.startsWith("(cursor")
              case _ =>
                val ok = resp.startsWith("(ok")
                if (ok && k == "merge") onMerge(dbHash(resp))
                ok
            }
            if (!good) return fail(s"${r.kind}: ${r.text.take(120)} -> ${resp.take(160)}")
            s.ops += Op(k, lat, retries)
            true
        }
        if (ok) {
          s.acked += 1
          if (r.kind == "ins" || r.kind == "del") s.writtenBytes += r.text.length
        }
        i += 1
      }
    }
    i
  }

  private def plan(dir: Path, f: String) = Plan.read(dir.resolve(f))

  def main(args: Array[String]): Unit = args match {
    case Array("run", port, dir, soloS, loadedS, out, store @ _*) =>
      run(port.toInt, Paths.get(dir), soloS.toDouble, loadedS.toDouble, Paths.get(out),
        store.headOption.map(Paths.get(_)))
    case Array("readback", port, dir, out) =>
      readback(port.toInt, Paths.get(dir), Paths.get(out))
    case _ =>
      System.err.println("usage: Load run <port> <plan-dir> <solo-s> <loaded-s> <out> [<store-dir>]"
        + " | readback <port> <plan-dir> <out>")
      sys.exit(2)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val files = Files.walk(p)
      try files.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally files.close()
    }

  private def run(port: Int, dir: Path, soloSeconds: Double, loadedSeconds: Double, out: Path,
      store: Option[Path]): Unit = {
    val streams = ArrayBuffer[Stream]()
    val stageS = ArrayBuffer[Double]()
    val mergeHashes = new ConcurrentLinkedQueue[String]()
    val forever = Long.MaxValue
    val boot = new WireClient.Conn(port)
    try {
      var k = 1
      while (Files.exists(dir.resolve(s"stage$k.txt"))) {
        val s = new Stream(s"stage$k")
        val t0 = System.nanoTime()
        runStream(boot, plan(dir, s"stage$k.txt"), s, forever)
        stageS += (System.nanoTime() - t0) / 1e9
        streams += s
        k += 1
      }
      val warm = new Stream("warm")
      val tw = System.nanoTime()
      runStream(boot, plan(dir, "warm.txt"), warm, forever)
      val warmS = (System.nanoTime() - tw) / 1e9
      streams += warm

      val storeBefore = store.map(dirBytes)
      val files = Option(dir.toFile.list()).getOrElse(Array.empty[String]).sorted
      val loops = files.filter(f => f.matches("[wr]\\d+\\.txt"))
      var soloS = 0.0
      var t0 = System.nanoTime()
      if (loops.nonEmpty) {
        val reqs = loops.map(f => plan(dir, f))
        val names = loops.map(_.stripSuffix(".txt"))
        val pos = Array.fill(loops.length)(0)
        val solo = names.map(n => new Stream(n + ".solo"))
        val soloEnd = t0 + (soloSeconds * 1e9).toLong
        var f = 0
        while (System.nanoTime() < soloEnd && pos.forall(_ >= 0)) {
          pos(f) = runStream(boot, reqs(f), solo(f), soloEnd, pos(f), if (names(f)(0) == 'w') 2 else 1)
          f = (f + 1) % loops.length
        }
        streams ++= solo
        soloS = (System.nanoTime() - t0) / 1e9
        if (loadedSeconds > 0) t0 = System.nanoTime()
        val deadline = t0 + (loadedSeconds * 1e9).toLong
        val loaded = names.map(new Stream(_))
        val threads = loops.indices.filter(j => pos(j) >= 0 && loadedSeconds > 0).map { j =>
          val th = new Thread(() => {
            val c = new WireClient.Conn(port)
            try runStream(c, reqs(j), loaded(j), deadline, pos(j))
            catch { case e: Throwable => loaded(j).failures += s"${e.getClass.getSimpleName}: ${e.getMessage}" }
            finally c.close()
          })
          th.start(); th
        }
        threads.foreach(_.join())
        if (loadedSeconds > 0) streams ++= loaded
      } else {
        val deadline = t0 + (soloSeconds * 1e9).toLong
        val iter = plan(dir, "iter.txt")
        val s = new Stream("iter")
        var go = true
        while (go)
          go = runStream(boot, iter, s, forever, onMerge = mergeHashes.add(_)) >= 0 &&
            System.nanoTime() < deadline
        streams += s
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      val storeGrowth = for (p <- store; b <- storeBefore) yield dirBytes(p) - b
      // a fresh connection: an open one reads the head it last observed
      val fin = new Stream("final")
      val audit = new WireClient.Conn(port)
      try runStream(audit, plan(dir, "final.txt"), fin, forever)
      finally audit.close()
      streams += fin
      writeRows(out, streams.filter(_.lastRows.nonEmpty).lastOption.map(_.lastRows).getOrElse(Nil))
      val extra = Seq(
        "stage_s" -> Json.arr(stageS.map(Json.num)),
        "warm_s" -> Json.num(warmS),
        "elapsed_s" -> Json.num(elapsed),
        "solo_s" -> Json.num(soloS),
        "merge_hashes" -> Json.arr(mergeHashes.toArray.toSeq.map(h => Json.str(h.toString))),
        "store_loop_bytes" -> storeGrowth.map(b => Json.num(b.toDouble)).getOrElse("null"),
        "user_loop_bytes" -> Json.num(streams.filter(_.name.startsWith("w")).map(_.writtenBytes).sum.toDouble))
      Files.write(out, Json.obj(extra ++ streamsJson(streams.toSeq)).getBytes(StandardCharsets.UTF_8))
    } finally boot.close()
  }

  private def readback(port: Int, dir: Path, out: Path): Unit = {
    val deadline = System.nanoTime() + 150L * 1000000000L
    var conn: WireClient.Conn = null
    while (conn == null) {
      try conn = new WireClient.Conn(port)
      catch {
        case e: java.io.IOException =>
          if (System.nanoTime() > deadline) throw e
          Thread.sleep(20)
      }
    }
    try {
      val s = new Stream("readback")
      runStream(conn, plan(dir, "readback.txt"), s, Long.MaxValue)
      val answeredMs = System.currentTimeMillis()
      writeRows(out, s.lastRows)
      Files.write(out, Json.obj(Seq("answered_epoch_ms" -> Json.num(answeredMs.toDouble)) ++
        streamsJson(Seq(s))).getBytes(StandardCharsets.UTF_8))
    } finally conn.close()
  }

  private def writeRows(out: Path, rows: Seq[Seq[Any]]): Unit =
    Files.write(Paths.get(out.toString + ".rows.tsv"),
      rows.map(_.mkString("\t")).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  private def streamsJson(streams: Seq[Stream]): Seq[(String, String)] = Seq(
    "streams" -> Json.arr(streams.map { s =>
      Json.obj(Seq(
        "name" -> Json.str(s.name),
        "acked" -> Json.num(s.acked.toDouble),
        "failures" -> Json.arr(s.failures.toSeq.map(Json.str)),
        "ops" -> Json.arr(s.ops.toSeq.map(o =>
          s"""["${o.kind}",${o.latNs},${o.retries}]"""))))
    }))
}

/** Just enough JSON output for the benchmark's result files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
