package graft.server

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets
import graft.sexp.Sexp
import graft.sexp.Sexp.{Atom, SList}

/** Minimal client for the [[Listener]] wire protocol: newline-framed
  * request sexps, tagged-sexp responses (reference lib/listener.ml:95-130).
  * Decodes cursor pages back into typed values — the inverse of the
  * listener's rendering, which makes a socket round-trip verifiable
  * against the engine's own DataFrames (see the `tcp_roundtrip` oracle
  * query). */
object WireClient {

  final case class CursorPage(id: String, rows: Seq[Seq[Any]], hasMore: Boolean)

  private type Io = (java.io.InputStream, java.io.OutputStream, AutoCloseable)

  private def inetIo(port: Int): Io = {
    val s = new Socket(InetAddress.getLoopbackAddress, port)
    (s.getInputStream, s.getOutputStream, s)
  }

  private def unixIo(path: String): Io = {
    val ch = java.nio.channels.SocketChannel.open(
      java.net.UnixDomainSocketAddress.of(path))
    (java.nio.channels.Channels.newInputStream(ch),
      java.nio.channels.Channels.newOutputStream(ch), ch)
  }

  final class Conn private (io: Io) extends AutoCloseable {
    /** Loopback inet connection. */
    def this(port: Int) = this(WireClient.inetIo(port))
    /** AF_UNIX connection — the `(tcp (path …))` transport's client half. */
    def this(unixPath: String) = this(WireClient.unixIo(unixPath))
    private val sock = io._3
    private val out = new PrintWriter(io._2, true, StandardCharsets.UTF_8)
    private val in = new BufferedReader(
      new InputStreamReader(io._1, StandardCharsets.UTF_8))
    /** One request, one response line (the framing contract). A null
      * readLine means the server closed the socket — surface that as its
      * own failure instead of letting Sexp.parse(null) NPE downstream;
      * checkError flushes and reports a swallowed write failure too. */
    def request(text: String): String = {
      out.println(text)
      if (out.checkError()) fail("write failed: connection closed by server")
      val line = in.readLine()
      if (line == null) fail("connection closed by server (EOF before response)")
      line
    }
    override def close(): Unit = sock.close()
  }

  private def fail(msg: String): Nothing = throw new IllegalStateException(msg)

  /** Send a mutation and require `(ok …)`, re-sending it while the
    * answer is a lost commit CAS, at most `maxAttempts` sends in all; a
    * conflicted attempt applied nothing, so the retry is convergent.
    * Only the structural `(error (conflict` prefix counts as a CAS loss
    * (it is never sublanguage-wrapped), so an unrelated error whose
    * payload embeds "(conflict" fails at once. Returns the re-send count. */
  def requestOk(conn: Conn, stmt: String, maxAttempts: Int): Int = {
    var resp = conn.request(stmt)
    var retries = 0
    while (resp.startsWith("(error (conflict") && retries + 1 < maxAttempts) {
      resp = conn.request(stmt); retries += 1
    }
    if (!resp.startsWith("(ok"))
      throw new IllegalArgumentException(s"$stmt -> $resp")
    retries
  }

  private def field(fields: List[Sexp], key: String): Sexp =
    fields.collectFirst { case SList(List(Atom(`key`), v)) => v }
      .getOrElse(fail(s"response missing field: $key"))

  /** Tagged value → JVM value (the inverse of Listener.dynValueSexp). */
  def decodeValue(s: Sexp): Any = s match {
    case SList(List(Atom("Null")))           => null
    case SList(List(Atom("Int"), Atom(v)))   => v.toLong
    case SList(List(Atom("Float"), Atom(v))) => v.toDouble
    case SList(List(Atom("Bool"), Atom(v)))  => v.toBoolean
    case SList(List(Atom("Str"), Atom(v)))   => v
    case other => fail(s"unrecognized value form: ${other.render}")
  }

  /** Decode a `(cursor ...)` response; error responses raise with the
    * server's message so failures carry their cause. */
  def decodeCursor(line: String): CursorPage =
    Sexp.parse(line).fold(e => fail(s"unparseable response: $e"), identity) match {
      case SList(Atom("error") :: Atom(msg) :: _) => fail(s"server error: $msg")
      case SList(Atom("cursor") :: fields) =>
        val id = field(fields, "id") match {
          case Atom(a) => a; case o => fail(s"bad cursor id: ${o.render}")
        }
        val rows = field(fields, "rows") match {
          case SList(rs) => rs.map {
            case SList(cells) => cells.map {
              case SList(List(Atom(_), v)) => decodeValue(v)
              case o => fail(s"bad cell: ${o.render}")
            }
            case o => fail(s"bad row: ${o.render}")
          }
          case o => fail(s"bad rows: ${o.render}")
        }
        val hasMore = field(fields, "has_more") match {
          case Atom(b) => b.toBoolean; case o => fail(s"bad has_more: ${o.render}")
        }
        CursorPage(id, rows, hasMore)
      case other => fail(s"expected cursor response, got: ${other.render.take(120)}")
    }

  /** Stream a DRL query's FULL result over the wire via the cursor
    * protocol (Begin + Fetch-until-drained), `pageSize` rows per
    * round-trip. */
  def streamQuery(conn: Conn, drlQuery: String, pageSize: Int): Seq[Seq[Any]] = {
    var page = decodeCursor(conn.request(
      s"(scl (Begin (query $drlQuery) (limit $pageSize)))"))
    var rows = page.rows
    while (page.hasMore) {
      page = decodeCursor(conn.request(
        s"(scl (Fetch (cursor ${page.id}) (limit $pageSize)))"))
      rows = rows ++ page.rows
    }
    rows
  }
}
