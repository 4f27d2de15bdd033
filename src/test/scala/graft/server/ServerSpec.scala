package graft.server

import java.net.Socket
import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.nio.charset.StandardCharsets
import graft.SparkTestBase

/** Config-sexp boot (reference bin/server.ml + lib/configuration.ml):
  * parse, reject unknown backends, and round-trip a query over the TCP
  * listener the config produced. */
class ServerSpec extends SparkTestBase {

  test("config parsing: shapes, defaults, unknown backends") {
    import Server.Transport.{Inet, UnixSock}
    assert(Server.parseConfig("(server (storage (memory)) (transport (tcp (port 4422))))") ==
      Right(Server.Config("memory", Inet(None, 4422), None)))
    assert(Server.parseConfig(
      "(server (storage (memory)) (transport (tcp (address 0.0.0.0) (port 4422))))") ==
      Right(Server.Config("memory", Inet(Some("0.0.0.0"), 4422), None)))
    assert(Server.parseConfig(
      "(server (storage (memory)) (transport (tcp (path /run/g.sock))))") ==
      Right(Server.Config("memory", UnixSock("/run/g.sock"), None)))
    assert(Server.parseConfig(
      "(server (storage (memory)) (transport (tcp (port 0))) (external /data/sf1))") ==
      Right(Server.Config("memory", Inet(None, 0), Some("/data/sf1"))))
    assert(Server.parseConfig("(server (storage (disk /var/graft)) (transport (tcp (port 1))))") ==
      Right(Server.Config("disk", Inet(None, 1), None, Some("/var/graft"))))
    // the reference transport grammar's own rejections (lib/transport.ml:36-47)
    assert(Server.parseConfig("(server (storage (memory)) (transport (tcp)))")
      .left.exists(_.contains("no address fields")))
    assert(Server.parseConfig(
      "(server (storage (memory)) (transport (tcp (port 1) (path /run/g.sock))))")
      .left.exists(_.contains("not both")))
    assert(Server.parseConfig(
      "(server (storage (memory)) (transport (tcp (address 1.2.3.4))))")
      .left.exists(e => e.contains("not both") || e.contains("no address fields")))
    assert(Server.parseConfig("(server (storage (memory)) (transport (tcp (port banana))))")
      .left.exists(_.contains("invalid port")))
    assert(Server.parseConfig("(server (storage (memory)) (transport (tcp (frobnicate 1))))")
      .left.exists(_.contains("unexpected")))
    assert(Server.parseConfig("(server (storage (disk)) (transport (tcp (port 0))))")
      .left.exists(_.contains("root path")))
    assert(Server.parseConfig("(server (storage (sqlite)) (transport (tcp (port 1))))")
      .left.exists(_.startsWith("Unknown storage")))
    assert(Server.parseConfig("(server (storage (memory)) (transport (carrier-pigeon)))")
      .left.exists(_.startsWith("Unknown transport")))
    assert(Server.parseConfig("(client)").isLeft)
    assert(Server.parseConfig("(server (transport (tcp (port 0))))")
      .left.exists(_.contains("storage")))
    // section-level validation — the reference's own rejections
    // (lib/configuration.ml:16-32): unknown, duplicate, empty, and
    // multi-value sections fail the boot instead of being ignored
    assert(Server.parseConfig(
      "(server (storage (memory)) (transport (tcp (port 0))) (storge (memory)))")
      .left.exists(_.startsWith("Unknown configuration section")))
    assert(Server.parseConfig(
      "(server (storage (memory)) (storage (memory)) (transport (tcp (port 0))))")
      .left.exists(_.startsWith("Duplicate configuration section")))
    assert(Server.parseConfig("(server (storage) (transport (tcp (port 0))))")
      .left.exists(_.contains("is empty")))
    assert(Server.parseConfig(
      "(server (storage (memory) (memory)) (transport (tcp (port 0))))")
      .left.exists(_.contains("multiple values")))
    assert(Server.parseConfig("(server bare-atom (storage (memory)))")
      .left.exists(_.startsWith("Malformed configuration section")))
    // a PRESENT but malformed external section fails like every other
    // malformed shape — it must not silently boot without the catalog
    assert(Server.parseConfig(
      "(server (storage (memory)) (transport (tcp (port 0))) (external (path /x)))")
      .left.exists(_.startsWith("bad external")))
  }

  test("the reference's OWN config files parse verbatim — comments, quoted atoms, both transports") {
    // the switch test: a reference user's config.sexp / config-unix.sexp
    // (repo root of dont-rely-on-nulls/sakura) must work unchanged
    import Server.Transport.{Inet, UnixSock}
    def read(p: String): Option[String] = {
      val f = new java.io.File(p)
      if (f.isFile) Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      else None
    }
    read("/root/reference/config.sexp") match {
      case Some(cfg) =>
        assert(Server.parseConfig(cfg) ==
          Right(Server.Config("memory", Inet(Some("127.0.0.1"), 7777), None)), cfg)
      case None => // reference tree absent: pin the same text inline
        assert(Server.parseConfig(
          ";; comment\n(server\n (storage (memory))\n (transport (tcp\n (address \"127.0.0.1\")\n (port 7777))))") ==
          Right(Server.Config("memory", Inet(Some("127.0.0.1"), 7777), None)))
    }
    val unixCfg = read("/root/reference/config-unix.sexp").getOrElse(
      "(server\n (storage (memory))\n (transport (tcp\n (path \"/tmp/sakura.sock\"))))")
    assert(Server.parseConfig(unixCfg) ==
      Right(Server.Config("memory", UnixSock("/tmp/sakura.sock"), None)), unixCfg)
    // and it BOOTS: serve one session over the reference's unix config
    val listener = Server.boot(spark, unixCfg).fold(e => fail(e), identity)
    val ch = java.nio.channels.SocketChannel.open(
      java.net.UnixDomainSocketAddress.of("/tmp/sakura.sock"))
    try {
      val out = new PrintWriter(java.nio.channels.Channels.newOutputStream(ch), true,
        StandardCharsets.UTF_8)
      val in = new BufferedReader(new InputStreamReader(
        java.nio.channels.Channels.newInputStream(ch), StandardCharsets.UTF_8))
      out.println("(ddl (CreateDatabase ref))")
      assert(in.readLine().startsWith("(ok"))
    } finally { ch.close(); listener.close() }
  }

  test("unix domain socket transport: boot from (tcp (path …)) and round-trip a session") {
    // short path — AF_UNIX sun_path is ~104 bytes
    val path = s"/tmp/graft-${ProcessHandle.current().pid()}.sock"
    val listener = Server.boot(spark,
      s"(server (storage (memory)) (transport (tcp (path $path))))")
      .fold(e => fail(e), identity)
    val ch = java.nio.channels.SocketChannel.open(
      java.net.UnixDomainSocketAddress.of(path))
    try {
      val out = new PrintWriter(java.nio.channels.Channels.newOutputStream(ch), true,
        StandardCharsets.UTF_8)
      val in = new BufferedReader(new InputStreamReader(
        java.nio.channels.Channels.newInputStream(ch), StandardCharsets.UTF_8))
      def req(s: String): String = { out.println(s); in.readLine() }
      assert(req("(ddl (CreateDatabase g))").startsWith("(ok"))
      assert(req("(ddl (CreateRelation (name t) (schema ((k integer)))))").startsWith("(ok"))
      assert(req("(dml (InsertTuple (relation t) (attributes ((k (Int 9))))))").startsWith("(ok"))
      val resp = req("(drl (Base t))")
      assert(resp.startsWith("(relation") && resp.contains("(Int 9)"), resp)
    } finally {
      ch.close(); listener.close()
      // close() removes the socket file
      assert(!new java.io.File(path).exists(), s"socket file $path left behind")
    }
  }

  test("unix bind: a LIVE listener keeps its address (second boot fails); a STALE socket file is reclaimed") {
    val path = s"/tmp/graft-bind-${ProcessHandle.current().pid()}.sock"
    val cfg = s"(server (storage (memory)) (transport (tcp (path $path))))"
    val first = Server.boot(spark, cfg).fold(e => fail(e), identity)
    try {
      // the reference's Unix bind fails EADDRINUSE on a held path
      // (lib/transport.ml:44-48) — a second boot must NOT silently
      // unlink the live server's socket and steal the address
      val second = Server.boot(spark, cfg)
      assert(second.left.exists(_.contains("already in use")), second)
      // and the first listener is still serving on its socket
      val ch = java.nio.channels.SocketChannel.open(
        java.net.UnixDomainSocketAddress.of(path))
      try {
        val out = new PrintWriter(java.nio.channels.Channels.newOutputStream(ch), true,
          StandardCharsets.UTF_8)
        val in = new BufferedReader(new InputStreamReader(
          java.nio.channels.Channels.newInputStream(ch), StandardCharsets.UTF_8))
        out.println("(ddl (CreateDatabase live))")
        assert(in.readLine().startsWith("(ok"))
      } finally ch.close()
    } finally first.close()
    // stale-file reclaim: a leftover path with NO listener behind it
    // (killed process) must not block the boot
    java.nio.file.Files.createFile(java.nio.file.Paths.get(path))
    val third = Server.boot(spark, cfg).fold(e => fail(e), identity)
    try {
      val ch = java.nio.channels.SocketChannel.open(
        java.net.UnixDomainSocketAddress.of(path))
      ch.close()
    } finally third.close()
  }

  test("boot from a config string and round-trip a session over TCP") {
    val listener = Server.boot(spark,
      "(server (storage (memory)) (transport (tcp (port 0))))")
      .fold(e => fail(e), identity)
    val sock = new Socket("127.0.0.1", listener.localPort)
    try {
      val out = new PrintWriter(sock.getOutputStream, true, StandardCharsets.UTF_8)
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
      def req(s: String): String = { out.println(s); in.readLine() }
      assert(req("(ddl (CreateDatabase g))").startsWith("(ok"))
      assert(req("(ddl (CreateRelation (name t) (schema ((k integer)))))").startsWith("(ok"))
      assert(req("(dml (InsertTuple (relation t) (attributes ((k (Int 7))))))").startsWith("(ok"))
      val resp = req("(drl (Base t))")
      assert(resp.startsWith("(relation") && resp.contains("(Int 7)"), resp)
    } finally { sock.close(); listener.close() }
  }

  test("disk storage backend: state written by one server boot serves the next") {
    val dir = tempDir("graft-server-disk").toString
    val cfg = s"(server (storage (disk $dir)) (transport (tcp (port 0))))"
    def roundTrip(reqs: Seq[String]): Seq[String] = {
      val listener = Server.boot(spark, cfg).fold(e => fail(e), identity)
      val sock = new Socket("127.0.0.1", listener.localPort)
      try {
        val out = new PrintWriter(sock.getOutputStream, true, StandardCharsets.UTF_8)
        val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
        reqs.map { r => out.println(r); in.readLine() }
      } finally { sock.close(); listener.close() }
    }
    val first = roundTrip(Seq(
      "(ddl (CreateDatabase g))",
      "(ddl (CreateRelation (name t) (schema ((k integer)))))",
      "(dml (InsertTuple (relation t) (attributes ((k (Int 7))))))"))
    assert(first.forall(_.startsWith("(ok")), first)
    // a BRAND NEW listener over the same storage root sees the state
    val second = roundTrip(Seq("(drl (Base t))"))
    assert(second.head.startsWith("(relation") && second.head.contains("(Int 7)"), second.head)
  }
}
