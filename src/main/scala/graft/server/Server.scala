package graft.server

import org.apache.spark.sql.SparkSession
import graft.catalog.{Catalog, ParquetCatalog}
import graft.sexp.Sexp
import graft.sexp.Sexp.{Atom, SList}

/** Server boot from a configuration sexp — the reference's entry path
  * (reference bin/server.ml:3-12 → System.run_from_config,
  * lib/system.ml:106-111; config grammar lib/configuration.ml:35-61):
  *
  * {{{
  * (server
  *   (storage (memory))            ; engine state store: (memory) — the
  *                                 ;   reference's default backend — or
  *                                 ;   (disk /path/to/root) for durable
  *                                 ;   content-addressed state (Persist)
  *   (transport (tcp (address 0.0.0.0) (port 4422)))
  *                                 ; inet bind — (address …) optional
  *                                 ;   (loopback default; port 0 =
  *                                 ;   ephemeral), OR a unix domain
  *                                 ;   socket: (tcp (path /run/g.sock)).
  *                                 ;   address/port and path are
  *                                 ;   mutually exclusive (reference
  *                                 ;   lib/transport.ml:36-40)
  *   (external /path/to/parquet))  ; OPTIONAL extension: a parquet
  *                                 ;   directory served as base tables
  * }}}
  *
  * The reference instantiates storage and transport from registries; the
  * Spark build has two storage regimes (in-process, and write-through
  * disk persistence via [[graft.engine.Persist]]) and one transport
  * module covering both of the reference's TCP sockaddr families (inet
  * and AF_UNIX, lib/transport.ml:23-28); the config surface validates
  * the same shapes — (address + port) XOR (path), invalid-port and
  * unexpected-field rejections — with one documented leniency: a bare
  * `(port p)` binds loopback (the reference requires an explicit
  * address; test transports here want ephemeral loopback).
  */
object Server {

  sealed trait Transport
  object Transport {
    final case class Inet(address: Option[String], port: Int) extends Transport
    final case class UnixSock(path: String) extends Transport
  }

  final case class Config(storage: String, transport: Transport, external: Option[String],
      storageDir: Option[String] = None) {
    /** Inet port, for callers that know they configured inet. */
    def port: Int = transport match {
      case Transport.Inet(_, p) => p
      case _                    => -1
    }
  }

  /** The reference's TCP field grammar (lib/transport.ml:31-51):
    * (address a)+(port p) | (path s); both families through one tag. */
  private def parseTcp(fields: List[Sexp]): Either[String, Transport] = {
    var addr: Option[String] = None
    var port: Option[Int] = None
    var path: Option[String] = None
    for (f <- fields) f match {
      case SList(List(Atom("address"), Atom(a))) => addr = Some(a)
      case SList(List(Atom("port"), Atom(p))) =>
        p.toIntOption match {
          case Some(n) => port = Some(n)
          case None    => return Left(s"transport/tcp: invalid port: $p")
        }
      case SList(List(Atom("path"), Atom(p))) => path = Some(p)
      case bad => return Left(s"transport/tcp: unexpected: ${bad.render}")
    }
    (addr, port, path) match {
      case (_, Some(p), None)       => Right(Transport.Inet(addr, p)) // addr optional: loopback default
      case (None, None, Some(s))    => Right(Transport.UnixSock(s))
      case (None, None, None)       => Left("transport/tcp: no address fields")
      case _ => Left("transport/tcp: use (address + port) or (path), not both")
    }
  }

  /** Section keys this server accepts: the reference's
    * {storage, transport} (lib/system.ml:109) plus the documented
    * `external` extension (parquet base tables). */
  private val ExpectedSections = Set("storage", "transport", "external")

  /** Section sweep with the reference's own validation
    * (lib/configuration.ml:16-32): unknown, duplicate, empty, and
    * multi-value sections are rejected with the same messages — a typo'd
    * or doubled section must fail the boot, not be silently ignored. */
  private def sections(fields: List[Sexp]): Either[String, Map[String, Sexp]] =
    fields.foldLeft[Either[String, Map[String, Sexp]]](Right(Map.empty)) {
      case (e @ Left(_), _) => e
      case (Right(acc), SList(Atom(key) :: body)) =>
        if (!ExpectedSections(key)) Left(s"Unknown configuration section: $key")
        else if (acc.contains(key)) Left(s"Duplicate configuration section: $key")
        else body match {
          case List(subtree) => Right(acc + (key -> subtree))
          case Nil => Left(s"Configuration section $key is empty (expected a tagged value)")
          case _ => Left(s"Configuration section $key has multiple values (expected exactly one)")
        }
      case (_, bad) => Left(s"Malformed configuration section: ${bad.render}")
    }

  def parseConfig(text: String): Either[String, Config] =
    Sexp.parse(text).flatMap {
      case SList(Atom("server") :: fields) =>
        for {
          sm <- sections(fields)
          storagePair <- sm.get("storage").toRight("missing field: storage").flatMap {
            case SList(List(Atom("disk"), Atom(dir))) => Right(("disk", Some(dir)))
            case SList(Atom("disk") :: _) => Left("disk storage needs a root path: (disk /path)")
            case SList(Atom(kind) :: _) => Right((kind, None))
            case Atom(kind)             => Right((kind, None))
            case o => Left(s"bad storage: ${o.render}")
          }
          (storage, storageDir) = storagePair
          _ <- if (storage == "memory" || storage == "disk") Right(())
               else Left(s"Unknown storage backend: $storage")
          transport <- sm.get("transport").toRight("missing field: transport").flatMap {
            case SList(Atom("tcp") :: tcpFields) => parseTcp(tcpFields)
            case o => Left(s"Unknown transport: ${o.render}")
          }
          // a PRESENT but malformed external section fails the boot like
          // every other malformed section — a silent None would boot the
          // server without the parquet catalog the config asked for
          external <- sm.get("external") match {
            case None            => Right(None)
            case Some(Atom(dir)) => Right(Some(dir))
            case Some(o) => Left(s"bad external: expected a directory atom, got ${o.render}")
          }
        } yield Config(storage, transport, external, storageDir)
      case other => Left(s"config must be a (server ...) form, got: ${other.render}")
    }

  /** Boot a listener from a config string on an existing session. A
    * corrupt persisted store surfaces on the SAME error channel as a
    * bad config — callers handle one Either, not an Either plus an
    * escaping constructor exception. */
  def boot(spark: SparkSession, configText: String): Either[String, Listener] =
    parseConfig(configText).flatMap { cfg =>
      val external: Option[Catalog] = cfg.external.map(new ParquetCatalog(spark, _))
      val listener = cfg.transport match {
        case Transport.Inet(addr, port) =>
          () => new Listener(spark, external, port, cfg.storageDir, bindAddress = addr)
        case Transport.UnixSock(path) =>
          () => new Listener(spark, external, 0, cfg.storageDir, unixPath = Some(path))
      }
      try Right(listener().start())
      catch { case e: IllegalStateException => Left(e.getMessage) }
    }

  /** `runMain graft.Server <config-file | config-sexp>`; with no args,
    * a memory/tcp default on an ephemeral port. Blocks forever. */
  def main(args: Array[String]): Unit = {
    val configText = args.headOption match {
      case Some(a) if new java.io.File(a).isFile =>
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(a)), "UTF-8")
      case Some(a) => a
      case None => "(server (storage (memory)) (transport (tcp (port 0))))"
    }
    val spark = graft.LocalSession.server("graft-server")
    boot(spark, configText) match {
      case Left(err) =>
        System.err.println(s"config error: $err")
        sys.exit(2)
      case Right(listener) =>
        println(s"graft server listening on ${listener.boundAddress}")
        Thread.currentThread.join() // serve until killed
    }
  }
}
