package graft.engine

import scala.collection.immutable.{ArraySeq, ListMap, VectorMap}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.{ColumnIOFactory, OutputFile}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter,
  RecordConsumer, RecordMaterializer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.dcl.Store
import graft.hashing.Hashing
import graft.hashing.Hashing.ContentRoot
import graft.sexp.Sexp
import graft.sexp.Sexp.{Atom, SList}
import graft.types.{Cardinality, Domain, RelSchema}

/** Durable engine state — the Spark-native mapping of the reference's
  * physical storage layer (reference lib/storable.ml:25-36,
  * lib/management/physical.ml:11-84, which persists content-addressed
  * objects under a configured root).
  *
  * Layout under a storage root (any Hadoop-visible filesystem — local
  * path in tests, HDFS/object store on a cluster):
  *
  * {{{
  * objects/<relHash>.parquet   relation extensions, content-addressed:
  *                             written at most once per distinct relation
  *                             version, shared by every snapshot that
  *                             references it (the reference's dedup-by-
  *                             content-hash, at parquet-file granularity
  *                             instead of per-tuple KV granularity)
  * snapshots/<dbHash>.sexp     database manifests: name, history, domains,
  *                             constraints, deferred queue, and per-
  *                             relation (schema, content root, object ref)
  * store/<generation>.sexp     the store record: branch registry + HEAD +
  *                             current hash. Each commit writes the next
  *                             generation, then deletes the older ones;
  *                             boot reads the highest (a store from before
  *                             this layout has one `store.sexp` instead)
  * }}}
  *
  * Nothing is overwritten: a manifest or store record lands by a plain
  * rename onto a name that does not exist yet ([[writeText]]), the one
  * rename that is atomic on every Hadoop file system, local and HDFS alike.
  *
  * Scale posture: a snapshot write costs one parquet write PER CHANGED
  * RELATION (unchanged relations re-reference their existing object) plus
  * two tiny manifest files; a fully-persisted snapshot short-circuits on
  * its manifest's existence, so write-through cost stays O(one changed
  * snapshot) however long the history grows. A Local relation version is
  * written and read on the driver by this object's own parquet codec
  * (one snappy `part-00000.parquet` with Spark's row metadata in the
  * footer) — no Spark job per commit or per restored version; a Dist
  * version goes through `df.write`/`spark.read`. Both layouts are plain
  * Spark-readable parquet, so either side reads what the other wrote.
  * Objects hold the declared columns only, never the row digest: writing
  * a Dist version writes its `df`, and Catalyst prunes the digest column
  * out of that write. Reloading builds Dist relations directly over the
  * parquet objects, so a restored Dist relation starts with a clean
  * one-node scan plan (the "relation version = parquet snapshot" mapping
  * of SURVEY §1.3, now durable across JVMs) plus a lazy digest
  * projection that only digest consumers evaluate. Local-threshold
  * relations verify their content root on load; Dist relations trust the
  * content-addressed path (re-deriving a 10^9-row root at boot would scan
  * the world — [[fsck]] is the explicit deep scan). History growth is managed by [[prune]] +
  * [[gc]].
  */
object Persist {

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def objectPath(root: String, relHash: String) = new Path(root, s"objects/$relHash.parquet")
  private def snapshotPath(root: String, dbHash: String) = new Path(root, s"snapshots/$dbHash.sexp")
  private def recordPath(root: String, gen: Long) = new Path(root, s"store/$gen.sexp")
  private def legacyStorePath(root: String) = new Path(root, "store.sexp")

  private val SnapshotFile = "^([0-9a-f]{64})\\.sexp$".r
  private val RecordFile = "^([0-9]{1,18})\\.sexp$".r

  /** Names of the entries of `root/sub`; empty when it does not exist. */
  private def namesIn(f: FileSystem, root: String, sub: String): Seq[String] = {
    val dir = new Path(root, sub)
    if (!f.exists(dir)) Seq.empty else f.listStatus(dir).toSeq.map(_.getPath.getName)
  }

  /** Generations of the complete store records on disk, ascending
    * (temp files never match a record name). */
  private def recordGenerations(f: FileSystem, root: String): Seq[Long] =
    namesIn(f, root, "store").collect { case RecordFile(g) => g.toLong }.sorted

  /** The boot pointer: the highest-generation store record, else a legacy
    * `store.sexp`; None when `root` holds no store. */
  private def latestRecord(f: FileSystem, root: String): Option[Path] =
    recordGenerations(f, root).lastOption.map(recordPath(root, _))
      .orElse(Some(legacyStorePath(root)).filter(f.exists))

  /** Hashes of the snapshot manifests present on disk (ignores temp
    * files and anything else that is not a complete manifest name). */
  private def listSnapshotHashes(f: FileSystem, root: String): Seq[String] =
    namesIn(f, root, "snapshots").collect { case SnapshotFile(h) => h }

  /** Publish `text` at `p` without overwriting: write a sibling temp
    * file, then a plain rename onto `p`, atomic on the local FS and HDFS,
    * so a reader sees the whole file or none. When `p` already exists the
    * temp file is dropped and the result is false: a content-addressed
    * manifest there holds these very bytes, while a store record's next
    * generation there means a second writer ([[writeRecord]] fails). */
  private def writeText(f: FileSystem, p: Path, text: String): Boolean = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    if (f.rename(tmp, p)) true
    else if (f.exists(p)) { f.delete(tmp, false); false }
    else throw new java.io.IOException(s"rename $tmp -> $p failed")
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  // ---- manifest rendering ----

  private def renderCardinality(c: Cardinality): Sexp = c match {
    case Cardinality.Finite(n)         => Sexp.list(Atom("Finite"), Atom(n.toString))
    case Cardinality.ConstrainedFinite => Atom("ConstrainedFinite")
    case Cardinality.AlephZero         => Atom("AlephZero")
    case Cardinality.Continuum         => Atom("Continuum")
  }

  private def typeNameOf(dt: DataType): String = dt match {
    case LongType    => "long"
    case DoubleType  => "double"
    case StringType  => "string"
    case BooleanType => "boolean"
    case other       => throw new IllegalArgumentException(s"unpersistable type: $other")
  }

  private def typeOfName(n: String): Either[String, DataType] = n match {
    case "long"    => Right(LongType)
    case "double"  => Right(DoubleType)
    case "string"  => Right(StringType)
    case "boolean" => Right(BooleanType)
    case other     => Left(s"unknown persisted type: $other")
  }

  private def renderRelation(rel: StoredRelation): Sexp =
    SList(List(
      Sexp.list(Atom("name"), Atom(rel.name)),
      Sexp.list(Atom("schema"),
        SList(rel.schema.attrs.map { case (a, d) => Sexp.list(Atom(a), Atom(d)) })),
      Sexp.list(Atom("count"), Atom(rel.root.count.toString)),
      Sexp.list(Atom("limbs"),
        SList(rel.root.limbs.toList.map(l => Atom(f"$l%016x")))),
      Sexp.list(Atom("constraints"),
        SList(rel.constraints.toList.map { case (cn, b) =>
          Sexp.list(Atom(cn), graft.icl.Render.body(b))
        }))))

  private def renderDatabase(db: Database): Sexp = {
    // persist a domain when it is not the untouched prelude binding —
    // a REDEFINED prelude name (Engine.registerDomain allows it) must
    // roundtrip or restored schemas resolve to the wrong Spark type
    val userDomains = db.domains.view
      .filter { case (n, d) => !Domain.prelude.get(n).contains(d) }
      .toSeq.sortBy(_._1)
    SList(List(
      Atom("database"),
      Sexp.list(Atom("name"), Atom(db.name)),
      Sexp.list(Atom("hash"), Atom(db.hash)),
      Sexp.list(Atom("history"), SList(db.history.map(Atom(_)))),
      Sexp.list(Atom("deferred"), SList(db.deferred.map(e =>
        Sexp.list(Atom(e.constraintName), Atom(e.relationName), graft.icl.Render.body(e.body))))),
      Sexp.list(Atom("domains"), SList(userDomains.toList.map { case (_, d) =>
        // a Column=>Column check predicate is driver code — it cannot be
        // serialized, and restoring it as check-free would silently admit
        // values the domain rejects. Fail the save loudly (same contract
        // as typeNameOf for unpersistable types); DDL-registered domains
        // never carry checks, only programmatic registration can
        if (d.check.nonEmpty)
          throw new IllegalArgumentException(s"unpersistable domain ${d.name}: " +
            "programmatic check predicates do not survive a restart")
        Sexp.list(Atom(d.name), Atom(typeNameOf(d.sparkType)), renderCardinality(d.cardinality))
      })),
      Sexp.list(Atom("relations"), SList(db.relations.values.toList.map(renderRelation)))))
  }

  // ---- save ----

  /** Persist one snapshot: changed relation objects + its manifest.
    * Content addressing makes this idempotent and incremental: the
    * manifest is written AFTER its objects, so an existing manifest
    * proves the snapshot is fully on disk and the whole call
    * short-circuits on one exists() probe. */
  def saveSnapshot(spark: SparkSession, root: String, db: Database): Unit = {
    val f = fs(spark, root)
    val mp = snapshotPath(root, db.hash)
    if (f.exists(mp)) return
    for (rel <- db.relations.values if rel.root.count > 0) {
      val p = objectPath(root, rel.relHash)
      if (!f.exists(new Path(p, "_SUCCESS"))) rel.ext match {
        case Extension.Local(rows) => writeLocalObject(f, p, rel.struct, rows.values)
        case d: Extension.Dist     => d.df.write.mode("overwrite").parquet(p.toString)
      }
    }
    writeText(f, mp, renderDatabase(db).render)
  }

  // ---- driver-side parquet codec (Local relation versions) ----

  /** The footer key under which Spark stores a file's Catalyst schema. */
  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** Parquet physical type of each persistable column type
    * ([[typeNameOf]]'s four) — Spark's own mapping. */
  private val Physical: Map[DataType, PrimitiveTypeName] = Map(
    LongType -> PrimitiveTypeName.INT64, DoubleType -> PrimitiveTypeName.DOUBLE,
    StringType -> PrimitiveTypeName.BINARY, BooleanType -> PrimitiveTypeName.BOOLEAN)

  /** The parquet schema Spark would write for `struct`. */
  private def messageOf(struct: StructType): MessageType =
    new MessageType("spark_schema", struct.fields.toSeq.map { fl =>
      val phys = Physical.getOrElse(fl.dataType,
        throw new IllegalArgumentException(s"unpersistable type: ${fl.dataType}"))
      val b = Types.primitive(phys,
        if (fl.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED)
      (if (fl.dataType == StringType) b.as(LogicalTypeAnnotation.stringType()) else b)
        .named(fl.name): Type
    }: _*)

  /** Writes rows of `struct` (cells in struct order) as parquet records. */
  private final class RowWriteSupport(struct: StructType) extends WriteSupport[Row] {
    private val fields = struct.fields
    private var out: RecordConsumer = _
    def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(messageOf(struct), Map(SparkRowMetadata -> struct.json).asJava)
    def prepareForWrite(rc: RecordConsumer): Unit = out = rc
    def write(r: Row): Unit = {
      out.startMessage()
      for (i <- fields.indices if !r.isNullAt(i)) {
        out.startField(fields(i).name, i)
        fields(i).dataType match {
          case LongType   => out.addLong(r.getLong(i))
          case DoubleType => out.addDouble(r.getDouble(i))
          case StringType => out.addBinary(Binary.fromString(r.getString(i)))
          case _          => out.addBoolean(r.getBoolean(i))
        }
        out.endField(fields(i).name, i)
      }
      out.endMessage()
    }
  }

  private final class RowWriterBuilder(file: OutputFile, struct: StructType)
      extends ParquetWriter.Builder[Row, RowWriterBuilder](file) {
    protected def self(): RowWriterBuilder = this
    protected def getWriteSupport(conf: Configuration): WriteSupport[Row] =
      new RowWriteSupport(struct)
  }

  /** Write a driver-held relation version as the object at `p`: one
    * snappy `part-00000.parquet`, then the `_SUCCESS` marker last — the
    * same completeness protocol as Spark's writer. A leftover directory
    * from an interrupted write is cleared first, as Spark's overwrite
    * mode does. */
  private def writeLocalObject(f: FileSystem, p: Path, struct: StructType,
      rows: Iterable[Row]): Unit = {
    f.delete(p, true)
    val file = HadoopOutputFile.fromPath(new Path(p, "part-00000.parquet"), f.getConf)
    val w = new RowWriterBuilder(file, struct)
      .withConf(f.getConf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows.foreach(w.write) finally w.close()
    f.create(new Path(p, "_SUCCESS"), true).close()
  }

  /** Assembles one record's cells, in requested-schema order; a cell the
    * file leaves undefined stays null. */
  private final class CellsMaterializer(width: Int) extends RecordMaterializer[Array[Any]] {
    private var cells: Array[Any] = _
    private val root = new GroupConverter {
      private val convs: Array[Converter] = Array.tabulate(width)(i => new PrimitiveConverter {
        override def addLong(v: Long): Unit = cells(i) = v
        override def addDouble(v: Double): Unit = cells(i) = v
        override def addBoolean(v: Boolean): Unit = cells(i) = v
        override def addBinary(v: Binary): Unit = cells(i) = v.toStringUsingUTF8
      })
      def getConverter(i: Int): Converter = convs(i)
      def start(): Unit = cells = new Array[Any](width)
      def end(): Unit = ()
    }
    def getCurrentRecord: Array[Any] = cells
    def getRootConverter: GroupConverter = root
  }

  /** Every row of the object at `p` on the driver, cells in `rel.struct`
    * order, whoever wrote it: this codec's single file or Spark's
    * multi-part output (data files are those not named `_*` or `.*`, as
    * Spark lists them). A missing column, a wrong physical type, a null
    * cell or an unreadable file is a Left. */
  private def readLocalObject(f: FileSystem, p: Path,
      rel: StoredRelation): Either[String, Vector[Row]] = {
    val files = f.listStatus(p).toList.map(_.getPath)
      .filterNot(q => q.getName.startsWith("_") || q.getName.startsWith("."))
    traverse(files)(readDataFile(f.getConf, _, rel)).map(_.flatten.toVector)
  }

  private def readDataFile(conf: Configuration, file: Path,
      rel: StoredRelation): Either[String, Vector[Row]] = {
    val fields = rel.struct.fields.toList
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
        HadoopReadOptions.builder(conf).build())
      try {
        val fileSchema = reader.getFileMetaData.getSchema
        traverse(fields) { fl =>
          if (!fileSchema.containsField(fl.name))
            Left(s"object of relation ${rel.name} has no column ${fl.name}: $file")
          else {
            val t = fileSchema.getType(fileSchema.getFieldIndex(fl.name))
            if (t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED) &&
                Physical.get(fl.dataType).contains(t.asPrimitiveType.getPrimitiveTypeName)) Right(t)
            else Left(s"object of relation ${rel.name}: column ${fl.name} is $t, " +
              s"expected ${fl.dataType.simpleString}: $file")
          }
        }.flatMap { columns =>
          val requested = new MessageType(fileSchema.getName, columns: _*)
          reader.setRequestedSchema(requested)
          val io = new ColumnIOFactory().getColumnIO(requested, fileSchema)
          val out = Vector.newBuilder[Row]
          var nullIn: Option[String] = None
          var pages = reader.readNextRowGroup()
          while (pages != null && nullIn.isEmpty) {
            val records = io.getRecordReader(pages, new CellsMaterializer(fields.length))
            var n = pages.getRowCount
            while (n > 0 && nullIn.isEmpty) {
              val cells = records.read()
              val at = cells.indexOf(null)
              if (at >= 0) nullIn = Some(fields(at).name)
              else out += Row.fromSeq(ArraySeq.unsafeWrapArray(cells))
              n -= 1
            }
            pages = reader.readNextRowGroup()
          }
          nullIn.map(c => s"object of relation ${rel.name} has a null cell in column $c: $file")
            .toLeft(out.result())
        }
      } finally reader.close()
    } catch {
      case NonFatal(e) => Left(s"unreadable object of relation ${rel.name}: $file: $e")
    }
  }

  /** Persist the whole session state: every stored snapshot, the branch
    * registry, HEAD, and the current database hash. Cost per call is
    * O(changed snapshots) — see [[saveSnapshot]]. */
  def saveStore(spark: SparkSession, root: String, store: Store,
      current: Option[Database]): Unit = {
    store.allSnapshots.foreach(saveSnapshot(spark, root, _))
    current.foreach(saveSnapshot(spark, root, _))
    writeStoreFile(spark, root, store, current)
  }

  /** Commit just the store record (branches, HEAD, snapshot references) —
    * the caller asserts every referenced snapshot is already on disk.
    * Split out so a write-through session that tracks persisted hashes
    * in memory can skip the per-snapshot exists() probes of
    * [[saveStore]] (O(history) filesystem round-trips per mutation on a
    * remote store). */
  def writeStoreFile(spark: SparkSession, root: String, store: Store,
      current: Option[Database]): Unit =
    writeRecord(fs(spark, root), root, StoreFile(
      current.map(_.hash).getOrElse("none"), store.head.getOrElse("none"), store.list.toList,
      (store.allSnapshots.map(_.hash) ++ current.map(_.hash)).distinct.toList))

  /** Commit `sf` as the next store record, then delete the older records
    * and any legacy `store.sexp`. A crash before the deletions leaves
    * older records that boot ignores and the next commit deletes. */
  private def writeRecord(f: FileSystem, root: String, sf: StoreFile): Unit = {
    val older = recordGenerations(f, root)
    val p = recordPath(root, older.lastOption.fold(1L)(_ + 1))
    if (!writeText(f, p, sf.render))
      throw new java.io.IOException(s"store record $p already exists: a second writer?")
    older.foreach(g => f.delete(recordPath(root, g), false))
    f.delete(legacyStorePath(root), false)
  }

  /** A store record: the current database hash and HEAD (each `none`
    * when absent), the branch registry, and every persisted snapshot. */
  private final case class StoreFile(current: String, head: String,
      branches: List[(String, String)], snapshots: List[String]) {
    def render: String = SList(List(
      Atom("store"),
      Sexp.list(Atom("current"), Atom(current)),
      Sexp.list(Atom("head"), Atom(head)),
      Sexp.list(Atom("branches"),
        SList(branches.map { case (n, t) => Sexp.list(Atom(n), Atom(t)) })),
      Sexp.list(Atom("snapshots"), SList(snapshots.map(Atom(_)))))).render
  }

  private def readStoreFile(f: FileSystem, p: Path): Either[String, StoreFile] =
    Sexp.parse(readText(f, p)).flatMap {
      case SList(Atom("store") :: fields) =>
        for {
          current <- field(fields, "current").flatMap(atomOf(_, "current"))
          head <- field(fields, "head").flatMap(atomOf(_, "head"))
          branches <- field(fields, "branches").flatMap {
            case SList(bs) => traverse(bs) {
              case SList(List(Atom(n), Atom(t))) => Right(n -> t)
              case o => Left(s"bad branch entry: ${o.render}")
            }
            case o => Left(s"bad branches: ${o.render}")
          }
          hashes <- field(fields, "snapshots").flatMap {
            case SList(hs) => traverse(hs)(atomOf(_, "snapshot hash"))
            case o => Left(s"bad snapshots: ${o.render}")
          }
        } yield StoreFile(current, head, branches, hashes)
      case other => Left(s"bad store file: ${other.render}")
    }

  // ---- manifest parsing (shared by load, gc, fsck) ----

  private def field(fields: List[Sexp], k: String): Either[String, Sexp] =
    fields.collectFirst { case SList(Atom(`k`) :: v :: Nil) => v }
      .toRight(s"missing field: $k")

  private def atomOf(s: Sexp, what: String): Either[String, String] = s match {
    case Atom(a) => Right(a)
    case o       => Left(s"bad $what: ${o.render}")
  }

  private def traverse[A, B](xs: List[A])(f: A => Either[String, B]): Either[String, List[B]] =
    xs.foldRight(Right(Nil): Either[String, List[B]]) { (a, acc) =>
      for { b <- f(a); rest <- acc } yield b :: rest
    }

  private def parseDomain(s: Sexp): Either[String, Domain] = s match {
    case SList(List(Atom(name), Atom(tn), cardS)) =>
      for {
        dt <- typeOfName(tn)
        card <- graft.ddl.Parser.parseCardinality(cardS)
      } yield Domain(name, dt, card)
    case o => Left(s"bad domain entry: ${o.render}")
  }

  /** The identity core of one relation entry: (fields, name, schema,
    * root). THE single parser for relation metadata — load, gc, and fsck
    * all read manifests through it, so they can never disagree about
    * which object a snapshot references. */
  private def parseRelCore(s: Sexp): Either[String, (List[Sexp], String, RelSchema, ContentRoot)] =
    s match {
      case SList(fields) =>
        for {
          name <- field(fields, "name").flatMap(atomOf(_, "name"))
          schema <- field(fields, "schema").flatMap {
            case SList(pairs) => traverse(pairs) {
              case SList(List(Atom(a), Atom(d))) => Right(a -> d)
              case o => Left(s"bad schema entry: ${o.render}")
            }.map(RelSchema(_))
            case o => Left(s"bad schema: ${o.render}")
          }
          count <- field(fields, "count").flatMap(atomOf(_, "count"))
            .flatMap(c => c.toLongOption.toRight(s"bad count: $c"))
          limbs <- field(fields, "limbs").flatMap {
            case SList(ls) if ls.length == 4 => traverse(ls) {
              case Atom(h) =>
                try Right(java.lang.Long.parseUnsignedLong(h, 16))
                catch { case _: NumberFormatException => Left(s"bad limb: $h") }
              case o => Left(s"bad limb: ${o.render}")
            }
            case o => Left(s"bad limbs: ${o.render}")
          }
        } yield (fields, name, schema, ContentRoot(count, limbs.toVector))
      case o => Left(s"bad relation entry: ${o.render}")
    }

  /** Parsed manifest skeleton: everything except relation extensions. */
  private final case class Manifest(name: String, hash: String, history: List[String],
      deferred: List[DeferredEntry], domains: Map[String, Domain], relations: List[Sexp])

  private def parseManifest(text: String): Either[String, Manifest] =
    Sexp.parse(text).flatMap {
      case SList(Atom("database") :: fields) =>
        for {
          name <- field(fields, "name").flatMap(atomOf(_, "name"))
          dbHash <- field(fields, "hash").flatMap(atomOf(_, "hash"))
          history <- field(fields, "history").flatMap {
            case SList(hs) => traverse(hs)(atomOf(_, "history entry"))
            case o => Left(s"bad history: ${o.render}")
          }
          deferred <- field(fields, "deferred").flatMap {
            case SList(ds) => traverse(ds) {
              case SList(List(Atom(cn), Atom(rn), bodyS)) =>
                graft.icl.Parser.parseBody(bodyS).map(DeferredEntry(cn, rn, _))
              case o => Left(s"bad deferred entry: ${o.render}")
            }
            case o => Left(s"bad deferred: ${o.render}")
          }
          userDomains <- field(fields, "domains").flatMap {
            case SList(ds) => traverse(ds)(parseDomain)
            case o => Left(s"bad domains: ${o.render}")
          }
          relations <- field(fields, "relations").flatMap {
            case SList(rs) => Right(rs)
            case o => Left(s"bad relations: ${o.render}")
          }
        } yield Manifest(name, dbHash, history, deferred,
          Domain.prelude ++ userDomains.map(d => d.name -> d).toMap, relations)
      case other => Left(s"bad snapshot manifest: ${other.render}")
    }

  // ---- load ----

  private def parseRelation(spark: SparkSession, root: String, domains: Map[String, Domain],
      s: Sexp, cache: mutable.Map[String, Extension]): Either[String, StoredRelation] =
    for {
      core <- parseRelCore(s)
      (fields, name, schema, root0) = core
      constraints <- field(fields, "constraints").flatMap {
        case SList(cs) => traverse(cs) {
          case SList(List(Atom(cn), bodyS)) => graft.icl.Parser.parseBody(bodyS).map(cn -> _)
          case o => Left(s"bad constraint entry: ${o.render}")
        }
        case o => Left(s"bad constraints: ${o.render}")
      }
      struct <- schema.toStruct(domains)
      rel <- loadExtension(spark, root, StoredRelation(
        name, schema, struct, Extension.emptyLocal, root0, ListMap(constraints: _*)), cache)
    } yield rel

  /** A Dist extension over a relation's parquet object: the declared
    * columns, selected by name, plus a lazy [[Engine.RhCol]] projection of
    * the row digest. Objects store no digest; Catalyst prunes the
    * projection from every read that does not use it, and pushes a
    * single-tuple op's attribute prefilter below it, so only digest
    * consumers (bulk-insert clash probes, `DeleteWhere`, DCL diff and
    * merge) pay the sha pass. */
  private def distOver(spark: SparkSession, p: Path, rel: StoredRelation): Extension =
    Extension.Dist(spark.read.parquet(p.toString)
      .select(rel.struct.fields.toIndexedSeq.map(fl => col(s"`${fl.name}`")): _*)
      .withColumn(Engine.RhCol, rel.rowHash))

  /** Rebuild a relation's extension from its content-addressed object.
    * Small relations are read on the driver with no Spark job, whoever
    * wrote the object (this codec, or Spark for a Dist version that later
    * shrank, or an older store), and come back Local (rows re-keyed by
    * tuple hash, sorted for determinism) with the root VERIFIED against
    * the manifest; large ones come back as a Dist plan over the parquet
    * object through `spark.read` ([[distOver]]: lazy digests) — fresh
    * lineage, verified lazily by the content-addressed path name. The
    * cache (keyed by relation hash) makes a multi-snapshot restore load
    * and verify each distinct relation version exactly once. */
  private def loadExtension(spark: SparkSession, root: String,
      rel: StoredRelation, cache: mutable.Map[String, Extension]): Either[String, StoredRelation] = {
    if (rel.root.count == 0) Right(rel)
    else cache.get(rel.relHash) match {
      case Some(ext) => Right(rel.copy(ext = ext))
      case None =>
        val f = fs(spark, root)
        val p = objectPath(root, rel.relHash)
        if (!f.exists(new Path(p, "_SUCCESS")))
          Left(s"missing object for relation ${rel.name}: $p")
        else {
          val extE: Either[String, Extension] =
            if (rel.root.count <= Engine.LocalThreshold) readLocalObject(f, p, rel).flatMap { rows =>
              val keyed = rows
                .map(r => Hashing.tupleHash(rel.name, Engine.rowToAttrs(rel, r)) -> r)
                .sortBy(_._1)
              val rebuilt = keyed.foldLeft(ContentRoot.empty) { case (acc, (h, _)) => acc.add(h) }
              if (rebuilt != rel.root)
                Left(s"content root mismatch for relation ${rel.name}: " +
                  s"stored ${rel.root.render}, rebuilt ${rebuilt.render}")
              else Right(Extension.Local(VectorMap.from(keyed)))
            } else Right(distOver(spark, p, rel))
          extE.map { ext => cache(rel.relHash) = ext; rel.copy(ext = ext) }
        }
    }
  }

  private def loadSnapshotCached(spark: SparkSession, root: String, hash: String,
      cache: mutable.Map[String, Extension]): Either[String, Database] = {
    val f = fs(spark, root)
    val p = snapshotPath(root, hash)
    if (!f.exists(p)) Left(s"snapshot not found: $hash")
    else for {
      m <- parseManifest(readText(f, p))
      _ <- if (m.hash == hash) Right(())
           else Left(s"manifest hash ${m.hash} does not match path $hash")
      relations <- traverse(m.relations)(parseRelation(spark, root, m.domains, _, cache))
      db = Database(m.name, ListMap(relations.map(r => r.name -> r): _*),
        m.domains, m.history, m.deferred, m.hash)
      // cross-check the whole-state identity: relation hashes fold to
      // the persisted database hash or the manifest is inconsistent
      recomputed = Hashing.databaseHash(m.name, db.relations.values.map(_.relHash))
      _ <- if (recomputed == m.hash) Right(())
           else Left(s"database hash mismatch: manifest ${m.hash}, recomputed $recomputed")
    } yield db
  }

  /** Load one snapshot manifest + its relation extensions. */
  def loadSnapshot(spark: SparkSession, root: String, hash: String): Either[String, Database] =
    loadSnapshotCached(spark, root, hash, mutable.Map.empty)

  /** True when `root` holds a persisted store. */
  def exists(spark: SparkSession, root: String): Boolean =
    latestRecord(fs(spark, root), root).nonEmpty

  /** Restore a persisted session into `store`: snapshots, branches,
    * HEAD; returns the current database (None for a pre-CreateDatabase
    * store). Snapshots whose manifest is MISSING are skipped — that is
    * the expected state after [[prune]] — but a present-and-corrupt
    * manifest, or a missing CURRENT snapshot, still fails the boot
    * loudly. Each distinct relation version is loaded and verified once
    * across all snapshots (content addressing guarantees equality). */
  def restoreStore(spark: SparkSession, root: String,
      store: Store): Either[String, Option[Database]] = {
    val f = fs(spark, root)
    latestRecord(f, root).fold(Right(None): Either[String, Option[Database]]) { p =>
      for {
        sf <- readStoreFile(f, p)
        cache = mutable.Map.empty[String, Extension]
        snapshots <- traverse(sf.snapshots.filter(h => f.exists(snapshotPath(root, h))))(
          loadSnapshotCached(spark, root, _, cache))
        cur <-
          if (sf.current == "none") Right(None)
          else snapshots.find(_.hash == sf.current)
            .toRight(s"current snapshot ${sf.current} not among persisted snapshots").map(Some(_))
      } yield {
        snapshots.foreach(store.save)
        sf.branches.foreach { case (n, t) => store.createBranch(n, t) }
        if (sf.head != "none") store.checkout(sf.head)
        cur
      }
    }
  }

  /** Re-anchor a just-persisted database on its on-disk objects: each
    * Dist relation whose content-addressed object exists comes back as a
    * fresh parquet scan with chain 0 and lazy digests ([[distOver]]). The
    * snapshot write IS the durable chain checkpoint (reference persists
    * every state — lib/storable.ml:25-36,
    * lib/management/physical.ml:11-84): without
    * this, a write-through session re-executes a lineage that grows with
    * every mutation on each save, and the only truncation is
    * `localCheckpoint` — executor-memory resident, lost on JVM death.
    * After reopen, a crash at ANY point loses at most the in-flight
    * statement, and the restored plan is a single object scan by
    * construction. Local relations stay driver-resident (their rows are
    * already the durable manifest's concern, not lineage's). */
  def reopen(spark: SparkSession, root: String, db: Database): Database = {
    val f = fs(spark, root)
    val relations = db.relations.map { case (n, rel) =>
      rel.ext match {
        case _: Extension.Dist if rel.root.count > 0 =>
          val p = objectPath(root, rel.relHash)
          if (f.exists(new Path(p, "_SUCCESS"))) n -> rel.copy(ext = distOver(spark, p, rel), chain = 0)
          else n -> rel
        case _ => n -> rel
      }
    }
    db.copy(relations = relations)
  }

  // ---- maintenance ----

  /** Relation hashes referenced by the given manifests. */
  private def referencedHashes(f: FileSystem, root: String,
      hashes: Seq[String]): Either[String, Set[String]] =
    hashes.foldLeft(Right(Set.empty[String]): Either[String, Set[String]]) { (acc, h) =>
      acc.flatMap { set =>
        parseManifest(readText(f, snapshotPath(root, h))).flatMap { m =>
          traverse(m.relations)(parseRelCore(_).map { case (_, rn, schema, root0) =>
            Hashing.relationHash(rn, schema, root0)
          }).map(set ++ _)
        }.left.map(e => s"snapshot $h: $e")
      }
    }

  /** Retire history: commit a store record that references only the
    * current snapshot, the branch tips, and `retainExtra`; delete the
    * other snapshot manifests; then [[gc]] the orphaned objects. The
    * ONE correct way to shrink a store — deleting manifests by hand
    * leaves the store record pointing at ghosts. Returns the deleted
    * object names. Note the trade: merges whose LCA was pruned stop
    * working (the reference's append-only store has no pruning at all). */
  def prune(spark: SparkSession, root: String,
      retainExtra: Set[String] = Set.empty,
      graceMs: Long = DefaultGcGraceMs): Either[String, Seq[String]] = {
    val f = fs(spark, root)
    latestRecord(f, root).fold(Right(Seq.empty): Either[String, Seq[String]]) { p =>
      readStoreFile(f, p).flatMap { sf =>
        val retain = (retainExtra ++ sf.branches.map(_._2) ++
          (if (sf.current == "none") Set.empty else Set(sf.current))).intersect(sf.snapshots.toSet)
        // commit the new record FIRST (atomic), then delete manifests: a
        // crash in between leaves unreferenced manifests, which a later
        // gc/prune collects — never a dangling reference
        writeRecord(f, root, sf.copy(snapshots = sf.snapshots.filter(retain.contains)))
        sf.snapshots.filterNot(retain.contains)
          .foreach(h => f.delete(snapshotPath(root, h), false))
        gc(spark, root, graceMs)
      }
    }
  }

  /** Garbage-collect relation objects referenced by NO on-disk snapshot
    * manifest, plus any leftover atomic-write temp files. Content
    * addressing makes this safe-by-construction: a hash not named in any
    * manifest can never be loaded again. Returns the deleted object
    * names. Run via [[prune]] (or directly after it) on a write-through
    * store — every mutation writes a new relation version, and without
    * collection the object directory grows with the full mutation
    * history (the reference's append-only KV store has the same
    * unbounded-growth property; this is the knob it lacks).
    *
    * RACE SAFETY: [[saveSnapshot]] writes objects BEFORE their manifest,
    * so gc/prune racing an active writer could otherwise collect the
    * objects of an in-flight snapshot whose manifest has not landed yet.
    * The grace period closes that window: anything modified within
    * `graceMs` is skipped this pass (an in-flight save completes far
    * inside it; a genuine orphan is collected by the next run). Offline
    * runs that want immediate collection pass `graceMs = 0`. */
  def gc(spark: SparkSession, root: String,
      graceMs: Long = DefaultGcGraceMs): Either[String, Seq[String]] = {
    val f = fs(spark, root)
    val cutoff = System.currentTimeMillis() - graceMs
    // Some FileSystems (object stores) synthesize directory statuses with
    // modification time 0 — that is "age unknown", not "ancient". Under a
    // nonzero grace such entries must be treated as young (skipped), or
    // the whole window is silently inert exactly where it matters.
    def agedOut(st: org.apache.hadoop.fs.FileStatus): Boolean =
      graceMs <= 0 || (st.getModificationTime > 0 && st.getModificationTime < cutoff)
    // leftover temp files from interrupted atomic writes are never live —
    // but a YOUNG .tmp may be an atomic write in progress
    for (dir <- Seq(new Path(root, "snapshots"), new Path(root, "store"), new Path(root))
         if f.exists(dir);
         st <- f.listStatus(dir)
         if st.isFile && st.getPath.getName.endsWith(".tmp") && agedOut(st))
      f.delete(st.getPath, false)
    referencedHashes(f, root, listSnapshotHashes(f, root)).map { live =>
      val objDir = new Path(root, "objects")
      if (!f.exists(objDir)) Seq.empty
      else f.listStatus(objDir).toSeq
        .filter(st => !live.contains(st.getPath.getName.stripSuffix(".parquet")) &&
          agedOut(st))
        .map { st => f.delete(st.getPath, true); st.getPath.getName }
    }
  }

  /** [[gc]]'s default protection window for recently-written objects:
    * generous against a snapshot save in flight (seconds), small against
    * the unbounded growth gc exists to curb. */
  val DefaultGcGraceMs: Long = 15 * 60 * 1000L

  /** Verify every persisted object against its content-addressed name:
    * recompute each distinct relation version's content root
    * DISTRIBUTIVELY (one digest aggregation per object — no collect, any
    * object size) and compare against the manifest. Returns per-relation
    * findings; empty = healthy. The deep-scan complement of the
    * load-time Local check (which a 10^9-row Dist restore deliberately
    * skips). Unresolvable schemas are reported as findings, never
    * guessed at. */
  def fsck(spark: SparkSession, root: String): Either[String, Seq[String]] = {
    val f = fs(spark, root)
    val checked = mutable.Set[String]()
    listSnapshotHashes(f, root).foldLeft(Right(Seq.empty[String]): Either[String, Seq[String]]) {
      (acc, h) =>
        acc.flatMap { errs =>
          parseManifest(readText(f, snapshotPath(root, h))).flatMap { m =>
            traverse(m.relations)(parseRelCore).map { cores =>
              errs ++ cores.flatMap { case (_, rn, schema, declared) =>
                if (declared.count == 0) None
                else {
                  val relHash = Hashing.relationHash(rn, schema, declared)
                  if (!checked.add(relHash)) None // verified via an earlier snapshot
                  else if (!f.exists(new Path(objectPath(root, relHash), "_SUCCESS")))
                    Some(s"$rn@$h: missing object $relHash")
                  else schema.toStruct(m.domains) match {
                    case Left(e) => Some(s"$rn@$h: unresolvable schema: $e")
                    case Right(struct) =>
                      val df = spark.read.parquet(objectPath(root, relHash).toString)
                        .select(struct.fields.toIndexedSeq.map(fld => col(s"`${fld.name}`")): _*)
                      val actual = Hashing.contentRootOf(df, Hashing.rowHashCol(rn, struct))
                      if (actual == declared) None
                      else Some(s"$rn@$h: content root mismatch " +
                        s"(declared ${declared.render}, actual ${actual.render})")
                  }
                }
              }
            }.left.map(e => s"snapshot $h: $e")
          }
        }
    }
  }
}
