package graft.engine

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.SparkTestBase
import graft.server.{EngineSession, QueryResult, Transition}

class PersistSpec extends SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-persist").toString

  private def exec(s: EngineSession, stmt: String): Unit =
    s.execute(stmt).fold(e => fail(s"$stmt -> $e"), _ => ())

  private def query(s: EngineSession, q: String): Seq[Seq[Any]] =
    s.execute(s"(drl $q)") match {
      case Right(QueryResult(df)) => df.collect().toSeq.map(_.toSeq.toIndexedSeq).sortBy(_.mkString("|"))
      case other => fail(s"$q -> $other")
    }

  test("full session state survives a restart: relations, constraints, domains, deferred") {
    val dir = tmpDir()
    val s1 = new EngineSession(spark, persistDir = Some(dir))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(RegisterDomain (name money) (cardinality AlephZero) (base rational))")
    exec(s1, "(CreateRelation (name dept) (schema ((dept_id integer))))")
    exec(s1, "(InsertTuple (relation dept) (attributes ((dept_id (Int 1)))))")
    exec(s1, "(InsertTuple (relation dept) (attributes ((dept_id (Int 2)))))")
    exec(s1, "(CreateRelation (name emp) (schema ((emp_id integer) (dept_id integer))))")
    exec(s1, "(RegisterConstraint (constraint_name fk) (relation_name emp) " +
      "(body (MemberOf (target dept) (binding ((dept_id (Var dept_id)))))))")
    exec(s1, "(InsertTuple (relation emp) (attributes ((emp_id (Int 10)) (dept_id (Int 1)))))")
    exec(s1, "(RegisterConstraint (constraint_name cap) (relation_name emp) " +
      "(body (MemberOf (target natural_natural_less_than) " +
      "(binding ((left (Var emp_id)) (right (Const (Int 1000))))))) (timing Deferred))")
    val beforeHash = s1.db.hash

    // a fresh session over the same dir restores everything
    val s2 = new EngineSession(spark, persistDir = Some(dir))
    assert(s2.db.hash === beforeHash)
    assert(query(s2, "(Base dept)") === Seq(Seq(1L), Seq(2L)))
    assert(query(s2, "(Base emp)") === Seq(Seq(10L, 1L)))
    assert(s2.db.domains.contains("money"))
    assert(s2.db.deferred.map(_.constraintName) === List("cap"))
    // the FK constraint still bites after reload
    val bad = s2.execute("(InsertTuple (relation emp) (attributes ((emp_id (Int 11)) (dept_id (Int 99)))))")
    assert(bad.isLeft && bad.swap.exists(_.message.contains("ConstraintViolation")), s"got $bad")
    // and a valid insert still works, advancing state on disk
    exec(s2, "(InsertTuple (relation emp) (attributes ((emp_id (Int 11)) (dept_id (Int 2)))))")

    val s3 = new EngineSession(spark, persistDir = Some(dir))
    assert(query(s3, "(Base emp)") === Seq(Seq(10L, 1L), Seq(11L, 2L)))
  }

  test("branches and HEAD survive a restart; merge works on the restored store") {
    val dir = tmpDir()
    val s1 = new EngineSession(spark, persistDir = Some(dir))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(CreateRelation (name t) (schema ((k integer))))")
    exec(s1, "(InsertTuple (relation t) (attributes ((k (Int 1)))))")
    exec(s1, "(CreateBranch (name main))")
    exec(s1, "(Checkout main)")
    exec(s1, "(CreateBranch (name feat))")
    exec(s1, "(Checkout feat)")
    exec(s1, "(InsertTuple (relation t) (attributes ((k (Int 2)))))")
    exec(s1, "(Checkout main)")
    exec(s1, "(InsertTuple (relation t) (attributes ((k (Int 3)))))")

    val s2 = new EngineSession(spark, persistDir = Some(dir))
    assert(s2.store.head === Some("main"))
    assert(s2.store.list.map(_._1).sorted === Seq("feat", "main"))
    // LCA discovery requires ancestor snapshots — all restored
    s2.execute("(Merge (left main) (right feat) (strategy PreferLeft))") match {
      case Right(Transition(msg)) => assert(msg.contains("Merged"))
      case other => fail(s"merge -> $other")
    }
    assert(query(s2, "(Base t)") === Seq(Seq(1L), Seq(2L), Seq(3L)))
  }

  test("a bulk-inserted relation roundtrips with its state hash intact") {
    val dir = tmpDir()
    val s1 = new EngineSession(spark,
      external = Some(new graft.catalog.ParquetCatalog(spark, "/root/testdata/sf0.001")),
      persistDir = Some(dir))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(CreateRelation (name li) (schema ((o_orderkey integer) (o_custkey integer))))")
    exec(s1, "(InsertFrom (target li) (source (Project (o_orderkey o_custkey) (Base orders))))")
    val h1 = s1.db.hash
    val n1 = query(s1, "(Base li)").length

    val s2 = new EngineSession(spark,
      external = Some(new graft.catalog.ParquetCatalog(spark, "/root/testdata/sf0.001")),
      persistDir = Some(dir))
    assert(s2.db.hash === h1)
    assert(query(s2, "(Base li)").length === n1)
  }

  test("a past-threshold relation restores as a Dist parquet scan, not a driver map") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir()
    val n = Engine.LocalThreshold + 50000
    val df = spark.range(n.toLong).select(col("id").as("x"))
    val schema = graft.types.RelSchema(List("x" -> "integer"))
    val struct = schema.toStruct(graft.types.Domain.prelude).toOption.get
    val rh = graft.hashing.Hashing.rowHashCol("big", struct)
    val rel0 = StoredRelation("big", schema, struct, Extension.Dist(df.withColumn(Engine.RhCol, rh)),
      graft.hashing.Hashing.contentRootOf(df, rh))
    var db = Database("g", scala.collection.immutable.ListMap("big" -> rel0),
      graft.types.Domain.prelude, Nil, Nil, "")
    db = db.copy(hash = graft.hashing.Hashing.databaseHash(db.name, Seq(rel0.relHash)))

    Persist.saveSnapshot(spark, dir, db)
    val loaded = Persist.loadSnapshot(spark, dir, db.hash)
      .fold(e => fail(s"load failed: $e"), identity)
    val rel = loaded.relations("big")
    assert(rel.localRows.isEmpty, "past-threshold relation must restore as Dist")
    assert(rel.root === rel0.root)
    assert(rel.df.count() === n.toLong)
    // the restored plan reads the content-addressed parquet object directly
    val plan = rel.df.queryExecution.executedPlan.toString
    assert(plan.contains("parquet") || plan.contains("FileScan"), s"expected parquet scan:\n$plan")
  }

  test("objects are content-addressed: unchanged relations are not rewritten") {
    val dir = tmpDir()
    val s1 = new EngineSession(spark, persistDir = Some(dir))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(CreateRelation (name a) (schema ((x integer))))")
    exec(s1, "(InsertTuple (relation a) (attributes ((x (Int 1)))))")
    val objects = new java.io.File(dir, "objects")
    def objCount: Int = Option(objects.list()).map(_.length).getOrElse(0)
    val before = objCount
    // a second relation's insert must add objects for the changed
    // relations only; relation `a`'s object stays put (same relHash)
    exec(s1, "(CreateRelation (name b) (schema ((y integer))))")
    exec(s1, "(InsertTuple (relation b) (attributes ((y (Int 9)))))")
    assert(objCount > before)
    val after = objCount
    // re-persisting the same state writes nothing new
    graft.engine.Persist.saveStore(spark, dir, s1.store, Some(s1.db))
    assert(objCount === after)
  }

  test("corrupt object data is rejected at load by the content root check") {
    val dir = tmpDir()
    val s1 = new EngineSession(spark, persistDir = Some(dir))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(CreateRelation (name a) (schema ((x integer))))")
    exec(s1, "(InsertTuple (relation a) (attributes ((x (Int 1)))))")
    val rel = s1.db.relations("a")
    // swap a's object for a DIFFERENT relation extension (wrong rows)
    val objDir = new java.io.File(dir, s"objects/${rel.relHash}.parquet")
    import spark.implicits._
    Seq(42L).toDF("x").write.mode("overwrite").parquet(objDir.toString)
    val err = intercept[IllegalStateException] {
      new EngineSession(spark, persistDir = Some(dir))
    }
    assert(err.getMessage.contains("content root mismatch"))
  }

  test("a past-threshold bulk ingest persists through the session and restores as Dist") {
    val dir = tmpDir()
    val n = Engine.LocalThreshold + 20000
    import spark.implicits._
    val src = spark.range(n.toLong).select(org.apache.spark.sql.functions.col("id").as("x"))
    val tmpParquet = tmpDir() + "/big.parquet"
    src.write.parquet(tmpParquet)
    val ext = new graft.catalog.Catalog {
      def resolve(name: String) =
        if (name == "bigsrc") Right(spark.read.parquet(tmpParquet))
        else Left(graft.Err.RelationNotFoundBare(name))
    }
    val s1 = new EngineSession(spark, external = Some(ext), persistDir = Some(dir))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(CreateRelation (name big) (schema ((x integer))))")
    exec(s1, "(InsertFrom (target big) (source (Base bigsrc)))")
    assert(s1.db.relations("big").localRows.isEmpty, "ingest must promote to Dist")
    val h1 = s1.db.hash

    val s2 = new EngineSession(spark, external = Some(ext), persistDir = Some(dir))
    assert(s2.db.hash === h1)
    val rel = s2.db.relations("big")
    assert(rel.localRows.isEmpty && rel.root.count === n.toLong)
    assert(rel.df.count() === n.toLong)
  }

  test("durable chain checkpoint: chain-deep mutation of a past-threshold relation survives a kill") {
    val dir = tmpDir()
    val n = Engine.LocalThreshold + 20000
    val src = spark.range(n.toLong).select(org.apache.spark.sql.functions.col("id").as("x"))
    val tmpParquet = tmpDir() + "/big.parquet"
    src.write.parquet(tmpParquet)
    val ext = new graft.catalog.Catalog {
      def resolve(name: String) =
        if (name == "bigsrc") Right(spark.read.parquet(tmpParquet))
        else Left(graft.Err.RelationNotFoundBare(name))
    }
    val s1 = new EngineSession(spark, external = Some(ext), persistDir = Some(dir))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(CreateRelation (name big) (schema ((x integer))))")
    exec(s1, "(InsertFrom (target big) (source (Base bigsrc)))")
    // mutate past MaxPlanChain: each transition is a durable commit, so
    // the snapshot write doubles as the chain checkpoint — lineage is
    // re-anchored on the persisted object and chain stays 0
    val extra = Engine.MaxPlanChain + 4
    for (i <- 1 to extra)
      exec(s1, s"(InsertTuple (relation big) (attributes ((x (Int ${n + i})))))")
    val rel1 = s1.db.relations("big")
    assert(rel1.chain === 0, "durable transition must truncate the plan chain")
    val plan = rel1.df.queryExecution.executedPlan.toString
    assert(plan.contains("parquet") || plan.contains("FileScan"),
      s"expected the current plan to scan the persisted object:\n$plan")
    val h1 = s1.db.hash

    // "kill" the JVM's in-memory state: a fresh session over the same
    // root must restore the exact state — hash, cardinality, contents
    val s2 = new EngineSession(spark, external = Some(ext), persistDir = Some(dir))
    assert(s2.db.hash === h1)
    val rel2 = s2.db.relations("big")
    assert(rel2.localRows.isEmpty && rel2.root.count === (n + extra).toLong)
    assert(rel2.df.count() === (n + extra).toLong)
    // the tail inserts are all present
    import spark.implicits._
    val tail = rel2.df.filter(org.apache.spark.sql.functions.col("x") >= n.toLong)
      .as[Long].collect().sorted.toSeq
    assert(tail === (1 to extra).map(i => (n + i).toLong))
  }

  test("fsck verifies every object distributively and reports corruption") {
    val dir = tmpDir()
    val s1 = new EngineSession(spark, persistDir = Some(dir))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(CreateRelation (name a) (schema ((x integer))))")
    exec(s1, "(InsertTuple (relation a) (attributes ((x (Int 1)))))")
    // healthy store: no findings
    assert(Persist.fsck(spark, dir) === Right(Seq.empty))
    // corrupt the object in place (rows no longer match its name)
    val rel = s1.db.relations("a")
    import spark.implicits._
    Seq(42L).toDF("x").write.mode("overwrite")
      .parquet(new java.io.File(dir, s"objects/${rel.relHash}.parquet").toString)
    val findings = Persist.fsck(spark, dir).fold(e => fail(e), identity)
    assert(findings.exists(_.contains("content root mismatch")), findings.toString)
  }

  test("prune retires history, gc collects orphans, and the store still boots") {
    val dir = tmpDir()
    val s1 = new EngineSession(spark, persistDir = Some(dir))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(CreateRelation (name a) (schema ((x integer))))")
    exec(s1, "(InsertTuple (relation a) (attributes ((x (Int 1)))))")
    exec(s1, "(CreateBranch (name main))")
    exec(s1, "(Checkout main)")
    exec(s1, "(InsertTuple (relation a) (attributes ((x (Int 2)))))")
    // nothing is unreferenced while every snapshot manifest is retained
    assert(Persist.gc(spark, dir) === Right(Seq.empty))

    // prune: keep current + branch tips, drop the rest, collect orphans
    val snapsBefore = new java.io.File(dir, "snapshots").list().length
    val objectsBefore = new java.io.File(dir, "objects").list().length
    val deleted = Persist.prune(spark, dir, graceMs = 0L).fold(e => fail(e), identity)
    assert(deleted.nonEmpty) // the one-row version of `a` is orphaned
    assert(new java.io.File(dir, "snapshots").list().length < snapsBefore)
    assert(new java.io.File(dir, "objects").list().length === objectsBefore - deleted.length)
    assert(Persist.fsck(spark, dir) === Right(Seq.empty))

    // the pruned store BOOTS: prune committed a new store record before it
    // deleted the manifests, so current state and branches are intact
    val s2 = new EngineSession(spark, persistDir = Some(dir))
    assert(s2.db.hash === s1.db.hash)
    assert(s2.store.head === Some("main"))
    assert(query(s2, "(Base a)") === Seq(Seq(1L), Seq(2L)))
  }

  test("gc grace period protects young objects from a racing collector") {
    import spark.implicits._
    val dir = tmpDir()
    val s1 = new EngineSession(spark, persistDir = Some(dir))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(CreateRelation (name a) (schema ((x integer))))")
    exec(s1, "(InsertTuple (relation a) (attributes ((x (Int 1)))))")
    // a just-written unreferenced object models an in-flight snapshot
    // whose manifest has not landed yet
    val orphan = new java.io.File(dir, "objects/deadbeef.parquet")
    Seq(1L).toDF("x").write.parquet(orphan.toString)
    assert(Persist.gc(spark, dir) === Right(Seq.empty)) // default grace: skipped
    assert(orphan.exists())
    val deleted = Persist.gc(spark, dir, graceMs = 0L).fold(e => fail(e), identity)
    assert(deleted === Seq("deadbeef.parquet"))
    assert(!orphan.exists())
  }

  test("persisting a programmatically-checked domain fails loudly instead of dropping the check") {
    // a Column=>Column check cannot be serialized; restoring it as
    // check-free would silently admit values the domain rejects
    val dir = tmpDir()
    val checked = graft.types.Domain("bounded", org.apache.spark.sql.types.LongType,
      graft.types.Cardinality.AlephZero, Some(c => c < 100))
    val db = Database("g", scala.collection.immutable.ListMap.empty,
      graft.types.Domain.prelude + ("bounded" -> checked), Nil, Nil, "h0")
    val err = intercept[IllegalArgumentException] { Persist.saveSnapshot(spark, dir, db) }
    assert(err.getMessage.contains("unpersistable domain bounded"))
  }

  test("a disk commit of a Local relation runs no Spark job") {
    val dir = tmpDir()
    val s1 = new EngineSession(spark, persistDir = Some(dir))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(CreateRelation (name t) (schema ((k integer) (s string))))")
    exec(s1, "(InsertTuple (relation t) (attributes ((k (Int 1)) (s (Str a)))))")
    val (_, insertJobs) = graft.JobCounter.count(spark)(
      exec(s1, "(InsertTuple (relation t) (attributes ((k (Int 2)) (s (Str b)))))"))
    assert(insertJobs === 0)
    val (_, deleteJobs) = graft.JobCounter.count(spark)(
      exec(s1, "(DeleteTuple (relation t) (attributes ((k (Int 1)) (s (Str a)))))"))
    assert(deleteJobs === 0)
    assert(new EngineSession(spark, persistDir = Some(dir)).db.hash === s1.db.hash)
  }

  test("restoring a store of Local relations runs no Spark job") {
    val dir = tmpDir()
    val s1 = new EngineSession(spark, persistDir = Some(dir))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(CreateRelation (name t) (schema ((k integer) (s string))))")
    for (k <- 1 to 3)
      exec(s1, s"(InsertTuple (relation t) (attributes ((k (Int $k)) (s (Str v$k)))))")
    exec(s1, "(DeleteTuple (relation t) (attributes ((k (Int 2)) (s (Str v2)))))")
    val (s2, jobs) = graft.JobCounter.count(spark)(new EngineSession(spark, persistDir = Some(dir)))
    assert(jobs === 0)
    assert(s2.db.hash === s1.db.hash)
    assert(s2.db.relations("t").localRows.get.keySet === s1.db.relations("t").localRows.get.keySet)
  }

  // ---- the append-only store root ----

  /** Names under `store/`, checksum files excluded. */
  private def storeNames(dir: String): Set[String] =
    Option(new java.io.File(dir, "store").list()).fold(Set.empty[String])(_.toSet)
      .filterNot(_.endsWith(".crc"))

  /** The one store record on disk. */
  private def onlyRecord(dir: String): java.io.File = {
    val names = storeNames(dir)
    assert(names.size === 1 && names.head.matches("[0-9]+\\.sexp"), names.toString)
    new java.io.File(dir, s"store/${names.head}")
  }

  private def generation(record: java.io.File): Long = record.getName.stripSuffix(".sexp").toLong

  /** Every regular file under `dir` but checksum files, as relative paths. */
  private def dataFiles(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).filterNot(_.endsWith(".crc")).toSet
    finally walk.close()
  }

  /** A store with one Local relation `t`, after `n` single-tuple inserts. */
  private def storeWith(n: Int): (String, EngineSession) = {
    val dir = tmpDir()
    val s = new EngineSession(spark, persistDir = Some(dir))
    exec(s, "(CreateDatabase g)")
    exec(s, "(CreateRelation (name t) (schema ((k integer))))")
    for (k <- 1 to n) exec(s, s"(InsertTuple (relation t) (attributes ((k (Int $k)))))")
    (dir, s)
  }

  test("every commit leaves exactly one store record, and a Local InsertTuple adds three files") {
    val (dir, s1) = storeWith(0)
    var gen = generation(onlyRecord(dir))
    for (k <- 1 to 5) {
      exec(s1, s"(InsertTuple (relation t) (attributes ((k (Int $k)))))")
      val g = generation(onlyRecord(dir)) // one record, no temp file
      assert(g > gen)
      gen = g
    }
    assert(!new java.io.File(dir, "store.sexp").exists())
    val before = dataFiles(dir)
    exec(s1, "(InsertTuple (relation t) (attributes ((k (Int 6)))))")
    val after = dataFiles(dir)
    val obj = s"objects/${s1.db.relations("t").relHash}.parquet"
    assert(after -- before === Set(s"$obj/part-00000.parquet", s"$obj/_SUCCESS",
      s"snapshots/${s1.db.hash}.sexp", s"store/${gen + 1}.sexp"))
    assert(before -- after === Set(s"store/$gen.sexp"))
    assert(after.size - before.size === 3)
  }

  test("a leftover temp record is ignored at boot, and the next commit still lands") {
    val (dir, s1) = storeWith(2)
    val next = generation(onlyRecord(dir)) + 1
    Files.write(java.nio.file.Paths.get(dir, "store", s".$next.sexp.tmp"), "(store (curr".getBytes)
    val s2 = new EngineSession(spark, persistDir = Some(dir))
    assert(s2.db.hash === s1.db.hash)
    exec(s2, "(InsertTuple (relation t) (attributes ((k (Int 3)))))")
    assert(generation(onlyRecord(dir)) === next)
    assert(new EngineSession(spark, persistDir = Some(dir)).db.hash === s2.db.hash)
  }

  test("two records on disk (a crash before the older was deleted) boot the newer") {
    val (dir, s1) = storeWith(1)
    val older = onlyRecord(dir)
    val olderBytes = Files.readAllBytes(older.toPath)
    exec(s1, "(InsertTuple (relation t) (attributes ((k (Int 2)))))")
    Files.write(older.toPath, olderBytes)
    assert(storeNames(dir).size === 2)
    val s2 = new EngineSession(spark, persistDir = Some(dir))
    assert(s2.db.hash === s1.db.hash)
    assert(query(s2, "(Base t)") === Seq(Seq(1L), Seq(2L)))
    // the next commit deletes both
    exec(s2, "(InsertTuple (relation t) (attributes ((k (Int 3)))))")
    onlyRecord(dir)
  }

  test("a legacy store.sexp boots, and its first commit moves the store into store/") {
    val (dir, s1) = storeWith(1)
    val legacy = java.nio.file.Paths.get(dir, "store.sexp")
    Files.move(onlyRecord(dir).toPath, legacy)
    for (f <- new java.io.File(dir, "store").listFiles()) f.delete()
    Files.delete(java.nio.file.Paths.get(dir, "store"))
    val s2 = new EngineSession(spark, persistDir = Some(dir))
    assert(s2.db.hash === s1.db.hash)
    exec(s2, "(InsertTuple (relation t) (attributes ((k (Int 2)))))")
    onlyRecord(dir)
    assert(!Files.exists(legacy))
    val s3 = new EngineSession(spark, persistDir = Some(dir))
    assert(s3.db.hash === s2.db.hash)
    assert(query(s3, "(Base t)") === Seq(Seq(1L), Seq(2L)))
  }

  test("gc sweeps an aged temp record under store/ and keeps a young one") {
    val (dir, _) = storeWith(1)
    val aged = new java.io.File(dir, "store/.90.sexp.tmp")
    val young = new java.io.File(dir, "store/.91.sexp.tmp")
    for (f <- Seq(aged, young)) Files.write(f.toPath, "(store".getBytes)
    assert(aged.setLastModified(System.currentTimeMillis() - 2 * Persist.DefaultGcGraceMs))
    assert(Persist.gc(spark, dir) === Right(Seq.empty))
    assert(!aged.exists())
    assert(young.exists())
  }

  // ---- the driver-side codec ----

  import org.apache.spark.sql.Row
  import scala.collection.immutable.{ListMap, VectorMap}
  import graft.hashing.Hashing
  import graft.hashing.Hashing.ContentRoot
  import graft.types.{Domain, RelSchema}

  // the prelude plus `boolean`, which only programmatic registration reaches
  private val domains = Domain.prelude + ("boolean" -> Domain.boolean)

  private def localRel(name: String, attrs: List[(String, String)], rows: Seq[Row]): StoredRelation = {
    val schema = RelSchema(attrs)
    val rel0 = StoredRelation(name, schema, schema.toStruct(domains).toOption.get,
      Extension.emptyLocal, ContentRoot.empty)
    val keyed = rows.map(r => Hashing.tupleHash(name, Engine.rowToAttrs(rel0, r)) -> r)
    rel0.copy(ext = Extension.Local(VectorMap.from(keyed)),
      root = keyed.foldLeft(ContentRoot.empty)((acc, kv) => acc.add(kv._1)))
  }

  private def dbOf(rels: StoredRelation*): Database = {
    val db = Database("g", ListMap(rels.map(r => r.name -> r): _*), domains, Nil, Nil, "")
    db.copy(hash = Hashing.databaseHash(db.name, rels.map(_.relHash)))
  }

  private def objectDir(dir: String, rel: StoredRelation) =
    new java.io.File(dir, s"objects/${rel.relHash}.parquet")

  private val supplementary = "a\uD83D\uDE00z" // U+1F600, a surrogate pair in UTF-16

  test("every persistable type roundtrips through the driver codec, edge values included") {
    val dir = tmpDir()
    val rels = Seq(
      localRel("longs", List("v" -> "integer"),
        Seq(Long.MinValue, Long.MaxValue, 0L, -1L).map(Row(_))),
      localRel("doubles", List("v" -> "rational"),
        Seq(-0.0, 0.0, Double.NaN, Double.MinPositiveValue, Double.MaxValue, -1.5).map(Row(_))),
      localRel("strings", List("v" -> "string"), Seq(supplementary, "", "plain").map(Row(_))),
      localRel("booleans", List("v" -> "boolean"), Seq(true, false).map(Row(_))))
    val db = dbOf(rels: _*)
    Persist.saveSnapshot(spark, dir, db)
    for (rel <- rels)
      assert(objectDir(dir, rel).list().toSet === Set("part-00000.parquet", "_SUCCESS",
        ".part-00000.parquet.crc", "._SUCCESS.crc"), "one data file, marker written")
    val loaded = Persist.loadSnapshot(spark, dir, db.hash).fold(e => fail(s"load failed: $e"), identity)
    assert(loaded.hash === db.hash)
    for (rel <- rels) {
      val back = loaded.relations(rel.name)
      assert(back.root === rel.root)
      assert(back.localRows.get.keySet === rel.localRows.get.keySet, rel.name)
    }
    // the digest renders -0.0 and NaN, but pin the raw bits too
    val bits = loaded.relations("doubles").localRows.get.values
      .map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0))).toSet
    assert(bits === rels(1).localRows.get.values
      .map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0))).toSet)
    assert(loaded.relations("strings").localRows.get.values.map(_.getString(0)).toSet
      .contains(supplementary))
  }

  test("an object in Spark's multi-part nullable layout (older stores) restores to the same hash") {
    val dir = tmpDir()
    val s1 = new EngineSession(spark, persistDir = Some(dir))
    exec(s1, "(CreateDatabase g)")
    exec(s1, "(CreateRelation (name t) (schema ((k integer) (s string) (x rational))))")
    for (k <- 1 to 6)
      exec(s1, s"(InsertTuple (relation t) (attributes ((k (Int $k)) (s (Str v$k)) (x (Float $k.5)))))")
    val rel = s1.db.relations("t")
    val obj = objectDir(dir, rel)
    rel.df.repartition(3).write.mode("overwrite").parquet(obj.toString)
    assert(obj.list().count(n => n.startsWith("part-") && n.endsWith(".parquet")) > 1)
    val s2 = new EngineSession(spark, persistDir = Some(dir))
    assert(s2.db.hash === s1.db.hash)
    assert(query(s2, "(Base t)") === query(s1, "(Base t)"))
  }

  test("Spark reads a driver-written object as the relation, and fsck finds it healthy") {
    val dir = tmpDir()
    val rel = localRel("t", List("k" -> "integer", "x" -> "rational", "s" -> "string", "b" -> "boolean"),
      Seq(Row(1L, 0.5, "one", true), Row(2L, -2.25, supplementary, false), Row(Long.MaxValue, 1e300, "", true)))
    val db = dbOf(rel)
    Persist.saveSnapshot(spark, dir, db)
    val df = spark.read.parquet(objectDir(dir, rel).toString)
    assert(df.schema.fields.map(f => f.name -> f.dataType).toSeq ===
      rel.struct.fields.map(f => f.name -> f.dataType).toSeq)
    def sorted(rows: Iterable[Row]) = rows.map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(sorted(df.collect()) === sorted(rel.localRows.get.values))
    assert(Persist.fsck(spark, dir) === Right(Seq.empty))
  }

  test("a foreign object with a null cell, a missing column, a wrong type or no parquet at all fails the boot with a typed message") {
    import spark.implicits._
    def bootWith(write: String => Unit): String = {
      val dir = tmpDir()
      val s1 = new EngineSession(spark, persistDir = Some(dir))
      exec(s1, "(CreateDatabase g)")
      exec(s1, "(CreateRelation (name a) (schema ((x integer))))")
      exec(s1, "(InsertTuple (relation a) (attributes ((x (Int 1)))))")
      write(objectDir(dir, s1.db.relations("a")).toString)
      intercept[IllegalStateException](new EngineSession(spark, persistDir = Some(dir))).getMessage
    }
    val nullCell = bootWith(Seq(Option.empty[Long]).toDF("x").write.mode("overwrite").parquet(_))
    assert(nullCell.contains("null cell in column x"), nullCell)
    val missing = bootWith(Seq(1L).toDF("y").write.mode("overwrite").parquet(_))
    assert(missing.contains("has no column x"), missing)
    val wrongType = bootWith(Seq("1").toDF("x").write.mode("overwrite").parquet(_))
    assert(wrongType.contains("column x is") && wrongType.contains("expected bigint"), wrongType)
    val notParquet = bootWith { obj =>
      new java.io.File(obj, ".part-00000.parquet.crc").delete()
      Files.write(java.nio.file.Paths.get(obj, "part-00000.parquet"), "not parquet".getBytes)
    }
    assert(notParquet.contains("unreadable object of relation a"), notParquet)
  }

  test("constraint bodies roundtrip through the sexp renderer") {
    val bodies = Seq(
      "(MemberOf (target dept) (binding ((dept_id (Var dept_id)) (k (Const (Int 5))))))",
      "(Not (body (MemberOf (target e) (binding ((a (Var a)))))) (universe e))",
      "(And ((MemberOf (target x) (binding ((a (Var a))))) (MemberOf (target y) (binding ((b (Const (Str \"hi world\"))))))))",
      "(Or ((MemberOf (target x) (binding ((a (Const (Float 1.5)))))) (MemberOf (target y) (binding ((b (Const (Bool true))))))))",
      "(Exists (variable r) (quantifier Room) (body (Forall (variable b) (quantifier Building) " +
        "(body (MemberOf (target natural_natural_equal) (binding ((left (Var r.x)) (right (Var b.y)))))))))")
    for (text <- bodies) {
      val parsed = graft.sexp.Sexp.parse(text).flatMap(graft.icl.Parser.parseBody)
        .fold(e => fail(s"$text -> $e"), identity)
      val rendered = graft.icl.Render.body(parsed).render
      val reparsed = graft.sexp.Sexp.parse(rendered).flatMap(graft.icl.Parser.parseBody)
        .fold(e => fail(s"rendered $rendered -> $e"), identity)
      assert(reparsed === parsed, s"roundtrip of $text via $rendered")
    }
  }
}
