package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryHarness._

/** Bench-only probe queries: not oracle rows (the 1× operators are
  * oracle-checked; these measure how the same plans scale). A plain
  * name → build map with no oracle SQL, merged into the bench by
  * `graft.Bench`. */
private[graft] object ScaleProbes {

  // ---------------------------------------------------------------------
  // Scale probes (bench-only; merged into the bench by graft.Bench).
  // sf0.1 is the largest shipped dataset, so the 100×-scale claims need
  // MEASUREMENT, not just plan-shape arguments: each probe blows the
  // corpus up m× IN-PLAN while preserving its statistics, and the
  // measured t(m) slope is recorded against the candidate-bound math in
  // PLANS.md. Replication happens at the level the operator's
  // scale-sensitive machinery consumes (shingle index / edge list) —
  // everything above it is a trivially-linear narrow map.
  // ---------------------------------------------------------------------

  /** The document shingle index replicated into `m` DISJOINT shingle
    * spaces (ids offset, shingle keys shifted past the 60-bit space per
    * replica): per-replica statistics are EXACTLY the base corpus's —
    * same posting-frequency histogram, same band-bucket sizes — so
    * candidates grow m·C₁ and the null hypothesis is linear time. A
    * replica-as-near-dup design (unsalted) would instead multiply
    * candidates m²× and measure the pathology, not the throughput. */
  private def replicatedShingleIndex(s: SparkSession, dir: String, m: Int): DataFrame = {
    val docs = table(s, dir, "documents")
    graft.pipeline.Dedup.hashedShingleRows(
        graft.pipeline.Dedup.shingleRows(docs, "doc_id", "text",
          graft.pipeline.Dedup.ShingleN), "doc_id")
      .withColumn("rep", explode(sequence(lit(0L), lit(m - 1L))))
      // 58-bit base space + replica in the top bits: disjoint by
      // construction and (16·2^58 = 2^62) never overflows the long
      .select((col("doc_id") * m + col("rep")).as("doc_id"),
        (col("shingle") % lit(1L << 58) + col("rep") * lit(1L << 58)).as("shingle"))
  }

  /** The co-order part graph replicated into `m` disjoint node spaces
    * (degree distribution preserved — the "more users, same behavior"
    * 100 TB model). */
  private def replicatedEdges(s: SparkSession, dir: String, m: Int): DataFrame = {
    val lp = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    val l1 = lp.select(col("ok"), col("p").as("s1"))
    val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
    val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
    graft.operators.Triangles.canonicalEdges(pairs, "s1", "s2")
      .withColumn("rep", explode(sequence(lit(0L), lit(m - 1L))))
      .select((col("a") * m + col("rep")).as("a"), (col("b") * m + col("rep")).as("b"))
  }

  /** Basket-DENSIFIED co-order graph: each order's part set replicated
    * `m`× with salted part ids IN THE SAME order, so baskets grow m×
    * and the edge count grows ~m² — probing the oriented-wedge bound
    * (O(E^1.5)) under density growth rather than corpus growth. */
  private def densifiedEdges(s: SparkSession, dir: String, m: Int): DataFrame = {
    val lp = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      .withColumn("rep", explode(sequence(lit(0L), lit(m - 1L))))
      .select(col("ok"), (col("p") * m + col("rep")).as("p"))
    val l1 = lp.select(col("ok"), col("p").as("s1"))
    val l2 = lp.select(col("ok").as("ok2"), col("p").as("s2"))
    val pairs = l1.join(l2, col("ok") === col("ok2") && col("s1") < col("s2"))
    graft.operators.Triangles.canonicalEdges(pairs, "s1", "s2")
  }

  /** The embedding corpus replicated into `m` disjoint id spaces — the
    * "more vectors, same queries" 100 TB model for the signature-scan
    * probe (the query set stays NumQueries vectors; only the scanned
    * corpus grows). */
  private def replicatedEmbeddings(s: SparkSession, dir: String, m: Int): DataFrame =
    table(s, dir, "embeddings")
      .withColumn("rep", explode(sequence(lit(0L), lit(m - 1L))))
      .select((col("vec_id") * m + col("rep")).as("vec_id"), col("embedding"))

  /** Pid-scoped IMMUTABLE staged-input cache for the engine scale
    * probes — the [[graft.streaming.StreamOracle]] `cachedStage`
    * discipline: a probe's staged catalog tables depend only on
    * (dataset dir, tag), so they are built ONCE per JVM and reused by
    * every bench pass. Staging is data prep, not the machinery under
    * test — re-writing identical parquet on every timed pass measured
    * ~0.5 s (fkbulk) / ~3 s (dclmerge) per pass of pure writer time.
    * The engine itself never writes into the staged dir (the probes run
    * memory-resident sessions over a read-only catalog), so sharing the
    * immutable stage across passes is sound. Built in a tmp sibling and
    * ATOMIC_MOVE'd into place (a crashed build is never readable as
    * complete); dead JVMs' caches are swept on entry, as in
    * [[probeRoot]]. */
  private def cachedProbeInput(dir: String, tag: String)(
      build: java.nio.file.Path => Unit): String = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") +
      "-" + Integer.toHexString(dir.hashCode)
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-probestage")
    val self = ProcessHandle.current().pid()
    Option(base.toFile.listFiles()).foreach(_.foreach { f =>
      val alive = f.getName.stripPrefix("pid-").toLongOption
        .exists(p => p == self || ProcessHandle.of(p).isPresent)
      if (!alive) wipeTree(f)
    })
    val in = base.resolve(s"pid-$self").resolve(key).resolve(tag)
    in.toString.intern().synchronized {
      if (!java.nio.file.Files.exists(in)) {
        val tmp = in.resolveSibling(s".$tag.build")
        if (java.nio.file.Files.exists(tmp)) wipeTree(tmp.toFile)
        java.nio.file.Files.createDirectories(tmp)
        build(tmp)
        java.nio.file.Files.move(tmp, in,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
      }
    }
    in.toString
  }

  /** The ENGINE's bulk-ingest surface replicated ×m: the `icl_fk_bulk`
    * statement script (set-wise `InsertFrom` through compiled anti-join
    * FK validation + compiled Exists quantifier + delete-cascade
    * re-check) against a customer key space replicated into m DISJOINT
    * ranges — fact cardinality grows m× (region × nation × m·customer)
    * while the constraint shapes stay fixed. Measures the claim
    * "compiled set-wise validation scales" as a slope instead of a
    * plan-shape argument. Staging (three small parquet writes) is inside
    * the probe but linear and dominated by the ingest. */
  private def fkbulkProbe(m: Int): Build = (s, dir) => {
    val tmp = cachedProbeInput(dir, s"fkbulk_x$m") { p =>
      table(s, dir, "region").write.mode("overwrite").parquet(s"$p/region.parquet")
      table(s, dir, "nation").write.mode("overwrite").parquet(s"$p/nation.parquet")
      table(s, dir, "customer").select(col("c_custkey"))
        .withColumn("rep", explode(sequence(lit(0L), lit(m - 1L))))
        .select((col("c_custkey") * m + col("rep")).as("c_custkey"))
        .write.mode("overwrite").parquet(s"$p/customer.parquet")
    }
    script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name cust_keys) (schema ((c_custkey integer))))",
      "(InsertFrom (target cust_keys) (source (Project (c_custkey) (Base customer))))",
      "(CreateRelation (name region_keys) (schema ((rk integer))))",
      "(InsertFrom (target region_keys) (source (Rename ((r_regionkey rk)) (Project (r_regionkey) (Base region)))))",
      "(CreateRelation (name fact) (schema ((r_regionkey integer) (n_nationkey integer) (c_custkey integer))))",
      "(RegisterConstraint (constraint_name fk_cust) (relation_name fact) " +
        "(body (MemberOf (target cust_keys) (binding ((c_custkey (Var c_custkey)))))))",
      "(RegisterConstraint (constraint_name region_known) (relation_name fact) " +
        "(body (Exists (variable r) (quantifier region_keys) " +
        "(body (MemberOf (target natural_natural_equal) (binding ((left (Var r_regionkey)) (right (Var r.rk)))))))))",
      "(InsertFrom (target fact) (source (Cartesian (Project (r_regionkey) (Base region)) " +
        "(Cartesian (Project (n_nationkey) (Base nation)) (Project (c_custkey) (Base customer))))))",
      "(InsertTuple (relation cust_keys) (attributes ((c_custkey (Int 99999999)))))",
      "(DeleteWhere (target cust_keys) (predicate (Const ((c_custkey (Int 99999999))))))",
    ), "(Base fact)")(s, tmp)
  }

  /** DCL branch diff + 3-way merge slope: the claimed 100 TB branching
    * path is hash-set algebra on row digests (anti-joins for Dist
    * extensions), whose cost should track the DIFF size, not multiply
    * with it against the relation. The probe holds the base relation
    * FIXED (unique-keyed lineitem projection — the m-independent axis)
    * and scales the per-branch mutation sets m×: each branch bulk-
    * inserts 2000·m disjoint-key rows and bulk-deletes a disjoint
    * m-proportional slice of the base, then the two tips 3-way merge
    * (LCA = the shared trunk snapshot). Everything flows through the
    * wire statements (InsertFrom / DeleteWhere / CreateBranch /
    * Checkout / Merge) — the same dispatcher the dcl_* oracle rows
    * exercise. Staging (four small parquet writes + the fixed base) is
    * inside the probe but m-linear and dominated by the engine work. */
  private def dclmergeProbe(m: Int): Build = (s, dir) => {
    // the catalog resolves a fixed table-name set, so the staged roles
    // borrow whitelisted names (the fkbulkProbe discipline):
    //   lineitem = fixed base, orders/customer = trunk/feature bulk
    //   inserts, region/nation = trunk/feature delete key sets
    val tmp = cachedProbeInput(dir, s"dclmerge_x$m") { p =>
      // deterministic survivor per key (min(v), not dropDuplicates'
      // arbitrary one): every JVM stages bit-identical input, so
      // cross-JVM probe re-proofs measure the same data (r16 ADVICE)
      val base = table(s, dir, "lineitem")
        .select((col("l_orderkey") * 8 + col("l_linenumber")).cast("int").as("k"),
          col("l_partkey").cast("int").as("v"))
        .groupBy(col("k")).agg(min(col("v")).as("v"))
      base.write.mode("overwrite").parquet(s"$p/lineitem.parquet")
      val n = 2000L * m
      s.range(n).select((col("id") + 1000000000L).cast("int").as("k"),
          (col("id") % 97).cast("int").as("v"))
        .write.mode("overwrite").parquet(s"$p/orders.parquet")
      s.range(n).select((col("id") + 1500000000L).cast("int").as("k"),
          (col("id") % 89).cast("int").as("v"))
        .write.mode("overwrite").parquet(s"$p/customer.parquet")
      // disjoint m-proportional delete slices of the BASE keys (hash-free:
      // k mod 2048 buckets; trunk takes [0, 2m), feature [1024, 1024+2m) —
      // disjoint for every shipped m)
      base.filter(pmod(col("k"), lit(2048)) < 2 * m).select(col("k"))
        .write.mode("overwrite").parquet(s"$p/region.parquet")
      base.filter(pmod(col("k"), lit(2048)) >= 1024 && pmod(col("k"), lit(2048)) < 1024 + 2 * m)
        .select(col("k"))
        .write.mode("overwrite").parquet(s"$p/nation.parquet")
    }
    script(Seq(
      "(CreateDatabase g)",
      "(CreateRelation (name fact) (schema ((k integer) (v integer))))",
      "(InsertFrom (target fact) (source (Base lineitem)))",
      "(CreateBranch (name trunk))",
      "(Checkout trunk)",
      "(CreateBranch (name feature))",
      "(Checkout feature)",
      "(InsertFrom (target fact) (source (Base customer)))",
      "(DeleteWhere (target fact) (predicate (Base nation)))",
      "(Checkout trunk)",
      "(InsertFrom (target fact) (source (Base orders)))",
      "(DeleteWhere (target fact) (predicate (Base region)))",
      "(Merge (left trunk) (right feature) (strategy PreferLeft))",
    ), "(Base fact)")(s, tmp)
  }

  /** Write-through persistence slope: the claim (Persist scaladoc) is
    * O(changed snapshot) per transition — INDEPENDENT of total persisted
    * database size: unchanged relations re-reference their
    * content-addressed objects, manifests carry content roots
    * incrementally, restore parses manifests without reading relation
    * data, and gc lists the object dir instead of scanning objects. The
    * probe persists a 200k·m-row Dist relation ONCE per (sf, m, JVM) in
    * the untimed warmup pass (the root survives the bench's timed passes
    * — the streamStateProbe discipline), so each timed pass measures the
    * steady-state path alone: restore the store into a fresh
    * EngineSession, run 16 write-through transitions (8 insert+delete
    * pairs on a 3-row side relation, each one a full snapshot commit +
    * store rewrite + Dist re-anchor), prune + gc the retired history,
    * and re-read both relations. FLAT t(m) = the claim holds; a linear
    * slope would mean something O(database) hides in the per-transition
    * save (re-hashing or re-writing the big object). Self-checking: the
    * pass asserts the restored contents, so a persistence bug surfaces
    * as a bench error, not a fast wrong number. */
  private def persistProbe(m: Int): Build = (s, dir) => {
    import java.nio.file.Files
    // probe store must SURVIVE this JVM's bench passes, so it can't use
    // scratch(), which wipes on every entry
    val probeDir = probeRoot("graft-persistprobe", dir, s"x$m")
    Files.createDirectories(probeDir)
    val root = probeDir.resolve("store").toString
    // 2× LocalThreshold at x1: the WHOLE ladder must sit in the Dist
    // (content-addressed parquet object) regime — at exactly 100k rows
    // the relation stays Local and serializes into every manifest, a
    // different (driver-bound) write path that isn't the 100 TB claim
    val nBig = 200000L * m
    if (!graft.engine.Persist.exists(s, root)) {
      // stage the big source under a whitelisted catalog name (warmup only)
      s.range(nBig).select(col("id").as("k"), (col("id") % 97).as("v"))
        .write.mode("overwrite").parquet(s"$probeDir/orders.parquet")
      val boot = session(s, probeDir.toString, Some(root))
      (Seq(
        "(CreateDatabase g)",
        "(CreateRelation (name big) (schema ((k integer) (v integer))))",
        "(InsertFrom (target big) (source (Base orders)))",
        "(CreateRelation (name side) (schema ((k integer) (v string))))") ++
        Seq("A", "B", "C").zipWithIndex.map { case (v, i) =>
          s"(InsertTuple (relation side) (attributes ((k (Int ${i + 1})) (v (Str $v)))))" })
        .foreach(run(boot, _))
    }
    // ---- timed steady state: restore + 16 write-through transitions ----
    val es = session(s, probeDir.toString, Some(root))
    (0 until 8).foreach { j =>
      run(es, s"(InsertTuple (relation side) (attributes ((k (Int ${9000000 + j})) (v (Str TMP$j)))))")
      run(es, s"(DeleteWhere (target side) (predicate (Const ((k (Int ${9000000 + j}))))))")
    }
    graft.engine.Persist.prune(s, root, graceMs = 0L)
      .fold(e => throw new IllegalStateException(s"prune failed: $e"), _ => ())
    val gotBig = query(es, "(Base big)").count()
    val side = query(es, "(Base side)").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    if (gotBig != nBig || !side.sameElements(Array((1L, "A"), (2L, "B"), (3L, "C"))))
      throw new IllegalStateException(
        s"persisted state diverged: big=$gotBig side=${side.mkString(",")}")
    s.range(1).select(lit(m).as("m"), lit(gotBig).as("n_big"), lit(side.length).as("n_side"))
  }

  /** Skewed-join slope: the 100 TB killer is a single join key so hot
    * that one reducer owns it — a plain shuffle join's wall-clock
    * becomes the hot key's mass divided by ONE core. [[graft.operators.
    * SaltedJoin]] splits that key `saltFactor` ways (probe salted by row
    * content, build replicated per salt). The probe plants a synthetic
    * heavy-tail: 250k·m rows ALL on one key plus 250k·m uniform
    * background over the build's 10k keys, joined salted 32 ways and
    * aggregated. Expected shape: t(m) LINEAR in m with the hot key's
    * work spread across the full executor width — the per-row marginal
    * cost is the claim (a serialized hot reducer would show the same
    * linear exponent but a ~10× constant; the one-off salted-vs-plain
    * comparison lives in PLANS.md). Multiset identity of the salted
    * join is SaltedJoinSpec's pin; the oracle-checked `join_salted_agg`
    * row covers the operator's correctness at sf scale. */
  private def skewJoinProbe(m: Int): Build = (s, dir) => {
    val hot = s.range(250000L * m)
      .select(lit(7L).as("okey"), (col("id") % 1000L).as("qty"))
    val background = s.range(250000L * m)
      .select((col("id") % 10000L).as("okey"), (col("id") % 1000L).as("qty"))
    val build = s.range(10000L)
      .select(col("id").as("okey"), (col("id") % 3L).as("status"))
    graft.operators.SaltedJoin.inner(hot.unionAll(background), build,
        Seq("okey"), saltFactor = 32)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
  }

  /** The incremental-components claim measured: one fixed 8-order batch
    * against m× accumulated graph state (200k·m seen vertices, 100k·m
    * label-forest entries, buckets scaled with state per the
    * BucketedState contract) through the IDENTICAL
    * [[graft.streaming.StreamOracle.ccBatch]] code path the
    * `streaming_components` oracle row runs. The state is built once per
    * (sf, m, JVM) in the untimed warmup pass; each timed pass appends
    * one batch whose 16 vertices touch a bounded slot set — resolution
    * reads only those slots, the delta graph is 8 contracted edges, and
    * both state merges rewrite touched slots only. FLAT t(m) = per-batch
    * cost tracks the batch, never the accumulated graph. */
  private def streamCcProbe(m: Int): Build = (s, dir) => {
    import java.nio.file.Files
    val buckets = 16 * m
    val n = 100000L * m
    val root = probeRoot("graft-streamccprobe", dir, s"x$m")
    // a PARTIAL warmup build (e.g. killed between the two state writes)
    // must self-heal, not wedge the probe for the JVM's lifetime: the
    // guard requires BOTH states' v0 MANIFESTS (writeManifest is the
    // commit point — a __v=0 dir without its manifest reads as empty)
    // and rebuilds from scratch otherwise
    val v0ok = Files.exists(root.resolve("verts").resolve("__manifest-v=0")) &&
      Files.exists(root.resolve("forest").resolve("__manifest-v=0"))
    if (!v0ok) wipeTree(root.toFile)
    val verts = new graft.streaming.BucketedState(s, root.resolve("verts"), buckets)
    val forest = new graft.streaming.BucketedState(s, root.resolve("forest"), buckets)
    if (!v0ok) {
      // 2n seen vertices; forest = n depth-1 chains (high half → low half)
      val vs = s.range(2 * n).select(col("id").as("p"))
        .withColumn("__bucket", verts.bucketOf(0L, col("p")))
      verts.write(0L, vs, (0 until buckets).map(_.toString).toSet)
      val fe = s.range(n).select((col("id") + n).as("child"), col("id").as("parent"))
        .withColumn("__bucket", forest.bucketOf(0L, col("child")))
      forest.write(0L, fe, (0 until buckets).map(_.toString).toSet)
    }
    def nextVersion(r: java.nio.file.Path): Long =
      Option(r.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
        .flatMap(f => f.getName.stripPrefix("__v=").toLongOption)
        .maxOption.getOrElse(0L)
    val v = math.max(nextVersion(root.resolve("verts")), nextVersion(root.resolve("forest"))) + 1
    // 8 orders of 2 parts each: a forest child (resolves through its
    // chain) and a far root — the first batch merges them, later passes
    // re-resolve to the shared root (the steady-state read path)
    val batch = s.range(8).select(col("id").as("j"))
      .select(col("j").as("ok"),
        explode(array(lit(n) + col("j") * 31L, col("j") * 17L)).as("p"))
    graft.streaming.StreamOracle.ccBatch(verts, forest, v, batch)
    s.range(1).select(lit(m).as("m"), lit(v).as("batch_id"),
      lit(buckets).as("buckets"))
  }

  /** Pid-scoped PERSISTENT probe root: survives this JVM's bench passes
    * (unlike scratch(), which wipes on entry), swept once the owning pid
    * dies. The key carries a hash of the FULL dataset path — the
    * sanitized form alone is lossy, and two sf dirs must never share
    * surviving probe state (a reused cache would silently measure or
    * verify the wrong data). `listFiles` is null-guarded throughout: a
    * concurrent JVM's sweeper may delete a dead pid's dir between the
    * isDirectory check and the listing. */
  private def probeRoot(family: String, dir: String, sub: String): java.nio.file.Path = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_") +
      "-" + Integer.toHexString(dir.hashCode)
    val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), family)
    val self = ProcessHandle.current().pid()
    Option(base.toFile.listFiles()).foreach(_.foreach { f =>
      val alive = f.getName.stripPrefix("pid-").toLongOption
        .exists(p => p == self || ProcessHandle.of(p).isPresent)
      if (!alive) wipeTree(f)
    })
    base.resolve(s"pid-$self").resolve(key).resolve(sub)
  }

  /** Recursive delete (null-guarded — see [[probeRoot]]). */
  private def wipeTree(x: java.io.File): Unit = {
    if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(wipeTree))
    x.delete(): Unit
  }

  /** The bucketed-streaming-state claim measured: per-batch cost scales
    * with the batch's TOUCHED buckets, not with total state size. State
    * = 200k·m rows over 16·m buckets (bucket size CONSTANT — the 100 TB
    * deployment scales buckets with state, per the BucketedState
    * contract); the measured increment is a fixed 8-key merge, touching
    * ≤8 buckets at every m. The state is built once per (sf, m, JVM) in
    * the UNTIMED warmup pass (the dir persists across the bench's timed
    * passes), so the timed passes measure exactly one incremental batch:
    * read the touched buckets' newest versions, anti-join + union, write
    * one file per touched bucket, compact. Flat t(m) = the claim holds. */
  private def streamStateProbe(m: Int): Build = (s, dir) => {
    import java.nio.file.Files
    val buckets = 16 * m
    // probe state must SURVIVE the current JVM's bench passes, so it
    // can't use scratch(), which wipes on every entry
    val root = probeRoot("graft-stateprobe", dir, s"x$m/st")
    val st = new graft.streaming.BucketedState(s, root, buckets)
    // guard on the MANIFEST, not the version dir: writeManifest is
    // BucketedState's commit point (written after the parquet), so a
    // kill between the two must re-trigger the build, not read empty
    if (!Files.exists(root.resolve("__manifest-v=0"))) {
      wipeTree(root.toFile)
      val base = s.range(200000L * m)
        .select(col("id").as("k"), (col("id") % 97).as("payload"))
        .withColumn("__bucket", st.bucketOf(0L, col("k")))
      st.write(0L, base, (0 until buckets).map(_.toString).toSet)
    }
    // next free version (each bench pass appends one batch)
    val v = Option(root.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .flatMap(f => f.getName.stripPrefix("__v=").toLongOption)
      .maxOption.getOrElse(0L) + 1
    val inc = s.range(8L).select((col("id") * 31L).as("k"), lit(-1L).as("payload"))
      .withColumn("__bucket", st.bucketOf(v, col("k")))
    val touched = inc.select(col("__bucket")).distinct().collect().map(_.getString(0)).toSet
    val merged = st.before(v, Some(touched)) match {
      case None    => inc
      case Some(p) => p.join(inc.select(col("k")), Seq("k"), "left_anti").unionByName(inc)
    }
    st.write(v, merged, touched)
    st.compact(v - 1)
    // the work above ran eagerly; return a cheap verdict frame for count()
    s.range(1).select(lit(m).as("m"), lit(touched.size).as("touched_buckets"),
      lit(buckets).as("total_buckets"))
  }

  val probes: Map[String, Build] = {
    def jac(m: Int): Build =
      (s, dir) => graft.pipeline.Dedup.jaccardPairsFromIndex(
        replicatedShingleIndex(s, dir, m), "doc_id")
    def mh(m: Int): Build =
      (s, dir) => {
        val rows = replicatedShingleIndex(s, dir, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.pipeline.Dedup.nearDupPairsFromIndex(rows, "doc_id")
      }
    def tri(m: Int): Build =
      (s, dir) => graft.operators.Triangles.count(replicatedEdges(s, dir, m))
    // histogram-domain BPE training: fixed vocab (the one-scan corpus
    // histogram), m× the merge rounds — t(m) ∝ m (flat per-round cost,
    // independent of the merge count) is the claim; the corpus-domain
    // trainer this replaced re-scanned the corpus with an r-long
    // replace chain and would bend superlinear here
    def bpetrain(m: Int): Build =
      (s, dir) => graft.pipeline.TextPipeline.bpeTrain(
        table(s, dir, "documents"), "doc_id", "text", rounds = 16 * m)
    def trid(m: Int): Build =
      (s, dir) => graft.operators.Triangles.count(densifiedEdges(s, dir, m))
    Map(
      "scaleprobe_jaccard_x1" -> jac(1), "scaleprobe_jaccard_x4" -> jac(4),
      "scaleprobe_jaccard_x16" -> jac(16),
      "scaleprobe_minhash_x1" -> mh(1), "scaleprobe_minhash_x4" -> mh(4),
      "scaleprobe_minhash_x16" -> mh(16),
      "scaleprobe_triangles_x1" -> tri(1), "scaleprobe_triangles_x4" -> tri(4),
      "scaleprobe_triangles_x16" -> tri(16),
      "scaleprobe_tridense_x1" -> trid(1), "scaleprobe_tridense_x2" -> trid(2),
      "scaleprobe_tridense_x4" -> trid(4),
      "scaleprobe_bpetrain_x1" -> bpetrain(1), "scaleprobe_bpetrain_x4" -> bpetrain(4),
      // the binary-quantization claim measured: brute Hamming top-k over
      // an m×-replicated corpus should scale ~linearly in m (the whole
      // point of 8-byte signatures — a memory-bandwidth-bound scan)
      "scaleprobe_hamming_x1" -> ham(1), "scaleprobe_hamming_x4" -> ham(4),
      "scaleprobe_hamming_x16" -> ham(16),
      // engine bulk-ingest slope: constrained InsertFrom over m× the
      // fact cardinality (disjoint customer key spaces)
      "scaleprobe_fkbulk_x1" -> fkbulkProbe(1), "scaleprobe_fkbulk_x4" -> fkbulkProbe(4),
      "scaleprobe_fkbulk_x16" -> fkbulkProbe(16),
      // bucketed streaming state: fixed 8-key incremental batch against
      // m× state (buckets scaled with state) — flat t(m) is the claim
      "scaleprobe_streamstate_x1" -> streamStateProbe(1),
      "scaleprobe_streamstate_x4" -> streamStateProbe(4),
      "scaleprobe_streamstate_x16" -> streamStateProbe(16),
      // DCL branch diff + 3-way merge: fixed base relation, m× disjoint
      // per-branch mutations (bulk inserts + deletes) — cost should be
      // a fixed relation-scan term plus a term linear in the DIFF size
      "scaleprobe_dclmerge_x1" -> dclmergeProbe(1),
      "scaleprobe_dclmerge_x4" -> dclmergeProbe(4),
      "scaleprobe_dclmerge_x16" -> dclmergeProbe(16),
      // write-through persistence: restore + 16 fixed transitions +
      // prune/gc against an m× persisted database — flat t(m) is the
      // O(changed snapshot) claim
      "scaleprobe_persist_x1" -> persistProbe(1),
      "scaleprobe_persist_x4" -> persistProbe(4),
      "scaleprobe_persist_x16" -> persistProbe(16),
      // salted join under a planted single-hot-key heavy tail: linear
      // t(m) with the hot key's work spread across the executor width
      "scaleprobe_skewjoin_x1" -> skewJoinProbe(1),
      "scaleprobe_skewjoin_x4" -> skewJoinProbe(4),
      "scaleprobe_skewjoin_x16" -> skewJoinProbe(16),
      // incremental components: one fixed batch against m× accumulated
      // graph state — flat t(m) is the O(batch + delta) claim
      "scaleprobe_streamcc_x1" -> streamCcProbe(1),
      "scaleprobe_streamcc_x4" -> streamCcProbe(4),
      "scaleprobe_streamcc_x16" -> streamCcProbe(16),
      // multi-writer CAS contention: W socket writers race a FIXED total
      // of inserts against the whole-db CAS head — wall time should stay
      // bounded by the serialized commit cost while retries grow with W
      // (the whole-db-CAS write ceiling, measured; see CasLadder)
      "scaleprobe_caswriters_x1" -> caswritersProbe(1),
      "scaleprobe_caswriters_x4" -> caswritersProbe(4),
      "scaleprobe_caswriters_x8" -> caswritersProbe(8),
    )
  }

  /** The engine's whole-db CAS write path under real multi-writer
    * contention ([[graft.server.CasLadder]]): fixed 96 total inserts, W
    * racing socket threads, retry-on-conflict-only, exactly-once audited.
    * The verdict frame carries the retry count; wall time is the bench's
    * measurement. */
  private def caswritersProbe(w: Int): Build = (s, dir) => {
    val r = graft.server.CasLadder.run(s, dir, writers = w, totalInserts = 96)
    s.range(1).select(lit(r.writers).as("writers"),
      lit(r.totalInserts).as("total_inserts"),
      lit(r.retries).as("retries"), lit(r.rowsLanded).as("rows_landed"))
  }

  private def ham(m: Int): Build =
    (s, dir) => graft.pipeline.Ann.hammingTopK(replicatedEmbeddings(s, dir, m))
}
