package graft.engine

import scala.collection.immutable.{ListMap, VectorMap}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Err
import graft.hashing.Hashing
import graft.hashing.Hashing.ContentRoot
import graft.icl.Body
import graft.types.{Domain, RelSchema, Value}

/** How a stored relation's extension is held — the engine's analogue of
  * Spark's broadcast-threshold decision, chosen per relation by size:
  *
  *  - [[Extension.Local]]: a driver-resident insertion-ordered
  *    row-hash → row map. Single-tuple protocol ops (insert/delete/
  *    duplicate check), constraint membership checks, and DCL diff/merge
  *    become O(1)/O(n) driver operations with ZERO Spark jobs — the same
  *    regime the reference's in-memory backend lives in permanently. As a
  *    DataFrame it is a LocalTableScan, which Catalyst broadcasts freely;
  *    building one costs about 1 µs per row, so the frame is cached per
  *    relation version ([[LocalFrames]]).
  *  - [[Extension.Dist]]: a lazy DataFrame plan. Everything stays set-wise
  *    (anti-joins, aggregations) — the only formulation that survives when
  *    a bulk insert pulls 10^9 rows from parquet.
  *
  * A relation is promoted Local→Dist the moment a bulk operation would
  * push it past [[Engine.LocalThreshold]] rows; it never demotes.
  */
sealed trait Extension
object Extension {
  final case class Local(rows: VectorMap[String, Row]) extends Extension

  /** @param wide the declared columns plus a trailing [[Engine.RhCol]]
    *   column holding each row's content digest. Every stored-side digest
    *   consumer (bulk-insert clash probes, DCL version diffs, merge
    *   assembly, content-root arithmetic, single-tuple probes) reads this
    *   column. A relation the engine built carries MATERIALIZED digests:
    *   the bulk insert's persisted batch, [[Engine.promote]]'s driver map
    *   (its keys are the digests), and every single-tuple, `DeleteWhere`
    *   and merge result derived from them, all sharing one
    *   cached/checkpointed block set with [[df]]. A relation `Persist`
    *   restored carries a LAZY projection of [[StoredRelation.rowHash]]
    *   over its parquet scan: Catalyst prunes it from every read that never
    *   touches the digest, so only digest consumers pay the sha pass. */
  final case class Dist(wide: DataFrame) extends Extension {
    /** The declared columns. A lazy val, so every read of one extension
      * sees one analyzed Dataset. */
    lazy val df: DataFrame = wide.drop(Engine.RhCol)
  }
  val emptyLocal: Local = Local(VectorMap.empty)
}

/** A stored relation: declared schema + current extension + incremental
  * content root + named constraints (reference lib/relation.ml:31-42).
  * The extension holds exactly the declared columns; stored relations are
  * genuine sets (duplicate inserts are rejected) and never contain nulls.
  */
final case class StoredRelation(
    name: String,
    schema: RelSchema,
    struct: StructType,
    ext: Extension,
    root: ContentRoot,
    constraints: ListMap[String, Body] = ListMap.empty,
    chain: Int = 0) {
  def relHash: String = Hashing.relationHash(name, schema, root)
  def rowHash: Column = Hashing.rowHashCol(name, struct)
  def cardinality: Long = root.count

  /** The extension as a DataFrame. A Local relation is a LocalTableScan
    * (broadcastable by Catalyst, collected with no Spark job); building and
    * analyzing it costs about 1 µs per row, so it is served from
    * [[LocalFrames]], which pays that once per relation version. */
  def df: DataFrame = ext match {
    case Extension.Local(rows) => LocalFrames.frame(SparkSession.active, this, rows)
    case d: Extension.Dist     => d.df
  }

  def localRows: Option[VectorMap[String, Row]] = ext match {
    case Extension.Local(rows) => Some(rows)
    case _                     => None
  }

  /** Digest-carrying view of the extension: declared columns plus a
    * trailing [[Engine.RhCol]] digest column ([[Engine.wideOf]]). */
  def wideDf: DataFrame = Engine.wideOf(ext, struct)
}

final case class DeferredEntry(constraintName: String, relationName: String, body: Body)

/** Immutable database state (reference lib/management/database.ml:17-26):
  * relations, domains, bounded history of prior state hashes, deferred
  * constraint queue, and the state hash itself. Every mutation returns a
  * NEW Database — append-only, which is what makes branches and
  * time-travel (DCL) cheap: a snapshot is just a reference. */
final case class Database(
    name: String,
    relations: ListMap[String, StoredRelation],
    domains: Map[String, Domain],
    history: List[String],
    deferred: List[DeferredEntry],
    hash: String) {
  def relation(name: String): Either[Err, StoredRelation] =
    relations.get(name).toRight(Err.RelationNotFound(name))
}

/** The manipulation layer (reference lib/manipulation.ml): relation and
  * tuple lifecycle with full validation, plus system-catalog maintenance.
  *
  * Scale design: single-tuple protocol ops (InsertTuple/DeleteTuple) cost
  * one filtered scan of the target relation (a digest predicate behind
  * attribute-equality predicates, so parquet-backed relations get
  * pushdown); bulk ops (InsertFrom, Assign, DeleteWhere) are set-wise
  * DataFrame jobs — duplicate detection via aggregation/join, deletion
  * via anti-join — never a per-row driver loop.
  * The reference materializes query results and folds row-by-row
  * (lib/dml/executor.ml:79-126); the outcome is identical because any
  * per-row failure aborts the whole statement there too.
  */
object Engine {

  /** Row count above which a relation's extension graduates from a
    * driver-local map to a distributed DataFrame plan (see [[Extension]]).
    * Analogous to spark.sql.autoBroadcastJoinThreshold: ~10^5 rows of
    * protocol-sized tuples is a few MB of driver heap, far below what a
    * broadcast would ship anyway. */
  val LocalThreshold = 100000

  /** Mutation-chain depth at which a Dist relation's lazy plan is
    * materialized and its lineage truncated. Without a bound, N mutations
    * stack N plan nodes (union-per-insert, diff-per-delete) and analysis
    * cost grows per operation; SURVEY §1.3 maps a relation version to
    * "parquet snapshot + state hash".
    *
    * Durability regimes: with `(storage (disk root))` the DURABLE
    * checkpoint is the per-transition snapshot write itself — every
    * committed state's objects land as content-addressed parquet and the
    * session re-anchors each Dist plan on them
    * ([[graft.engine.Persist.reopen]]), so lineage never exceeds one
    * statement's mutations and a crash loses at most the in-flight
    * statement (reference persists every state, lib/storable.ml:25-36).
    * `localCheckpoint` here remains the INTRA-statement bound (e.g. a
    * 30-tuple InsertTuples folds 30 plan nodes before its single commit)
    * and the whole story in the `(storage (memory))` regime, where state
    * is process-resident by contract. The content root is driver-side
    * limb arithmetic, so checkpointing never changes a state hash. */
  val MaxPlanChain = 24

  /** Column name carrying a row's executor-computed content hash through
    * the bulk paths (same digest as [[Hashing.tupleHash]]; parity pinned
    * by HashingSpec). */
  private[graft] val RhCol = "__rh"

  /** Declared struct plus the trailing [[RhCol]] digest column — the
    * schema of every digest-carrying wide frame. */
  private[graft] def wideStruct(struct: StructType): StructType =
    StructType(struct.fields :+ StructField(RhCol, StringType))

  /** Wide frame over driver-held (digest, row) pairs: a LocalRelation,
    * built with no Spark job and no hashing — the digests come with the
    * rows. Every driver-side wide frame is built here. */
  private[graft] def wideFrame(rows: Iterable[(String, Row)], struct: StructType): DataFrame =
    SparkSession.active.createDataFrame(
      rows.iterator.map { case (h, r) => Row.fromSeq(r.toSeq :+ h) }.toSeq.asJava,
      wideStruct(struct))

  /** Graduate a driver map that crossed [[LocalThreshold]] to a Dist
    * extension. The digest column comes free: the map's keys ARE the
    * digests. */
  private[graft] def promote(rows: VectorMap[String, Row], struct: StructType): Extension =
    Extension.Dist(wideFrame(rows, struct))

  /** An extension's digest-carrying view. Local relations build it from
    * the driver map (the keys ARE the digests, zero compute); Dist
    * relations carry it. */
  private[graft] def wideOf(ext: Extension, struct: StructType): DataFrame = ext match {
    case Extension.Local(rows) => wideFrame(rows, struct)
    case Extension.Dist(w)     => w
  }

  /** Semi- or anti-join of a frame carrying [[RhCol]] against a frame of
    * digests, keyed on the digest. Spark's `USING` join emits the key
    * column first; this keeps `wide`'s own column order, so the result
    * still unions by position with other wide frames and keeps the
    * trailing [[RhCol]] that [[Extension.Dist]] promises. Every
    * digest-keyed join goes through here. */
  private[graft] def digestJoin(wide: DataFrame, digests: DataFrame, how: String): DataFrame = {
    require(how == "left_semi" || how == "left_anti", s"digestJoin keeps the left side only: $how")
    wide.join(digests, Seq(RhCol), how).select(wide.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
  }

  /** Wrap a mutated wide Dist plan (declared columns + [[RhCol]]),
    * checkpointing once the accumulated chain depth passes
    * [[MaxPlanChain]]: the checkpoint materializes raw rows AND digests
    * into ONE block set, so the digest column survives every truncation
    * and no consumer re-hashes the stored side. Returns the new extension
    * plus the relation's new chain depth. */
  private[graft] def boundedDist(wide: DataFrame, prevChain: Int, cost: Int = 1): (Extension, Int) =
    if (prevChain + cost >= MaxPlanChain) (Extension.Dist(wide.localCheckpoint(true)), 0)
    else (Extension.Dist(wide), prevChain + cost)

  // ---- schema / value admission (reference build_membership_criteria,
  // lib/manipulation.ml:20-33: integer/natural/string enforced, anything
  // else admitted; we also type-check against the domain's Spark type) ----

  def admits(domain: Domain, v: Value): Boolean = (domain.name, v) match {
    case ("integer", Value.IntV(_))  => true
    case ("integer", _)              => false
    case ("natural", Value.IntV(i))  => i >= 0
    case ("natural", _)              => false
    case ("string", Value.StrV(_))   => true
    case ("string", _)               => false
    case _ => domain.sparkType match {
      case LongType    => v.isInstanceOf[Value.IntV]
      case DoubleType  => v.isInstanceOf[Value.FloatV] || v.isInstanceOf[Value.IntV]
      case StringType  => v.isInstanceOf[Value.StrV]
      case BooleanType => v.isInstanceOf[Value.BoolV]
      case _           => true
    }
  }

  /** Validate the attribute set against the schema and coerce values to
    * their declared domains, returning them in schema order. */
  def coerce(db: Database, rel: StoredRelation, attrs: Seq[(String, Value)])
      : Either[Err, List[(String, Value)]] = {
    val provided = attrs.toMap
    if (attrs.size != provided.size)
      Left(Err.ConstraintViolation(s"duplicate attribute in tuple for ${rel.name}"))
    else if (provided.keySet != rel.schema.attrNames.toSet)
      Left(Err.ConstraintViolation("Tuple does not satisfy membership criteria " +
        s"(expected attributes ${rel.schema.attrNames.mkString(",")})"))
    else {
      val out = rel.schema.attrs.map { case (a, domName) =>
        val dom = db.domains.getOrElse(domName, Domain(domName, StringType, graft.types.Cardinality.ConstrainedFinite))
        val v = provided(a)
        if (!admits(dom, v)) return Left(Err.ConstraintViolation(
          s"Tuple does not satisfy membership criteria ($a is not a $domName)"))
        val coerced = (dom.sparkType, v) match {
          case (DoubleType, Value.IntV(i)) => Value.FloatV(i.toDouble)
          case _ => v
        }
        a -> coerced
      }
      Right(out)
    }
  }

  private def rowOf(coerced: Seq[(String, Value)]): Row = Row.fromSeq(coerced.map(_._2.any))

  /** The one predicate that picks the stored tuple with digest `h` out of
    * a wide frame: `RhCol === h` behind an equality prefilter on the
    * NON-double attributes. The prefilter is pushed to the source, so a
    * restored relation hashes only the rows that pass it. Doubles stay out:
    * `===` equates 0.0 and -0.0 where the digest does not, and constant
    * propagation can then fold the literal into the digest expression and
    * drop the digest conjunct, matching a 0.0 row for a -0.0 tuple. */
  private def tupleMatch(rel: StoredRelation, coerced: Seq[(String, Value)], h: String): Column =
    coerced.collect { case (a, v) if rel.struct(a).dataType != DoubleType => col(s"`$a`") === v.lit }
      .foldRight(col(s"`$RhCol`") === h)(_ && _)

  /** The stored rows equal to one tuple (at most one: relations are
    * sets) — the duplicate probe of [[createTuple]] and the presence
    * check of [[retractTuple]]. */
  private[engine] def tupleProbe(rel: StoredRelation, wide: DataFrame,
      coerced: Seq[(String, Value)], h: String): DataFrame =
    wide.where(tupleMatch(rel, coerced, h)).drop(RhCol)

  private[graft] def updateState(db: Database, relations: ListMap[String, StoredRelation]): Database = {
    val newHash = Hashing.databaseHash(db.name, relations.values.map(_.relHash))
    val history =
      if (db.hash.isEmpty) db.history
      else (db.hash :: db.history).take(128) // reference max_history (database.ml:45)
    db.copy(relations = relations, history = history, hash = newHash)
  }

  private def updateRelation(db: Database, rel: StoredRelation): Database =
    updateState(db, db.relations.updated(rel.name, rel))

  // ---- tuple lifecycle (reference lib/manipulation.ml:524-614) ----

  /** Insert one tuple: membership criteria → named constraints →
    * duplicate rejection → new state → cascade recheck. On a Local
    * relation the duplicate check is an O(1) driver map probe — no Spark
    * job; on a Dist relation it is one filtered scan ([[tupleProbe]]). */
  def createTuple(spark: SparkSession, db: Database, relName: String,
      attrs: Seq[(String, Value)]): Either[Err, Database] =
    for {
      rel <- db.relation(relName)
      coerced <- coerce(db, rel, attrs)
      _ <- graft.icl.Runtime.validateInsert(spark, db, rel, coerced)
      h = Hashing.tupleHash(relName, coerced)
      extChain <- rel.ext match {
        case Extension.Local(rows) =>
          if (rows.contains(h)) Left(Err.DuplicateTuple(h))
          else {
            val m = rows.updated(h, rowOf(coerced))
            // repeated single inserts also promote
            if (m.size > LocalThreshold) Right((promote(m, rel.struct), 0))
            else Right((Extension.Local(m): Extension, rel.chain))
          }
        case Extension.Dist(w) =>
          // duplicate probe: one filtered scan (h identifies the row exactly)
          if (rel.root.count > 0 && !tupleProbe(rel, w, coerced, h).isEmpty) Left(Err.DuplicateTuple(h))
          else Right(boundedDist(w.unionAll(wideFrame(Seq(h -> rowOf(coerced)), rel.struct)), rel.chain))
      }
      newRel = rel.copy(ext = extChain._1, chain = extChain._2, root = rel.root.add(h))
      newDb = updateRelation(db, newRel)
      _ <- cascadeIfNeeded(spark, newDb, relName, coerced, "insert")
    } yield newDb

  /** Cascade re-check, skipped entirely when no relation carries
    * constraints (the common case costs nothing). */
  private def cascadeIfNeeded(spark: SparkSession, db: Database, relName: String,
      transition: Seq[(String, Value)], kind: String): Either[Err, Unit] =
    if (db.relations.valuesIterator.forall(_.constraints.isEmpty)) Right(())
    else graft.icl.Runtime.cascade(spark, db, relName, transition, kind)

  /** Sequential fold — each insert sees the prior state; any failure
    * aborts the whole statement (reference lib/manipulation.ml:565-576). */
  def createTuples(spark: SparkSession, db: Database, relName: String,
      tuples: Seq[Seq[(String, Value)]]): Either[Err, Database] =
    tuples.foldLeft(Right(db): Either[Err, Database]) { (acc, t) =>
      acc.flatMap(createTuple(spark, _, relName, t))
    }

  /** Remove one tuple identified by its full attribute set
    * (reference retract_tuple, lib/manipulation.ml:579-614). */
  def retractTuple(spark: SparkSession, db: Database, relName: String,
      attrs: Seq[(String, Value)]): Either[Err, Database] =
    for {
      rel <- db.relation(relName)
      coerced <- coerce(db, rel, attrs)
      h = Hashing.tupleHash(relName, coerced)
      extChain <- rel.ext match {
        case Extension.Local(rows) =>
          if (!rows.contains(h)) Left(Err.TupleNotFound(h))
          else Right((Extension.Local(rows.removed(h)): Extension, rel.chain))
        case Extension.Dist(w) =>
          // the probe's predicate also removes exactly the one row (h is
          // unique within a duplicate-free relation)
          if (rel.root.count == 0 || tupleProbe(rel, w, coerced, h).isEmpty) Left(Err.TupleNotFound(h))
          else Right(boundedDist(w.filter(!tupleMatch(rel, coerced, h)), rel.chain))
      }
      newRel = rel.copy(ext = extChain._1, chain = extChain._2, root = rel.root.remove(h))
      newDb = updateRelation(db, newRel)
      _ <- cascadeIfNeeded(spark, newDb, relName, coerced, "delete")
    } yield newDb

  // ---- bulk paths (set-wise; scale-safe) ----

  /** Spread a narrow-partitioned bulk source across the cluster before
    * the hash-heavy set-wise stages (the single shared helper —
    * [[graft.core.Algebra.balanced]]). */
  private def balance(df: DataFrame): DataFrame = graft.core.Algebra.balanced(df)

  /** Conform a query result to the relation's declared schema: exact
    * attribute set, columns cast to domain types, no nulls. */
  private def conform(rel: StoredRelation, src: DataFrame): Either[Err, DataFrame] = {
    if (src.columns.toSet != rel.schema.attrNames.toSet)
      Left(Err.ConstraintViolation("result does not satisfy membership criteria " +
        s"(expected attributes ${rel.schema.attrNames.mkString(",")}, got ${src.columns.mkString(",")})"))
    else {
      val cast = src.select(rel.struct.fields.toIndexedSeq.map(f =>
        col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
      Right(cast)
    }
  }

  /** Set-wise validation mirroring per-row membership criteria: no nulls,
    * domain checks (natural ≥ 0, user-domain predicates). */
  private def bulkValidate(db: Database, rel: StoredRelation, src: DataFrame): Either[Err, Unit] = {
    val checks: Seq[Column] = rel.schema.attrs.flatMap { case (a, domName) =>
      val base = col(s"`$a`").isNull
      val domViol = db.domains.get(domName).flatMap(_.check).map(chk => !chk(col(s"`$a`")))
      Seq(base) ++ domViol.toSeq
    }
    val bad = src.filter(checks.reduce(_ || _)).limit(1)
    if (bad.isEmpty) Right(())
    else Left(Err.ConstraintViolation("result does not satisfy membership criteria"))
  }

  /** Driver-side membership criteria for one collected row: no nulls,
    * every value admitted by its declared domain (the per-row mirror of
    * [[bulkValidate]]). Returns the coerced attribute list. */
  private def validateLocalRow(db: Database, rel: StoredRelation, r: Row)
      : Either[Err, Seq[(String, Value)]] = {
    var i = 0
    while (i < rel.struct.fields.length) {
      if (r.isNullAt(i)) return Left(Err.ConstraintViolation(
        "result does not satisfy membership criteria " +
          s"(${rel.struct.fields(i).name} is null)"))
      i += 1
    }
    val attrs = rowToAttrs(rel, r)
    attrs.find { case (a, v) =>
      val domName = rel.schema.attrs.find(_._1 == a).map(_._2).getOrElse("string")
      db.domains.get(domName).exists(d => !admits(d, v))
    } match {
      case Some((a, _)) => Left(Err.ConstraintViolation(
        s"result does not satisfy membership criteria ($a)"))
      case None => Right(attrs)
    }
  }

  /** Bulk insert of a query result (reference InsertFrom semantics:
    * sequential create_tuples over the materialized result,
    * lib/dml/executor.ml:89-97 — same outcome set-wise because any
    * duplicate or violation aborts the statement).
    *
    * Size dispatch: the result is probed with a LocalThreshold+1-row
    * collect (one job) that also carries each row's EXECUTOR-computed
    * content hash — the driver never hashes rows itself. A small result
    * is validated and dup-checked driver-side; a large one takes the
    * set-wise DataFrame path (aggregation dup-check, digest-keyed
    * anti-join clash check, one distributed content-root aggregation) and
    * promotes the relation to a Dist extension.
    *
    * Single-evaluation contract: the probe rows themselves become the
    * inserted set on the small path, so a nondeterministic source query
    * (limit/sample upstream) is evaluated exactly once and the stored
    * rows are exactly what was observed — the statement never re-runs the
    * source and diverges from its own validation.
    *
    * Constrained relations are validated SET-WISE too (one compiled
    * violation query per constraint, [[graft.icl.Compile]]) whenever the
    * constraint bodies permit it; only self-referencing, Both-polarity,
    * quantify-over-target, or incompilable bodies fall back to the
    * reference's row-at-a-time fold, whose per-transition visibility they
    * genuinely need. */
  def insertFrom(spark: SparkSession, db: Database, relName: String,
      src: DataFrame): Either[Err, Database] =
    for {
      rel <- db.relation(relName)
      conformed <- conform(rel, src)
      db2 <-
        if (rel.constraints.nonEmpty || graft.icl.Runtime.affected(db, relName, "insert").nonEmpty)
          insertFromConstrained(spark, db, rel, conformed)
        else {
          val probe = conformed.withColumn(RhCol, rel.rowHash).limit(LocalThreshold + 1).collect()
          if (probe.length <= LocalThreshold) insertRowsLocal(db, rel, probe.toSeq)
          else insertFromDist(spark, db, rel, conformed)
        }
    } yield db2

  /** Insert into a relation whose constraints (or inbound constraint
    * references) are live. Three regimes, in preference order:
    *
    *  1. set-wise (the 100 TB path): compiled validation queries against
    *     the pre-insert snapshot + one batch cascade re-check per affected
    *     constraint against the post-insert state. Sound whenever no
    *     involved body is self-referencing (needs row-at-a-time batch
    *     visibility), Both-polarity on this relation (verdicts not
    *     monotone under inserts — a mid-batch violation could be repaired
    *     by a later row, which the reference's fold would have rejected),
    *     quantifying over this relation (needs per-transition universal
    *     substitution), or incompilable (unbounded quantifier);
    *  2. all-Local small batch: the reference's sequential fold, entirely
    *     driver-side — zero Spark jobs;
    *  3. sequential fold over a full collect — the semantic fallback for
    *     the hazard cases of (1). */
  private def insertFromConstrained(spark: SparkSession, db: Database, rel: StoredRelation,
      conformed: DataFrame): Either[Err, Database] = {
    import graft.icl.{Compile, Runtime => IclRuntime}
    val relName = rel.name
    val aff = IclRuntime.affected(db, relName, "insert")
    val selfRef = rel.constraints.valuesIterator.exists(b => Body.relationsIn(b).contains(relName))
    val hazard = selfRef ||
      rel.constraints.valuesIterator.exists(b => !Compile.compilable(db, b)) ||
      aff.exists { case (r, _, body) =>
        r.name == relName ||
          graft.icl.Analysis.polarityOf(body).get(relName).contains(graft.icl.Analysis.Both) ||
          Compile.quantifiesOver(body, relName) ||
          !Compile.compilable(db, body)
      }
    if (hazard)
      rowsToAttrsChecked(db, rel, conformed.collect().toSeq)
        .flatMap(createTuples(spark, db, relName, _))
    else {
      val referenced = (rel.constraints.valuesIterator.flatMap(Body.relationsIn).toSet ++
        aff.flatMap { case (r, _, b) => Body.relationsIn(b) + r.name }) - relName
      val allLocal = rel.localRows.isDefined && referenced.forall(n =>
        graft.virtual.Virtual.isVirtual(n) || db.relations.get(n).forall(_.localRows.isDefined))
      val probe = conformed.withColumn(RhCol, rel.rowHash).limit(LocalThreshold + 1).collect()
      val small = probe.length <= LocalThreshold
      if (probe.isEmpty) insertRowsLocal(db, rel, Nil) // no transitions: nothing to validate
      else if (small && allLocal)
        // the zero-Spark-job regime: per-row fold over driver maps
        rowsToAttrsChecked(db, rel, probe.toSeq)
          .flatMap(createTuples(spark, db, relName, _))
      else {
        // batch as a stable DataFrame: the probe rows on the small path
        // (single evaluation); on the large one the balanced source is
        // persisted WIDE (with its digest column) so validation, dup/root
        // aggregation, cascade, the clash probe, and the stored extension
        // share ONE materialization — and the digest is computed exactly
        // once, at that materialization
        val batchWide = if (small) None else Some(prepareBulk(rel, conformed))
        val batchDf = batchWide match {
          case Some(wf) => wf.drop(RhCol)
          case None =>
            spark.createDataFrame(
              probe.toSeq.map(r => Row.fromSeq(r.toSeq.take(rel.struct.fields.length))).asJava,
              rel.struct)
        }
        val res = for {
          // membership criteria FIRST: a null/domain violation must
          // surface as the reference's membership error, not as whichever
          // named constraint its compiled join happens to trip (the wide
          // frame is scanned so the first pass also materializes digests)
          _ <- bulkValidate(db, rel, batchWide.getOrElse(batchDf))
          _ <- validateSetWise(db, rel, batchDf)
          db2 <- batchWide match {
            case None     => insertRowsLocal(db, rel, probe.toSeq)
            case Some(wf) => insertFromDistPrepared(spark, db, rel, wf, validated = true)
          }
          _ <- IclRuntime.cascadeBatch(spark, db2, relName, batchDf, "insert")
        } yield db2
        // an aborted statement must not leak its persisted batch (the
        // installed-extension case keeps it until the chain checkpoint)
        if (res.isLeft) batchWide.foreach(_.unpersist())
        res
      }
    }
  }

  /** One compiled violation query per named constraint over the batch
    * (insert-time validation against the pre-insert snapshot — reference
    * validate_tuple_constraints, lib/manipulation.ml:395-415, set-wise). */
  private def validateSetWise(db: Database, rel: StoredRelation,
      batch: DataFrame): Either[Err, Unit] =
    rel.constraints.foldLeft(Right(()): Either[Err, Unit]) { case (acc, (cname, body)) =>
      acc.flatMap { _ =>
        graft.icl.Compile.violations(db, body, batch) match {
          case Some(viol) =>
            if (viol.limit(1).isEmpty) Right(())
            else Left(Err.ConstraintViolation(s"constraint $cname violated"))
          case None => Left(Err.StorageError(
            s"internal: set-wise validation of incompilable constraint $cname"))
        }
      }
    }

  /** Small-result insert: validation and dup-checking on the driver, over
    * rows that carry their executor-computed content hash in a trailing
    * [[RhCol]] column; zero additional Spark jobs when the relation is
    * Local. */
  private def insertRowsLocal(db: Database, rel: StoredRelation, rows: Seq[Row])
      : Either[Err, Database] = {
    val width = rel.struct.fields.length
    val hashed = new scala.collection.mutable.LinkedHashMap[String, Row]()
    for (r <- rows) {
      validateLocalRow(db, rel, r) match {
        case Left(e) => return Left(e)
        case Right(_) =>
          val h = r.getString(width)
          if (hashed.contains(h))
            return Left(Err.DuplicateTuple(h))
          hashed(h) = Row.fromSeq(r.toSeq.take(width))
      }
    }
    rel.ext match {
      case Extension.Local(existing) =>
        hashed.keysIterator.find(existing.contains) match {
          case Some(h) => Left(Err.DuplicateTuple(h))
          case None =>
            val merged = hashed.foldLeft(existing) { case (m, (h, r)) => m.updated(h, r) }
            val root = hashed.keysIterator.foldLeft(rel.root)(_.add(_))
            if (merged.size > LocalThreshold)
              Right(updateRelation(db, rel.copy(ext = promote(merged, rel.struct), root = root, chain = 0)))
            else
              Right(updateRelation(db, rel.copy(ext = Extension.Local(merged), root = root)))
        }
      case Extension.Dist(w) =>
        // small batch into a large relation: one semi probe keyed on the
        // 32-byte digest, with the tiny batch key set broadcast
        val keySchema = StructType(Seq(StructField(RhCol, StringType)))
        val keysDf = SparkSession.active.createDataFrame(
          hashed.keysIterator.map(Row(_)).toSeq.asJava, keySchema)
        val clash = digestJoin(w.select(col(s"`$RhCol`")), broadcast(keysDf), "left_semi")
          .limit(1).collect()
        if (clash.nonEmpty) Left(Err.DuplicateTuple(clash.head.getString(0)))
        else {
          val root = hashed.keysIterator.foldLeft(rel.root)(_.add(_))
          val (ext, chain) = boundedDist(w.unionAll(wideFrame(hashed, rel.struct)), rel.chain)
          Right(updateRelation(db, rel.copy(ext = ext, root = root, chain = chain)))
        }
    }
  }

  /** Balance + persist a large bulk source WITH its digest column (the
    * wide frame: declared columns + [[RhCol]]): the set-wise insert makes
    * several passes (validation, dup/root aggregation, clash probe) and
    * the result becomes the relation's extension — one shared
    * materialization instead of re-evaluating the source plan per pass,
    * and the digest is COMPUTED ONCE at that materialization, then read
    * as a stored column by the root aggregation, the clash probe, and
    * every future insert/diff/merge against this relation. Cache entries
    * live until LRU eviction or the chain checkpoint supersedes them (a
    * cluster deployment would snapshot parquet here — SURVEY §1.3). */
  private def prepareBulk(rel: StoredRelation, src: DataFrame): DataFrame =
    balance(src).withColumn(RhCol, rel.rowHash)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def insertFromDist(spark: SparkSession, db: Database, rel: StoredRelation,
      src: DataFrame): Either[Err, Database] = {
    val wide = prepareBulk(rel, src)
    val res = insertFromDistPrepared(spark, db, rel, wide)
    if (res.isLeft) wide.unpersist() // aborted: don't leak the cache entry
    res
  }

  /** Large-result insert over the persisted wide batch: set-wise
    * validation, dup-check and clash probe — all digest work reads the
    * batch's stored [[RhCol]] column, and the stored side contributes its
    * own.
    *
    * Membership validation is a full batch scan; the constrained path
    * (insertFromConstrained) has ALREADY run it by the time it calls
    * here, so it passes `validated = true` — re-validating doubled the
    * most expensive scan of every constrained bulk insert for no
    * verdict change (measured ~4 s of the 17 s scaleprobe_fkbulk_x4
    * pass: two identical membership scans over the 7.5M-row batch). */
  private def insertFromDistPrepared(spark: SparkSession, db: Database, rel: StoredRelation,
      wide: DataFrame, validated: Boolean = false): Either[Err, Database] = {
    for {
      _ <- if (validated) Right(()) else bulkValidate(db, rel, wide)
      // duplicate probe + content root in one pass family: root limbs
      // aggregate the batch's stored digest column; the dup probe keys on
      // xxhash64 of the raw columns (the probe surfaces an example
      // duplicated hash for the error)
      dupRoot = Hashing.rootWithDupCheckPrehashed(wide, RhCol)
      _ <- dupRoot._1 match {
        case Some(h) => Left(Err.DuplicateTuple(h))
        case None    => Right(())
      }
      // stored-side digests for the clash probe and the new extension (a
      // Local relation's wide frame is driver-local, broadcastable)
      storedW = if (rel.root.count == 0) None else Some(rel.wideDf)
      _ <- storedW match {
        case None => Right(())
        case Some(sw) =>
          val clash = digestJoin(wide.select(col(s"`$RhCol`")),
            sw.select(col(s"`$RhCol`")), "left_semi").limit(1).collect()
          if (clash.isEmpty) Right(()) else Left(Err.DuplicateTuple(clash.head.getString(0)))
      }
      newWide = storedW.map(_.unionAll(wide)).getOrElse(wide)
      extChain = boundedDist(newWide, rel.chain)
      newRel = rel.copy(ext = extChain._1, chain = extChain._2, root = rel.root.merge(dupRoot._2))
    } yield updateRelation(db, newRel)
  }

  /** Convert collected rows to attribute lists with membership checking
    * FIRST: a null cell must surface as the reference's membership-
    * criteria violation, not crash [[rowToAttrs]]'s primitive getters
    * (and not be misreported as whichever named constraint trips). */
  private def rowsToAttrsChecked(db: Database, rel: StoredRelation,
      rows: Seq[Row]): Either[Err, Seq[Seq[(String, Value)]]] = {
    val out = Seq.newBuilder[Seq[(String, Value)]]
    for (r <- rows) validateLocalRow(db, rel, r) match {
      case Left(e)      => return Left(e)
      case Right(attrs) => out += attrs
    }
    Right(out.result())
  }

  private[graft] def rowToAttrs(rel: StoredRelation, r: Row): Seq[(String, Value)] =
    rel.struct.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      val v: Value = f.dataType match {
        case LongType    => Value.IntV(r.getLong(i))
        case DoubleType  => Value.FloatV(r.getDouble(i))
        case StringType  => Value.StrV(r.getString(i))
        case BooleanType => Value.BoolV(r.getBoolean(i))
        case other       => throw new IllegalArgumentException(s"unsupported type $other")
      }
      f.name -> v
    }

  /** Delete all target rows that semijoin-match the predicate relation on
    * their common attributes (reference DeleteWhere,
    * lib/dml/executor.ml:98-126). Set-wise: the matched row-set is
    * removed via anti-join; the reference retracts row-by-row. A Local
    * relation collects the (rel-bounded) match set in one job and
    * subtracts it driver-side; a Dist relation keeps the anti-join plan
    * plus one content-root aggregation. */
  def deleteWhere(spark: SparkSession, db: Database, relName: String,
      pred: DataFrame): Either[Err, Database] =
    for {
      rel <- db.relation(relName)
      common = rel.schema.attrNames.filter(pred.columns.contains)
      toDelete = graft.core.Algebra.project(rel.schema.attrNames)(
        graft.core.Algebra.equijoin(common, rel.df, pred)).distinct()
      res <- rel.ext match {
        case Extension.Local(rows) =>
          // subset of rel's own rows; hashes computed on executors
          val width = rel.struct.fields.length
          val removed = toDelete.withColumn(RhCol, rel.rowHash).collect().toSeq
          val keys = removed.map(_.getString(width)).filter(rows.contains)
          val root = keys.foldLeft(rel.root)(_.remove(_))
          Right((rel.copy(ext = Extension.Local(rows.removedAll(keys)), root = root),
            removed.map(r => Row.fromSeq(r.toSeq.take(width)))))
        case Extension.Dist(w) =>
          val delRoot = Hashing.contentRootOf(toDelete, rel.rowHash)
          // digest-keyed anti: sha over the (match-sized) delete set; the
          // stored side reads its digest column. Exact equivalence with
          // Algebra.diff: relations are null-free and the canonical digest
          // encoding is injective on raw values, so digest-equality IS
          // attribute-equality.
          val delD = toDelete.select(rel.rowHash.as(RhCol))
          val (ext, chain) = boundedDist(digestJoin(w, delD, "left_anti"), rel.chain, cost = 2)
          Right((rel.copy(ext = ext, chain = chain,
            root = rel.root.subtract(delRoot)), Seq.empty[Row]))
      }
      (newRel, removedRows) = res
      newDb = updateRelation(db, newRel)
      _ <- cascadeAll(spark, newDb, relName, removedRows, toDelete, rel)
    } yield newDb

  /** Delete cascade over the removed row set, against the post-delete
    * state (as the per-row path always has). Dispatch mirrors
    * [[insertFromConstrained]]: ONE batch re-check per affected constraint
    * ([[graft.icl.Runtime.cascadeBatch]]) unless a body is on this
    * relation itself, Both-polarity, quantifies over it, or is
    * incompilable — those keep the per-row evaluator; an all-Local
    * mutation keeps the zero-job driver loop. */
  private def cascadeAll(spark: SparkSession, db: Database, relName: String,
      removedRows: Seq[Row], removedDf: DataFrame, rel: StoredRelation): Either[Err, Unit] = {
    import graft.icl.{Compile, Runtime => IclRuntime}
    val aff = IclRuntime.affected(db, relName, "delete")
    if (aff.isEmpty) Right(())
    else {
      val allLocal = rel.localRows.isDefined && aff.forall { case (r, _, b) =>
        r.localRows.isDefined && (Body.relationsIn(b) - relName).forall(n =>
          graft.virtual.Virtual.isVirtual(n) || db.relations.get(n).forall(_.localRows.isDefined))
      }
      val batchable = aff.forall { case (r, _, body) =>
        r.name != relName &&
          !graft.icl.Analysis.polarityOf(body).get(relName).contains(graft.icl.Analysis.Both) &&
          !Compile.quantifiesOver(body, relName) &&
          Compile.compilable(db, body)
      }
      def perRow(rows: Seq[Row]): Either[Err, Unit] =
        rows.foldLeft(Right(()): Either[Err, Unit]) { (acc, r) =>
          acc.flatMap(_ => IclRuntime.cascade(spark, db, relName, rowToAttrs(rel, r), "delete"))
        }
      if (allLocal && removedRows.nonEmpty) perRow(removedRows) // zero-job regime
      else if (batchable) {
        // an empty removal set has no transitions — and must not surface
        // violations latent before the statement
        if (removedRows.isEmpty && removedDf.limit(1).isEmpty) Right(())
        else IclRuntime.cascadeBatch(spark, db, relName, removedDf, "delete")
      } else perRow(if (removedRows.nonEmpty) removedRows else removedDf.collect().toSeq)
    }
  }

  /** `:=` — evaluate, clear target, replace contents
    * (reference lib/dml/executor.ml:79-88). */
  def assign(spark: SparkSession, db: Database, relName: String,
      src: DataFrame): Either[Err, Database] =
    for {
      db2 <- clearRelation(spark, db, relName)
      db3 <- insertFrom(spark, db2, relName, src)
    } yield db3

  // ---- relation lifecycle + system catalog (reference
  // lib/manipulation.ml:622-879, lib/prelude/catalog.ml) ----

  val CatalogPrefix = "sakura:"
  val CatalogNames: List[String] = List(
    "sakura:relation", "sakura:domain", "sakura:attribute",
    "sakura:constraint", "sakura:on", "sakura:timing")
  def isCatalog(name: String): Boolean = CatalogNames.contains(name)

  private val catalogSchemas: Map[String, RelSchema] = Map(
    "sakura:relation"   -> RelSchema(List("name" -> "string")),
    "sakura:domain"     -> RelSchema(List("name" -> "string")),
    "sakura:attribute"  -> RelSchema(List("relation_name" -> "string", "attr_name" -> "string", "domain_name" -> "string")),
    "sakura:constraint" -> RelSchema(List("name" -> "string", "relation_name" -> "string")),
    "sakura:on"         -> RelSchema(List("event" -> "string")),
    "sakura:timing"     -> RelSchema(List("timing" -> "string")),
  )

  private def structOf(db: Database, schema: RelSchema): Either[Err, StructType] =
    schema.toStruct(db.domains).left.map(Err.ConstraintViolation(_))

  /** Create a relation WITHOUT catalog maintenance (bootstrap / catalog
    * relations themselves). */
  private def createRelationRaw(spark: SparkSession, db: Database, name: String,
      schema: RelSchema): Either[Err, Database] =
    if (db.relations.contains(name)) Left(Err.RelationAlreadyExists(name))
    else structOf(db, schema).map { struct =>
      val rel = StoredRelation(name, schema, struct, Extension.emptyLocal, ContentRoot.empty)
      updateRelation(db, rel)
    }

  /** Driver-side seeding of known-distinct tuples (bootstrap only — no
    * Spark involvement at all). */
  private def seedRelation(spark: SparkSession, db: Database, name: String,
      tuples: Seq[Seq[(String, Value)]]): Database = {
    val rel = db.relations(name)
    val existing = rel.localRows.getOrElse(
      throw new IllegalStateException(s"seedRelation on non-local $name"))
    val merged = tuples.foldLeft((existing, rel.root)) { case ((m, r), t) =>
      val coerced = coerce(db, rel, t).fold(e => throw new IllegalStateException(e.message), identity)
      val h = Hashing.tupleHash(name, coerced)
      (m.updated(h, rowOf(coerced)), r.add(h))
    }
    updateRelation(db, rel.copy(ext = Extension.Local(merged._1), root = merged._2))
  }

  /** Fresh database with the four prelude domains and the seeded system
    * catalog (reference create_database → init_catalog_relations,
    * lib/manipulation.ml:701-781). */
  def createDatabase(spark: SparkSession, name: String): Database = {
    var db = Database(name, ListMap.empty, Domain.prelude, Nil, Nil, "")
    for (cat <- CatalogNames)
      db = createRelationRaw(spark, db, cat, catalogSchemas(cat))
        .fold(e => throw new IllegalStateException(e.message), identity)
    db = seedRelation(spark, db, "sakura:relation",
      CatalogNames.map(n => Seq("name" -> Value.StrV(n))))
    db = seedRelation(spark, db, "sakura:attribute",
      CatalogNames.flatMap(n => catalogSchemas(n).attrs.map { case (a, d) =>
        Seq("relation_name" -> Value.StrV(n), "attr_name" -> Value.StrV(a), "domain_name" -> Value.StrV(d))
      }))
    db = seedRelation(spark, db, "sakura:on",
      List("insert", "update", "delete").map(e => Seq("event" -> Value.StrV(e))))
    db = seedRelation(spark, db, "sakura:timing",
      List("immediate", "deferred").map(t => Seq("timing" -> Value.StrV(t))))
    db = seedRelation(spark, db, "sakura:domain",
      List("integer", "natural", "rational", "string").map(d => Seq("name" -> Value.StrV(d))))
    db
  }

  /** Create a user relation + catalog maintenance (reference
    * create_relation, lib/manipulation.ml:792-812). Schema order: we keep
    * DECLARATION order (the reference's Schema.add prepends, so its stored
    * order is reversed — an artifact we do not reproduce). */
  def createRelation(spark: SparkSession, db: Database, name: String,
      schema: RelSchema): Either[Err, Database] =
    for {
      db2 <- createRelationRaw(spark, db, name, schema)
      db3 <-
        if (isCatalog(name)) Right(db2)
        else for {
          a <- createTuple(spark, db2, "sakura:relation", Seq("name" -> Value.StrV(name)))
          b <- createTuples(spark, a, "sakura:attribute",
            schema.attrs.map { case (at, d) => Seq(
              "relation_name" -> Value.StrV(name),
              "attr_name" -> Value.StrV(at),
              "domain_name" -> Value.StrV(d)) })
        } yield b
    } yield db3

  /** Drop a relation + catalog cleanup (reference retract_relation,
    * lib/manipulation.ml:841-850). */
  def retractRelation(spark: SparkSession, db: Database, name: String): Either[Err, Database] =
    for {
      _ <- if (isCatalog(name)) Left(Err.ConstraintViolation(s"cannot retract system relation $name"))
           else Right(())
      rel <- db.relation(name)
      db2 = updateState(db, db.relations.removed(name))
      // catalog names were rejected above; always clean the catalog rows
      dropName = retractTuple(spark, db2, "sakura:relation", Seq("name" -> Value.StrV(name)))
        .getOrElse(db2) // absent row is not an error (reference checks membership first)
      db3 <- rel.schema.attrs.foldLeft(Right(dropName): Either[Err, Database]) {
        case (acc, (at, d)) =>
          acc.map { cur =>
            retractTuple(spark, cur, "sakura:attribute", Seq(
              "relation_name" -> Value.StrV(name),
              "attr_name" -> Value.StrV(at),
              "domain_name" -> Value.StrV(d))).getOrElse(cur)
          }
      }
    } yield db3

  /** Truncate a relation's extension; schema, constraints, and catalog
    * rows stay (reference clear_relation, lib/manipulation.ml:853-879). */
  def clearRelation(spark: SparkSession, db: Database, name: String): Either[Err, Database] =
    if (isCatalog(name)) Left(Err.ConstraintViolation(s"cannot clear system relation $name"))
    else db.relation(name).map { rel =>
      updateRelation(db, rel.copy(ext = Extension.emptyLocal, root = ContentRoot.empty, chain = 0))
    }

  /** Register a domain + catalog row (reference register_domain,
    * lib/manipulation.ml:757-767). */
  def registerDomain(spark: SparkSession, db: Database, domain: Domain): Either[Err, Database] = {
    val db2 = db.copy(domains = db.domains.updated(domain.name, domain))
    createTuple(spark, db2, "sakura:domain", Seq("name" -> Value.StrV(domain.name)))
  }

  // ---- constraint registration + commit (reference
  // lib/manipulation.ml:883-937, 965-1027) ----

  /** Attach a named constraint to a relation (AND-merged on name
    * collision), record it in sakura:constraint, and — when Deferred —
    * queue it on the database's deferred list (cascade then skips it
    * until commit). */
  def registerConstraint(spark: SparkSession, db: Database, constraintName: String,
      relationName: String, body: Body,
      timing: graft.icl.Timing = graft.icl.Timing.Immediate): Either[Err, Database] =
    for {
      rel <- db.relation(relationName)
      merged = graft.icl.Analysis.mergeNamed(rel.constraints.toSeq, Seq(constraintName -> body))
      db2 = updateRelation(db, rel.copy(constraints = ListMap(merged: _*)))
      // idempotent catalog row: re-registering a name AND-merges the body
      // but must not produce a duplicate sakura:constraint tuple
      db3 <- createTuple(spark, db2, "sakura:constraint", Seq(
        "name" -> Value.StrV(constraintName), "relation_name" -> Value.StrV(relationName)))
        .left.flatMap {
          case Err.DuplicateTuple(_) => Right(db2)
          case e                     => Left(e)
        }
      db4 = timing match {
        case graft.icl.Timing.Immediate => db3
        case graft.icl.Timing.Deferred =>
          db3.copy(deferred = DeferredEntry(constraintName, relationName, body) :: db3.deferred)
      }
    } yield db4

  /** Evaluate all deferred constraints against the current state; on
    * success clear the deferral window (reference commit,
    * lib/manipulation.ml:1016-1027). */
  def commit(spark: SparkSession, db: Database): Either[Err, Database] =
    graft.icl.Runtime.checkDeferred(spark, db).map(_ => db.copy(deferred = Nil))
}
