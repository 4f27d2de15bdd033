package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.types.Cardinality
import graft.virtual.Virtual

/** Name → relation resolution for DRL `Base` nodes.
  *
  * The reference resolves `Base name` against the current database's
  * relation map (lib/drl/executor.ml:27-30). Here a Catalog abstracts over
  * the two backing stores we have: driver parquet tables (read path) and
  * the mutable EngineState (DML/DDL path, which implements this trait).
  */
trait Catalog {
  /** Resolve a finite base relation to its DataFrame. Failures are typed
    * ([[graft.Err]]): an unknown name is the executor-level
    * `(relation-not-found r)` (reference lib/drl/executor.ml:14), a
    * virtual (infinite) name a `(generator-error m)`. */
  def resolve(name: String): Either[graft.Err, DataFrame]

  /** Static cardinality class for the finiteness gate. Virtual relations
    * are countably infinite; any stored table is constrained-finite; an
    * unknown name fails as [[resolve]] does. This default builds the
    * DataFrame only to learn that the name exists; the engine's catalogs
    * override it to answer from names alone, so the gate never pays for a
    * frame (or a parquet schema read) that compile will build again. */
  def cardinality(name: String): Either[graft.Err, Cardinality] =
    if (Virtual.isVirtual(name)) Right(Cardinality.AlephZero)
    else resolve(name).map(_ => Cardinality.ConstrainedFinite)
}

/** Catalog over the driver's testdata directory: one parquet file per
  * table name. Column pruning and filter pushdown reach the parquet scan
  * because resolution is just `spark.read.parquet` — Catalyst sees the
  * whole plan down to the file source. */
final class ParquetCatalog(spark: SparkSession, dir: String) extends Catalog {
  val tableNames: Set[String] = Set(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def resolve(name: String): Either[graft.Err, DataFrame] =
    if (Virtual.isVirtual(name))
      Left(graft.Err.GeneratorError(
        s"relation '$name' is virtual (infinite) and cannot be scanned; " +
        "use it as a Select filter or constraint target"))
    else if (tableNames.contains(name))
      Right(spark.read.parquet(s"$dir/$name.parquet"))
    else Left(graft.Err.RelationNotFoundBare(name))

  /** By name: a missing parquet file surfaces at compile, not here. */
  override def cardinality(name: String): Either[graft.Err, Cardinality] =
    if (Virtual.isVirtual(name)) Right(Cardinality.AlephZero)
    else if (tableNames.contains(name)) Right(Cardinality.ConstrainedFinite)
    else Left(graft.Err.RelationNotFoundBare(name))
}
