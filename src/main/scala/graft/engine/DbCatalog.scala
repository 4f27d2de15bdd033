package graft.engine

import org.apache.spark.sql.DataFrame
import graft.catalog.Catalog
import graft.types.Cardinality
import graft.virtual.Virtual

/** Catalog over an engine Database, optionally falling back to an external
  * catalog (e.g. the driver's parquet tables) for names the database does
  * not define — that is how DML statements ingest external sources. Engine
  * relations shadow external ones. */
final class DbCatalog(db: Database, fallback: Option[Catalog] = None) extends Catalog {
  def resolve(name: String): Either[graft.Err, DataFrame] =
    if (Virtual.isVirtual(name))
      Left(graft.Err.GeneratorError(
        s"relation '$name' is virtual (infinite) and cannot be scanned"))
    else db.relations.get(name) match {
      case Some(rel) => Right(rel.df)
      case None => fallback match {
        case Some(c) => c.resolve(name)
        case None    => Left(graft.Err.RelationNotFoundBare(name))
      }
    }

  /** By name: no frame is built for the gate. */
  override def cardinality(name: String): Either[graft.Err, Cardinality] =
    if (Virtual.isVirtual(name)) Right(Cardinality.AlephZero)
    else if (db.relations.contains(name)) Right(Cardinality.ConstrainedFinite)
    else fallback match {
      case Some(c) => c.cardinality(name)
      case None    => Left(graft.Err.RelationNotFoundBare(name))
    }
}
