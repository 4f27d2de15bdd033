package graft.server

import graft.SparkTestBase
import graft.catalog.ParquetCatalog
import graft.sexp.Sexp.Atom

/** The finiteness gate answers from names (DbCatalog, ParquetCatalog and
  * the session catalog override `Catalog.cardinality`), so it builds no
  * DataFrame and reads no parquet schema. These are the wire bytes of the
  * three errors a name can cause; they are the same bytes the
  * DataFrame-building gate produced. A missing parquet file now fails at
  * compile instead of at the gate, with the same storage error. */
class GateByNameSpec extends SparkTestBase {

  // an external catalog whose `nation` table has no file behind it
  private lazy val dir = java.nio.file.Files.createTempDirectory("gate-by-name").toString

  private def withListener[A](bootstrap: Boolean)(f: Listener => A): A = {
    val l = new Listener(spark, Some(new ParquetCatalog(spark, dir)))
    try {
      if (bootstrap) {
        assert(l.handle("(ddl (CreateDatabase gate))").startsWith("(ok"))
        assert(l.handle("(CreateRelation (name t) (schema ((n integer))))").startsWith("(ok"))
      }
      f(l)
    } finally l.close()
  }

  private val notFound = "(error (sublanguage-error (error (relation-not-found nosuch))))"
  private val infinite = "(error (sublanguage-error (error (parse-error " +
    "\"query produces potentially infinite result; use Take to bound it\"))))"

  /** The storage error an escaped parquet read renders as. */
  private def missingFile: String = {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(s"$dir/nation.parquet"))
    s"(error (storage-error (message ${Atom(s"AnalysisException: ${e.getMessage}").render})))"
  }

  for (bootstrap <- Seq(true, false)) {
    val when = if (bootstrap) "with a database" else "before any database"

    test(s"an unknown name is relation-not-found, $when") {
      withListener(bootstrap) { l =>
        assert(l.handle("(drl (Base nosuch))") == notFound)
        assert(l.handle("(scl (Begin (query (Base nosuch))))") == notFound)
      }
    }

    test(s"a virtual Base is the gate's parse-error, $when") {
      withListener(bootstrap) { l =>
        assert(l.handle("(drl (Base natural_natural_less_than))") == infinite)
        assert(l.handle("(scl (Begin (query (Base natural_natural_less_than))))") == infinite)
      }
    }

    test(s"a table whose parquet file is missing is the same storage-error, $when") {
      withListener(bootstrap) { l =>
        assert(l.handle("(drl (Base nation))") == missingFile)
        assert(l.handle("(scl (Begin (query (Base nation))))") == missingFile)
      }
    }
  }
}
