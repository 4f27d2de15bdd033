package graft

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest suites. One session per JVM
  * (Test / fork := true gives the whole test run a single forked JVM). */
object SparkTestBase {
  lazy val spark: SparkSession =
    LocalSession.build("local[4]", 4, app = Some("graft-test"), logLevel = "ERROR")
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under `java.io.tmpdir`, deleted after the suite. */
  protected def tempDir(prefix: String): Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach(d => LocalSession.deleteTree(d.toFile))
}
