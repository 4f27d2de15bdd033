package graft

import java.nio.file.Paths
import java.util.concurrent.CountDownLatch
import org.apache.spark.sql.functions.col

/** The shared session policy of [[LocalSession]] and the job tagging of
  * [[JobCounter]]. */
class LocalSessionSpec extends SparkTestBase {

  /** A small aggregate: a scan stage and, under AQE, a shuffle stage. */
  private def aggregate(): Unit = {
    spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count().collect()
    ()
  }

  test("the shared test session runs in UTC with no UI and a warehouse under java.io.tmpdir") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toRealPath()
    val warehouse = Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    assert(warehouse.toRealPath().startsWith(tmp), s"$warehouse is not under $tmp")
  }

  test("profile reports as many jobs as count for the same block, and only their stages") {
    val (_, jobs) = JobCounter.count(spark)(aggregate())
    val (_, run) = JobCounter.profile(spark)(aggregate())
    assert(jobs > 0)
    assert(run.jobs.size == jobs)
    assert(run.stages.nonEmpty)
    val ids = run.jobs.map(_.id).toSet
    assert(run.stages.forall(s => ids(s.jobId)), s"stages ${run.stages} outside jobs $ids")
    assert(run.stages.forall(_.tasks > 0))
  }

  test("a block that runs no Spark job reports none") {
    val (out, run) = JobCounter.profile(spark)(21 * 2)
    assert(out == 42)
    assert(run.jobs.isEmpty && run.stages.isEmpty)
    assert(JobCounter.count(spark)(())._2 == 0)
  }

  test("a job another thread starts during the block is not counted") {
    val go = new CountDownLatch(1)
    // created before the block, so it does not inherit the block's tag
    val other = new Thread(() => { go.await(); spark.range(10).count(); () })
    other.start()
    val (_, run) = JobCounter.profile(spark) {
      go.countDown()
      other.join()
      spark.sparkContext.parallelize(1 to 10, 2).count()
    }
    assert(run.jobs.size == 1, run.jobs)
  }
}
