package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Counts and profiles the Spark jobs a block starts on the calling
  * thread: specs pin how many jobs a request runs, and [[Profile]] prints
  * where a query's time goes.
  *
  * Jobs are told apart by a local property set on this thread. AQE stage
  * jobs and broadcast jobs inherit it, and so do threads the block
  * creates, so jobs from other threads never count. Listener events
  * arrive asynchronously but in order, and a job's stage and end events
  * are posted before its caller resumes; so after the block a one-task
  * fence job runs under a second tag, and once its start is seen every
  * job, stage and job end of the block has been recorded. */
object JobCounter {
  private val Prop = "graft.jobcount"

  /** One counted job: its description (`spark.job.description`, else
    * its result stage's name, the call site) and its start and end, in
    * epoch ms. */
  final case class Job(id: Int, description: String, startMs: Long, endMs: Long) {
    def wallMs: Long = (endMs - startMs).max(0L)
  }

  /** One completed stage attempt of a counted job. */
  final case class Stage(jobId: Int, name: String, durationMs: Long, tasks: Int)

  final case class Jobs(jobs: Seq[Job], stages: Seq[Stage])

  def count[A](spark: SparkSession)(body: => A): (A, Int) = {
    val (out, run) = profile(spark)(body)
    (out, run.jobs.size)
  }

  /** The block's jobs in start order, and the stages they completed. */
  def profile[A](spark: SparkSession)(body: => A): (A, Jobs) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val fenceTag = tag + "-fence"
    val jobs = TrieMap.empty[Int, Job]
    val stageJob = TrieMap.empty[Int, Int]
    val stages = new ConcurrentLinkedQueue[Stage]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Prop)).foreach {
          case `tag` =>
            val desc = Option(e.properties.getProperty("spark.job.description")).filter(_.nonEmpty)
              .getOrElse(e.stageInfos.maxByOption(_.stageId).fold("?")(_.name))
            jobs.put(e.jobId, Job(e.jobId, desc, e.time, e.time))
            e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
          case `fenceTag` => fenced.countDown()
          case _          => ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(j => jobs.put(j.id, j.copy(endMs = e.time)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        stageJob.get(i.stageId).foreach { job =>
          val ms = (for (end <- i.completionTime; start <- i.submissionTime) yield end - start)
            .getOrElse(0L)
          stages.add(Stage(job, i.name.takeWhile(_ != '\n'), ms, i.numTasks))
        }
      }
    }
    val prev = sc.getLocalProperty(Prop)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Prop, tag)
      val out = body
      sc.setLocalProperty(Prop, fenceTag)
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "fence job never reached the listener")
      (out, Jobs(jobs.values.toSeq.sortBy(j => (j.startMs, j.id)), stages.asScala.toSeq))
    } finally {
      sc.setLocalProperty(Prop, prev)
      sc.removeSparkListener(listener)
    }
  }
}
