package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts on the calling thread, for specs
  * that pin how many jobs a request runs.
  *
  * Jobs are told apart by a local property set on this thread (AQE stage
  * jobs inherit it), so jobs from other threads never count. Listener
  * events arrive asynchronously but in order, so after the block a one-task
  * fence job runs under a second tag: once its start is seen, every job the
  * block started has been counted. */
object JobCounter {
  private val Prop = "graft.test.jobcount"

  def count[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val fenceTag = tag + "-fence"
    val jobs = new AtomicInteger()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Prop)).foreach {
          case `tag`      => jobs.incrementAndGet()
          case `fenceTag` => fenced.countDown()
          case _          => ()
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
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(Prop, prev)
      sc.removeSparkListener(listener)
    }
  }
}
