package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Triage tool for registered queries and scale probes: where a query's
  * time goes, and the plan it ran.
  *
  * Usage: `runMain graft.Profile <sfDir> <q1,q2,…> [passes] [outDir]`
  *
  * Each name runs one untimed warm-up and then `passes` timed passes
  * (default 1), each a `count()` as [[Bench]] times it, under
  * [[JobCounter.profile]]. Per pass it prints the wall time, the time
  * covered by jobs and the driver gap outside them, then the jobs grouped
  * by description and the stages grouped by name. After the last pass it
  * prints a summary of that pass's executed plan (the AQE final plan):
  * node counts and the number of stages actually run, which plan-string
  * counts cannot give where a persisted subtree is printed once per
  * consumer. With `outDir` the plan's formatted explain goes to
  * `outDir/<name>.txt`. The session is [[LocalSession.batch]]. */
object Profile {
  private val Usage = "usage: graft.Profile <sfDir> <q1,q2,...> [passes] [outDir]"

  /** Executed-plan node counts, by node name. `Exchange` counts shuffle
    * and broadcast exchanges that run (a reused exchange does not). */
  private val Counted = Seq("Exchange", "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "CartesianProduct", "BroadcastNestedLoopJoin", "Scan")

  private def kindOf(node: SparkPlan): Option[String] = node.nodeName match {
    case "Exchange" | "BroadcastExchange" => Some("Exchange")
    case n if n.contains("Scan") => Some("Scan")
    case n => Counted.find(_ == n)
  }

  /** Every node of an executed plan: through AQE's final plan, query
    * stages, cached relations and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 4) { System.err.println(Usage); sys.exit(2) }
    val sfDir = args(0)
    val runnable = SparkEntry.queries ++ SparkEntry.scaleProbes
    val names = SparkEntry.selectNames(args(1), "graft.Profile", runnable.keySet)
    val passes = args.lift(2).map(_.toIntOption.filter(_ > 0).getOrElse {
      System.err.println(s"passes must be a positive number (got ${args(2)})\n$Usage")
      sys.exit(2)
    }).getOrElse(1)
    val outDir = args.lift(3).map(Paths.get(_))
    outDir.foreach(Files.createDirectories(_))
    val spark = LocalSession.batch()
    for (name <- names) {
      val build = runnable(name)
      build(spark, sfDir).count()
      spark.catalog.clearCache()
      val (df, run) = (1 to passes).map { p =>
        val ((counted, wall), run) = JobCounter.profile(spark) {
          val t0 = System.nanoTime()
          // what Dataset.count() runs, kept so its executed plan can be read
          val counted = build(spark, sfDir).groupBy().count()
          counted.collect()
          (counted, (System.nanoTime() - t0) / 1e9)
        }
        spark.catalog.clearCache()
        // jobs overlap (broadcasts run beside their consumer): merge intervals
        val inJobs = run.jobs.foldLeft((0L, Long.MinValue)) { case ((sum, reach), j) =>
          (sum + (j.endMs - j.startMs.max(reach)).max(0L), reach.max(j.endMs))
        }._1 / 1e3
        println(f"== $name pass $p: wall=$wall%.3f s, jobs=${run.jobs.size}, " +
          f"inJobs=$inJobs%.3f s, driverGap=${wall - inJobs}%.3f s")
        run.jobs.groupBy(_.description).toSeq
          .map { case (d, js) => (d, js.size, js.map(_.wallMs).sum / 1e3) }
          .sortBy(-_._3).take(30)
          .foreach { case (d, n, t) => println(f"  $t%8.3f s  n=$n%-4d $d") }
        println("  -- stages --")
        run.stages.groupBy(_.name).toSeq
          .map { case (nm, ss) => (nm, ss.size, ss.map(_.durationMs).sum / 1e3, ss.map(_.tasks).sum) }
          .sortBy(-_._3).take(25)
          .foreach { case (nm, n, t, tasks) => println(f"  $t%8.3f s  n=$n%-4d tasks=$tasks%-5d ${nm.take(90)}") }
        (counted, run)
      }.last
      val byKind = nodes(df.queryExecution.executedPlan).flatMap(kindOf)
        .groupMapReduce(identity)(_ => 1)(_ + _)
      println(s"== $name plan: " +
        Counted.map(k => s"$k=${byKind.getOrElse(k, 0)}").mkString(", ") +
        s", stagesRun=${run.stages.size}")
      outDir.foreach { dir =>
        // a plan-stacking pathology can render MBs of tree: keep the head
        val txt = df.queryExecution.explainString(FormattedMode)
        val body = if (txt.length <= 200000) txt
          else txt.take(120000) + s"\n... [truncated ${txt.length - 120000} chars]\n"
        Files.writeString(dir.resolve(s"$name.txt"), body)
      }
    }
    spark.stop()
  }
}
