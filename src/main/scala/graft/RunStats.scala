package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** Run statistics for one SparkEntry query (tooling, not driver contract):
  * runs it N times and prints, per run, the wall time, the number of
  * driver-scheduled jobs and every completed stage's task count, wall
  * span, executor run/CPU time and shuffle write/read. For the last run it
  * also lists every job's span grouped by the SQL execution that ran it
  * (the `spark.sql.execution.id` job property, which AQE's pool-thread
  * jobs inherit), labelled with the execution's description; jobs outside
  * SQL show their result stage's name. Stage lines separate "same plan,
  * different wall-clock" cases (parked executors show as span >> run);
  * job counts expose per-micro-batch driver-floor work that stage timings
  * hide. Session confs are [[GraftSession]]'s, as in [[Bench]].
  * `runMain graft.RunStats <query> <sfDir> [n]` (n defaults to 3). */
object RunStats {
  def main(args: Array[String]): Unit = {
    val query = args(0)
    val sfDir = args(1)
    val n = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(parallelism = cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // per run, from one listener: job id -> (label, submit ms) and end ms,
    // stage id -> label, execution id -> label (posted before its jobs)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageGroups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val execs = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          val desc = s.description.linesIterator.map(_.trim).filter(_.nonEmpty)
          execs.put(s.executionId.toString,
            s"sql ${s.executionId}: ${desc.mkString(" ")}"); ()
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // outside a SQL execution the result stage is named after the
        // job's call site (a job over zero partitions has no stages)
        val group = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(id => execs.getOrDefault(id, s"sql $id"))
          .getOrElse("no sql execution: " + j.stageInfos
            .maxByOption(_.stageId).map(_.name).getOrElse("?"))
        j.stageIds.foreach(stageGroups.put(_, group))
        starts.put(j.jobId, (group, j.time)); ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        ends.put(j.jobId, j.time); ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val span = (for {
          s <- i.submissionTime; e <- i.completionTime
        } yield (e - s) / 1000.0).getOrElse(-1.0)
        val run = i.taskMetrics.executorRunTime / 1000.0
        val cpu = i.taskMetrics.executorCpuTime / 1e9
        val shw = i.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6
        val shr = i.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6
        stages.add(
          f"    stage ${i.stageId}%4d tasks=${i.numTasks}%4d span=$span%7.2fs " +
          f"run=$run%8.2fs cpu=$cpu%8.2fs shW=$shw%7.1fMB shR=$shr%7.1fMB " +
          stageGroups.getOrDefault(i.stageId, i.name.takeWhile(_ != '\n')))
      }
    })
    // bench-only queries (e.g. d52_index_probe) resolve too, as in Bench
    val fn = (SparkEntry.queries ++ SparkEntry.benchOnlyQueries)(query)
    for (r <- 1 to n) {
      starts.clear(); ends.clear(); stageGroups.clear(); execs.clear()
      stages.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      Thread.sleep(500) // let job/stage-completed events drain
      println(f"run $r: wall=$dt%.2fs jobs=${starts.size}")
      stages.forEach(s => println(s))
      if (r == n) {
        val rows = starts.asScala.toSeq.map { case (id, (group, t0j)) =>
          val span = ends.asScala.get(id).map(e => (e - t0j) / 1000.0)
          (id, group, span.getOrElse(-1.0))
        }.sortBy(_._1)
        rows.foreach { case (id, label, span) =>
          println(f"  job $id%4d $span%7.3fs  $label") }
        println("  --- by SQL execution ---")
        rows.groupBy(_._2).toSeq
          .map { case (label, rs) => (label, rs.size, rs.map(_._3).sum) }
          .sortBy(-_._3)
          .foreach { case (label, cnt, tot) =>
            println(f"  $cnt%4d jobs $tot%7.3fs  $label") }
      }
    }
    spark.stop()
  }
}
