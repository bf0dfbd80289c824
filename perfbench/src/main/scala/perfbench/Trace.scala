package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span around a call into a layer, recorded by the benchmark (never
  * inside the program). `op` groups the spans of one operation. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spark-side totals for one job group (= one span name). */
final class LayerTotals {
  var jobs = 0L; var stages = 0L; var taskRunMs = 0L; var taskCpuMs = 0.0
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
}

/** Everything the traced run reads from Spark's own channels: job and
  * stage events (attributed to the job group the benchmark set around
  * each layer call), Catalyst phase times from each QueryExecution's
  * tracker, and streaming trigger durations. Trigger durations are also
  * the end-to-end latency of the ingest workload, so that part is on in
  * untraced runs too ([[TriggerLog]]). */
final class SparkTrace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  val byGroup = mutable.Map.empty[String, LayerTotals]
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // start/end ms
  val catalyst = mutable.Map("analysis" -> 0L, "optimization" -> 0L,
    "planning" -> 0L)
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val stageGroup = mutable.Map.empty[Int, String]

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  /** The layer a job belongs to: the benchmark's `name#spanId` job group,
    * or, for a micro-batch (Structured Streaming sets the query's run id as
    * the group), the streaming layer. */
  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .map(g => if (g.matches(uuid)) "Streams.ingestDedupStream"
        else g.takeWhile(_ != '#'))
      .getOrElse("unattributed")

  private def totals(g: String) = byGroup.getOrElseUpdate(g, new LayerTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    jobStart(e.jobId) = (e.time, g)
    e.stageIds.foreach(stageGroup(_) = g)
    totals(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, _) => jobSpans += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val t = totals(stageGroup.getOrElse(info.stageId, "unattributed"))
      t.stages += 1
      val m = info.taskMetrics
      if (m != null) {
        t.taskRunMs += m.executorRunTime
        t.taskCpuMs += m.executorCpuTime / 1e6
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      if (catalyst.contains(phase)) catalyst(phase) += s.durationMs
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Union of the job intervals that started inside [t0, t1] (ms). */
  def jobUnionMs(t0: Double, t1: Double): Double = synchronized {
    val iv = jobSpans.filter { case (s, _) => s >= t0 && s <= t1 }
      .map { case (s, e) => (s.toDouble, math.min(e.toDouble, t1)) }
      .sortBy(_._1)
    var covered = 0.0; var curS = -1.0; var curE = -1.0
    iv.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }
}

/** Streaming progress: per-trigger durations by phase. */
final class TriggerLog extends StreamingQueryListener {
  val triggers = mutable.ArrayBuffer.empty[Map[String, Long]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      // a trigger that found no new file runs no batch: not an operation
      if (e.progress.numInputRows > 0 || d.contains("addBatch")) triggers += d
    }
}

/** In-memory span recorder. When off, [[span]] is a plain call. When on,
  * every call runs under a Spark job group named after the span, so the
  * jobs it launches (from any thread it starts) are attributed to it. */
final class Tracer(spark: SparkSession, var on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var op = 0L
  val t0 = System.nanoTime()
  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(s"$name#$id", name)
      stack.push(id)
      val s = nowMs
      try body
      finally {
        spans += Span(id, name, parent, op, s, nowMs)
        stack.pop()
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc)
      }
    }

  /** Self time per span name over spans starting at or after `fromMs`:
    * duration minus the part of it covered by child spans. */
  def selfMs(fromMs: Double): Map[String, Double] = {
    val sel = spans.filter(_.startMs >= fromMs)
    val kids = sel.groupBy(_.parent)
    sel.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.durMs - kids.getOrElse(s.id, Nil).map(_.durMs).sum).sum
    }
  }
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  // The JIT compiler threads. run.py starts the JVM with
  // -XX:-UseDynamicNumberOfCompilerThreads, so they all exist from start
  // to exit; their run time is in /proc/self/task/<tid>/schedstat.
  private lazy val jitThreads: Seq[java.io.File] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
      .filter { t =>
        try {
          val comm = Files.readString(new java.io.File(t, "comm").toPath)
          comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")
        } catch { case _: java.io.IOException => false } // thread has exited
      }.map(new java.io.File(_, "schedstat"))

  /** CPU time of this process, all threads, exited ones included, minus
    * the JIT compilers', in ms: the work the program's own threads (Spark
    * driver, tasks, GC) did. The compilers are left out because how much
    * they compile within a given operation depends on timing, not on the
    * program's work. Both figures are the kernel's run time of the
    * threads, which does not grow while the threads wait for a CPU. */
  def appCpuMs: Double = {
    val jitNs = jitThreads.map(f =>
      Files.readString(f.toPath).trim.split(" ")(0).toDouble).sum
    (ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime - jitNs) / 1e6
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Heap still in use after a full collection, in MB: what the program
    * holds between operations, whatever the collector's sizing policy. */
  def liveHeapMb: Double = {
    // Spark's ContextCleaner frees shuffle and broadcast state only after
    // a collection finds it unreachable, on its own thread: collect, give
    // it a moment, collect again
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
