package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one client thread, closed loop.
  *
  * {{{
  * perfbench.Main --workload dedup|ingest --data DIR --out DIR
  *   --seconds S --trace 0|1 --seed N
  * }}}
  *
  * Set-up (fresh state) is repeated three times, each repetition timed,
  * then one warm-up pass runs (pass 0). Then whole passes run until
  * `seconds` have passed.
  * With `--trace 1` odd passes are traced (spans, job groups, Spark
  * listeners) and even passes are not (at least one of each), so the run
  * also measures what tracing costs. Writes `result.json` and the check files under `--out`;
  * run.py turns them into metrics and checks the outputs.
  */
object Main {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = a("workload")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val reps = 3
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = graft.GraftSession.builder("perfbench", cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val tr = new Tracer(spark, on = false)
    val c = new Ctx(spark, tr, a("data"), out, a("seed").toLong)
    spark.streams.addListener(c.triggers)
    val w: Workload = workload match {
      case "dedup" => new DedupPipeline(c)
      case "ingest" => new Ingest(c)
      case other => sys.error(s"unknown workload $other")
    }

    val repS = (0 until reps).map { r =>
      val t = c.nowMs
      w.setup(r)
      (c.nowMs - t) / 1e3
    }
    val tw = c.nowMs
    w.pass(0)
    c.release()
    val warmS = (c.nowMs - tw) / 1e3
    // a full collection at every pass boundary, outside every timed
    // operation: each pass starts on a clean heap, and the live heap after
    // it is the state the workload retains
    val liveMb = mutable.ArrayBuffer(Jvm.liveHeapMb)
    PerfbenchBridge.drain(spark.sparkContext)
    val warmTriggers = c.triggers.triggers.size

    // ---- measured passes
    val passMs = mutable.Map("traced" -> mutable.ArrayBuffer.empty[Double],
      "plain" -> mutable.ArrayBuffer.empty[Double])
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val table = mutable.Map.empty[String, LayerTotals]
    var tracedPasses = 0
    // application CPU time of each pass's read mix
    val readMixCpuMs = mutable.ArrayBuffer.empty[Double]
    c.measuring = true
    val t0 = c.nowMs
    val cpuFrom = Jvm.appCpuMs
    val deadline = t0 + seconds * 1000
    var p = 1
    // a traced run measures at least one traced and one plain pass, so it
    // can state what tracing costs
    def more = c.nowMs < deadline || (traced && p < 3)
    while (more && w.hasPass(p)) {
      val on = traced && p % 2 == 1
      val st = if (on) Some(new SparkTrace(spark)) else None
      st.foreach(_.attach())
      tr.on = on
      tr.op = p
      val gc0 = Jvm.gcMs
      val wall0 = System.currentTimeMillis().toDouble
      val spanFrom = tr.nowMs
      val ps = c.nowMs
      val reads0 = c.readCpuMs.size
      tr.span("pass") { w.pass(p) }
      val dt = c.nowMs - ps
      readMixCpuMs += c.readCpuMs.drop(reads0).sum
      val wall1 = System.currentTimeMillis().toDouble
      tr.on = false
      passMs(if (on) "traced" else "plain") += dt
      st.foreach { s =>
        PerfbenchBridge.drain(spark.sparkContext)
        s.detach()
        tracedPasses += 1
        layer("jvm.gc_ms") += Jvm.gcMs - gc0
        layer("trace.pass_ms") += dt
        tr.selfMs(spanFrom).foreach { case (n, ms) => layer(s"self:$n") += ms }
        s.catalyst.foreach { case (ph, ms) => layer(s"catalyst.${ph}_ms") += ms }
        layer("spark.driver_gap_ms") += (wall1 - wall0) - s.jobUnionMs(wall0, wall1)
        s.byGroup.foreach { case (g, t) =>
          val acc = table.getOrElseUpdate(g, new LayerTotals)
          acc.jobs += t.jobs; acc.stages += t.stages; acc.taskRunMs += t.taskRunMs
          acc.taskCpuMs += t.taskCpuMs; acc.shuffleWrite += t.shuffleWrite
          acc.shuffleRead += t.shuffleRead; acc.spill += t.spill
        }
        w.tracedExtras(p)
      }
      c.release()
      liveMb += Jvm.liveHeapMb
      p += 1
    }
    val measuredMs = c.nowMs - t0
    val measuredCpuMs = Jvm.appCpuMs - cpuFrom
    c.measuring = false
    PerfbenchBridge.drain(spark.sparkContext)
    val trig = c.triggers.triggers.drop(warmTriggers).toSeq
    val rssMb = Jvm.peakRssMb

    w.finish()

    val result = mutable.Map[String, Any](
      "workload" -> workload, "cores" -> cores, "seed" -> c.seed,
      "session_s" -> sessionS, "setup_reps_s" -> repS, "warmup_s" -> warmS,
      "passes" -> (p - 1), "measured_ms" -> measuredMs,
      "lat_ms" -> c.latMs.toSeq, "read_ms" -> c.readMs.toSeq,
      "trigger_ms" -> trig.map(_.getOrElse("triggerExecution", 0L)),
      "attempted" -> c.attempted, "failed" -> c.failed,
      "measured_cpu_ms" -> measuredCpuMs, "cpu_ms" -> c.cpuMs.toSeq,
      "read_cpu_ms" -> c.readCpuMs.toSeq,
      "read_mix_cpu_ms" -> readMixCpuMs.toSeq, "units" -> c.units,
      "peak_rss_mb" -> rssMb,
      "live_heap_mb" -> liveMb.max)
    if (traced) {
      val n = math.max(1, tracedPasses).toDouble
      val perPass = layer.map { case (k, v) => k -> v / n }.toMap
      val totals = table.values
      val perTrigger = (k: String) =>
        if (trig.isEmpty) 0.0 else trig.map(_.getOrElse(k, 0L)).sum.toDouble / trig.size
      val triggersPerPass = trig.size.toDouble / math.max(1, p - 1)
      val streamJobs = table.get("Streams.ingestDedupStream").map(_.jobs).getOrElse(0L)
      val pl = mutable.Map[String, Double](
        "Gdf.build_ms" -> perPass.getOrElse("self:Gdf.build", 0.0),
        "Gdf.action_ms" -> perPass.getOrElse("self:Gdf.action", 0.0),
        "spark.jobs" -> totals.map(_.jobs).sum / n,
        "spark.stages" -> totals.map(_.stages).sum / n,
        "spark.task_run_ms" -> totals.map(_.taskRunMs).sum / n,
        "spark.task_cpu_ms" -> totals.map(_.taskCpuMs).sum / n,
        "spark.shuffle_write_bytes" -> totals.map(_.shuffleWrite).sum / n,
        "spark.shuffle_read_bytes" -> totals.map(_.shuffleRead).sum / n,
        "spark.spill_bytes" -> totals.map(_.spill).sum / n,
        "Streams.trigger.addBatch_ms" -> perTrigger("addBatch"),
        "Streams.trigger.queryPlanning_ms" -> perTrigger("queryPlanning"),
        "Streams.trigger.walCommit_ms" -> perTrigger("walCommit"),
        "Streams.trigger.jobs" ->
          (if (trig.isEmpty) 0.0 else streamJobs / n / triggersPerPass),
        "trace.uncovered_ms" -> perPass.getOrElse("self:pass", 0.0),
        "trace.overhead_pct" -> {
          val pl = median(passMs("plain").toSeq); val tp = median(passMs("traced").toSeq)
          if (pl > 0 && tp > 0) 100.0 * (tp - pl) / pl else 0.0
        })
      Seq("jvm.gc_ms", "trace.pass_ms", "spark.driver_gap_ms",
        "catalyst.analysis_ms", "catalyst.optimization_ms",
        "catalyst.planning_ms").foreach(k => pl(k) = perPass.getOrElse(k, 0.0))
      Seq("TextAnalysis", "Dedup.minhashDuplicatePairs",
        "Dedup.duplicateClustersStar", "Sampling.hashSplit",
        "Shards.writeShards", "Shards.readShard", "Streams.ingestDedupStream",
        "Manifest.upsert", "Manifest.deleteKeys", "Dedup.dedupAgainstIndex",
        "Manifest.readSkipping").foreach { k =>
        pl(s"$k.ms") = perPass.getOrElse(s"self:$k", 0.0)
      }
      // counts: the last traced pass's value (state sizes) or the mean
      Seq("Dedup.lsh_candidates", "Dedup.verified_per_candidate",
        "Manifest.files_read_per_listed").foreach { k =>
        pl(k) = c.counts.get(k).map(v => v.sum / v.size).getOrElse(0.0)
      }
      Seq("index.segments", "index.bytes_per_input_byte").foreach { k =>
        pl(k) = c.counts.get(k).map(_.last).getOrElse(0.0)
      }
      result("per_layer") = pl.toMap
      result("traced_passes") = tracedPasses
      result("pass_ms") = passMs.map { case (k, v) => k -> v.toSeq }.toMap
      result("layer_table") = table.map { case (g, t) => g -> Map(
        "self_ms" -> perPass.getOrElse(s"self:$g", 0.0),
        "jobs" -> t.jobs / n, "stages" -> t.stages / n,
        "task_run_ms" -> t.taskRunMs / n, "task_cpu_ms" -> t.taskCpuMs / n,
        "shuffle_write_bytes" -> t.shuffleWrite / n,
        "shuffle_read_bytes" -> t.shuffleRead / n, "spill_bytes" -> t.spill / n)
      }.toMap ++ perPass.collect {
        case (k, v) if k.startsWith("self:") && !table.contains(k.drop(5)) =>
          k.drop(5) -> Map("self_ms" -> v)
      }
      Io.writeJson(s"$out/spans.json", tr.spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)).toSeq)
    }
    Io.writeJson(s"$out/result.json", result.toMap)
    // local mode: every Spark thread lives in this JVM, so halting ends
    // them all without the seconds-long orderly shutdown
    Runtime.getRuntime.halt(0)
  }
}
