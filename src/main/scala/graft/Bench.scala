package graft

/** Benchmark main: times every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_BENCH_RUNS` times each (default 3),
  * and prints ONE JSON line. Per-query value = MEDIAN across runs (the r3
  * verdict found single-shot timings on this VM swing 2-6× under external
  * load, which made the 2×-regression gate unenforceable); `queries_min`
  * carries the per-query minima — the best observable proxy for the
  * machine-independent cost — and `runs` the full grid for auditing.
  * FAIL-CLOSED (r8 verdict #1): throwing runs never enter the sample
  * grid, failures surface as `errs` (counts on the compact line, full
  * messages in the detail artifact), and the process exits nonzero if
  * any query failed every run. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession.builder(parallelism = cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: absorb first-job costs (codegen/scan-strategy init, parquet
    // footers) so they don't land on whichever query runs first
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "documents", "events").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).collect()
      catch { case _: Throwable => () }
    }
    // optional args = query names, for focused re-timing; the driver
    // passes none and gets the full sweep. Bench-only queries (scaling
    // studies, e.g. the sketch-path pipeline twin) run ONLY when named —
    // the no-args sweep stays the driver's comparable artifact.
    val picked =
      if (args.nonEmpty)
        (SparkEntry.queries ++ SparkEntry.benchOnlyQueries)
          .filter(kv => args.contains(kv._1))
      else SparkEntry.queries
    val names = picked.keys.toSeq.sorted
    // run the whole sweep nRuns times (round-robin, not back-to-back per
    // query): a load spike on the VM then lands on DIFFERENT queries in
    // different runs instead of wiping out all of one query's samples
    val samples = collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // FAIL-CLOSED (r8 verdict #1): a run that throws must NOT enter the
    // sample grid — r7's four analysis-dead queries were timed at ~0.06 s
    // each by the old catch-and-continue, which made breakage read as a
    // 40× speedup in the artifact. Failures are recorded per query and
    // the process exits nonzero if any query failed EVERY run.
    val errs = collection.mutable.Map.empty[String, Vector[String]]
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to nRuns; name <- names) {
      val fn = picked(name)
      val t0 = System.nanoTime()
      // noop sink evaluates EVERY column of the result (count() would let
      // Catalyst prune computed projections away and fake the timing)
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        samples(name) = samples(name) :+ dt
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[bench] $name failed: $msg")
        errs(name) = errs(name) :+ msg.linesIterator.take(1).mkString.take(200)
      }
      // each query is an independent job: drop its persisted candidate
      // tables / localCheckpoint blocks so they don't squeeze executor
      // memory for every query that happens to run later in the sweep
      // (measured: late expression queries ran 2-6x slower without this).
      // clearCache() unpersists AND deregisters CacheManager entries (raw
      // unpersist left InMemoryRelations registered — a later query with a
      // matching subtree would route through a never-re-cached plan); the
      // RDD sweep then frees localCheckpoint blocks, which live outside
      // the CacheManager
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    // drift sentinels (r12 verdict #3, automated; r13 verdict #3 added the
    // heavy band): the median ratio of review-untouched CONTROL queries
    // against a stored reference grid (scaling/bench_sentinel_ref.json).
    // Each ratio is this host+run's speed factor vs the grid's host; a
    // uniform external-load spike moves it, a genuine per-query regression
    // doesn't. TWO bands because r13 proved one isn't enough: the light
    // band (ten short expression/shuffle queries) cannot see heavy-floor
    // drift (big-shuffle spill paths, ImageIO decode floors) — d55/d11/d50
    // drifted 1.24× while the light sentinel read 1.08×, and exonerating
    // them cost hand-run control experiments. The heavy band (3-4
    // untouched heavy-floor queries, `queries_heavy` in the grid) tracks
    // that floor directly; benchdiff.py normalizes by each band and flags
    // only queries outside BOTH. The median over controls stays honest
    // even if a round's changes touch a couple of them; absent/failed
    // grid reads just omit the block. The default grid path is resolved
    // RELATIVE to the working directory (r13 ADVICE: an absolute
    // /root/repo default silently dropped the sentinel on any other
    // checkout); the env var stays the override.
    val sentinelPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SENTINEL",
      "scaling/bench_sentinel_ref.json")
    def sentinelBand(key: String): Option[(Double, Int, String)] =
      try {
        val p = java.nio.file.Paths.get(sentinelPath)
        if (!java.nio.file.Files.exists(p)) None
        else {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val node = om.readTree(p.toFile)
          if (!node.has(key)) None
          else {
            val ref = node.get("ref").asText()
            val qs = node.get(key)
            val ratios = names.flatMap { n =>
              if (qs.has(n) && samples(n).nonEmpty && qs.get(n).asDouble > 0)
                Some(median(samples(n)) / qs.get(n).asDouble)
              else None
            }.toVector
            // >= 3 overlapping controls or the median is too thin to mean
            // anything (a focused `Bench q01` run shouldn't emit one)
            if (ratios.size >= 3) Some((median(ratios), ratios.size, ref))
            else None
          }
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sentinel '$key' skipped: ${e.getMessage}")
        None
      }
    val sentinel = sentinelBand("queries")
    val sentinelHeavy = sentinelBand("queries_heavy")
    def obj(f: String => Double): String = names
      .map(n => s"\"" + n + "\":" + f(n)).mkString("{", ",", "}")
    val med = obj(n => median(samples(n)))
    val mins = obj(n => if (samples(n).isEmpty) 0.0 else samples(n).min)
    val runsJson = names.map(n =>
      s"\"" + n + "\":" + samples(n).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val total = names.map(n => median(samples(n))).sum
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val errsJson = errs.keys.toSeq.sorted.map(n =>
      jstr(n) + ":" + errs(n).map(jstr).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    // the ref label routes through jstr (r13 ADVICE: interpolating it
    // unescaped corrupts the artifact line if a grid ever carries a quote)
    def bandJson(key: String, band: Option[(Double, Int, String)],
        pat: String): String = band.map { case (r, n, ref) =>
      val v = String.format(java.util.Locale.ROOT, pat, Double.box(r))
      s""""$key":{"ratio":$v,"n":$n,"ref":${jstr(ref)}},"""
    }.getOrElse("")
    def sentinelJson(pat: String): String =
      bandJson("sentinel", sentinel, pat) +
        bandJson("sentinel_heavy", sentinelHeavy, pat)
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$med,"queries_min":$mins,"runs":$runsJson,"errs":$errsJson,${sentinelJson("%.6f")}"n_runs":$nRuns,"sf":"$sfDir"}"""
    // The driver archives only the LAST 2000 CHARS of stdout and parses
    // the JSON from that tail: the full per-query line (~10 KB at 99
    // queries) was silently truncated there in every previous round
    // (BENCH_r01/r03 both carry "parsed": null). So stdout gets ONE
    // compact line guaranteed to fit — short query keys (the unique
    // "q01"/"d07"/"s01" prefixes used in every report), 2-decimal
    // medians — and the full-resolution artifact (full names, medians,
    // minima, per-run grid) goes to stderr and a JSON file next to the
    // repo for regression diffing (scripts/benchdiff.py).
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "/root/repo/bench_detail.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailPath), full)
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    System.err.println(full)
    val prefix = names.map(n => n -> n.split("_")(0)).toMap
    val short =
      if (prefix.values.toSet.size == names.size) prefix
      else names.map(n => n -> n).toMap // prefix collision: keep full names
    val sfShort = sfDir.split("/").last
    // Locale.ROOT: a comma-decimal default locale would render 0,44 and
    // produce invalid JSON (round-5 ADVICE #1)
    def fmt(pat: String, x: Double): String =
      String.format(java.util.Locale.ROOT, pat, Double.box(x))
    val medShort = names.map(n =>
      "\"" + short(n) + "\":" + fmt("%.2f", median(samples(n))))
      .mkString("{", ",", "}")
    // value_min = sum of per-query minima: the noise-robust stat (the
    // driver VM's 2-4x external-load variance inflates medians; minima
    // are the best machine-independent cost proxy — r6 verdict #6). One
    // short key so the compact line still fits the 2000-char tail.
    val totalMin = names
      .map(n => if (samples(n).isEmpty) 0.0 else samples(n).min).sum
    // compact line carries failure COUNTS only (full messages live in the
    // detail artifact) so the 2000-char stdout-tail budget holds; the key
    // is omitted entirely on a clean sweep
    val errsCompact =
      if (errs.isEmpty) ""
      else errs.keys.toSeq.sorted
        .map(n => "\"" + short.getOrElse(n, n) + "\":" + errs(n).size)
        .mkString(""""errs":{""", ",", "},")
    val compact = s"""{"metric":"total","value":${fmt("%.1f", total)},"value_min":${fmt("%.1f", totalMin)},"unit":"sec",$errsCompact${sentinelJson("%.3f")}"queries":$medShort,"n_runs":$nRuns,"sf":"$sfShort","detail":"$detailPath"}"""
    // spark.stop() FIRST: its shutdown logging (stderr) must not land
    // after the compact line in a 2>&1 capture. The println below is the
    // process's final output; with run/outputStrategy := StdoutOutput and
    // Global/showSuccess := false (build.sbt) nothing sbt-side follows it
    // either, so the driver's last-2000-chars tail parse finally sees a
    // bare JSON line (BENCH_r01/r03/r05 all archived "parsed": null).
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(compact)
    System.out.flush()
    // fail-closed exit: a query that produced NO successful run means the
    // artifact's 0.0 entry is a failure marker, not a timing — make the
    // process say so
    val dead = names.filter(n => samples(n).isEmpty)
    if (dead.nonEmpty) {
      System.err.println(s"[bench] FAILED every run: ${dead.mkString(", ")}")
      sys.exit(1)
    }
  }
}
