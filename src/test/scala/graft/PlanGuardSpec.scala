package graft

/** CI plan assertions (VERDICT r1 #10): the scale-killers found in round 1 —
  * a Window fed by `Exchange SinglePartition` (whole dataset through one
  * task) and accidental nested-loop joins — must not regress. Runs on the
  * sf0.001 fixtures, asserting on the pre-execution physical plan text.
  */
class PlanGuardSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Queries whose plans must stay free of single-partition windows and
    * nested-loop joins. q09 (cross join) and q45 (category-dictionary
    * window over <= #categories rows) are excluded by design; s01 builds a
    * streaming query and d11 generates driver-side fixtures — both too
    * heavy for a plan sweep. */
  private val guarded = Seq(
    "q01_agg", "q02_project_arith", "q04_sort_topk", "q06_join_star",
    "q07_join_left_agg", "q10_cumulative", "q13_rank", "q26_asof_join",
    "q28_slice", "q31_ewm", "q38_peaks_rowindex", "q39_head_grouped",
    "q42_spearman", "q44_concat_columns", "q51_sort_nils", "q52_cut_frame",
    "q54_positional", "q55_math_funcs", "q59_range_join",
    "q60_series_utils", "q61_argsort", "q63_time_slice",
    "d01_exact_dedup", "d05_minhash_pairs", "d07_ngram_jaccard",
    "d09_lsh_topk", "d13_embedding_neardup", "d14_ivf_topk",
    "d17_normalize", "d18_vocabulary", "d19_tfidf",
    "d21_repetition", "d22_scrub", "d23_contamination", "d24_dedup_lines",
    "d28_hash_split", "d29_mixture", "d30_dedup_against", "d32_topk_sample",
    "d51_index_dedup",
    "d33_chunk", "d36_quantize", "d40_dedup_spans", "d41_gopher_rules",
    "d42_top_ngrams", "d43_ivf_disk_index")

  /** Lines of the subtree rooted at line `i` (children print below with
    * deeper operator indentation until a line at or above the root's). */
  private def subtree(lines: Array[String], i: Int): Seq[String] = {
    def depth(l: String): Int = {
      val idx = l.indexWhere(c => c != ' ' && c != ':' && c != '+' && c != '-')
      if (idx < 0) l.length else idx
    }
    val d0 = depth(lines(i))
    lines.drop(i + 1).takeWhile(l => depth(l) > d0).toSeq
  }

  /** Drop the subtrees of scalar `Subquery` nodes: a scalar subquery's own
    * global aggregate legitimately exchanges to a single partition (it
    * produces ONE row) and is printed inline under its consumer — without
    * this the guard would flag e.g. a corpus-count subquery as the
    * window's input exchange. */
  private def withoutSubqueries(lines: Seq[String]): Seq[String] = {
    def depth(l: String): Int = {
      val idx = l.indexWhere(c => c != ' ' && c != ':' && c != '+' && c != '-')
      if (idx < 0) l.length else idx
    }
    val out = Seq.newBuilder[String]
    var skipDeeperThan = -1
    for (l <- lines) {
      val d = depth(l)
      if (skipDeeperThan >= 0 && d <= skipDeeperThan) skipDeeperThan = -1
      if (skipDeeperThan < 0) {
        if (l.contains("Subquery subquery#")) skipDeeperThan = d
        else out += l
      }
    }
    out.result()
  }

  /** A Window whose FIRST exchange below is SinglePartition = the whole
    * dataset funneling through one task. */
  private def singlePartitionWindows(plan: String): Seq[String] = {
    val lines = plan.linesIterator.toArray
    lines.indices.filter { i =>
      val l = lines(i)
      (l.contains("Window") || l.contains("WindowGroupLimit")) && {
        withoutSubqueries(subtree(lines, i)).find(_.contains("Exchange"))
          .exists(_.contains("SinglePartition"))
      }
    }.map(lines)
  }

  test("filter pushdown reaches the parquet scan (q03)") {
    val plan = SparkEntry.queries("q03_filter_predicates")(spark, dir)
      .queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters: ["))
      .mkString("\n")
    assert(pushed.nonEmpty && !pushed.contains("PushedFilters: []"),
      s"no pushed filters:\n$plan")
    assert(pushed.contains("GreaterThan(l_quantity") ||
      pushed.contains("In(l_returnflag"), pushed)
  }

  test("q63 time slice: the ts bound reaches the parquet scan as a pushed " +
      "filter (r8 verdict watch #3 — a filter on the normalized " +
      "unix_micros(ts)*1000 projection would force a full scan at 100 TB)") {
    val plan = SparkEntry.queries("q63_time_slice")(spark, dir)
      .queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters: ["))
      .filter(l => l.contains("(ts") || l.contains("ts,") || l.contains("ts)"))
      .mkString("\n")
    assert(pushed.contains("GreaterThanOrEqual(ts") &&
      pushed.contains("LessThan(ts"),
      s"ts slice not pushed to the scan:\n$plan")
  }

  test("column pruning reaches the parquet scan (q01 reads 6 of 11 columns)") {
    val plan = SparkEntry.queries("q01_agg")(spark, dir)
      .queryExecution.executedPlan.toString
    val read = plan.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n")
    assert(read.nonEmpty, plan)
    for (unused <- Seq("l_partkey", "l_suppkey", "l_orderkey"))
      assert(!read.contains(unused), s"unpruned column $unused:\n$read")
  }

  test("d09 lshTopK: banded explode + candidate distinct carry ids only " +
      "(r3 verdict #4: no vector payload below the distinct)") {
    val plan = SparkEntry.queries("d09_lsh_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    val explodes = plan.linesIterator
      .filter(_.contains("Generate posexplode")).toSeq
    assert(explodes.nonEmpty, s"no banded explode found:\n$plan")
    for (g <- explodes)
      assert(!g.contains("embedding") && !g.contains("__cv") && !g.contains("__qv"),
        s"vector payload replicated through the banded explode:\n$g")
    val distincts = plan.linesIterator
      .filter(_.contains("HashAggregate(keys=[corpus_id")).toSeq
    assert(distincts.nonEmpty, s"no candidate distinct found:\n$plan")
    for (d <- distincts)
      assert(!d.contains("embedding") && !d.contains("__cv") && !d.contains("__qv"),
        s"vector payload inside the candidate distinct:\n$d")
  }

  /** Executed plans of every action `body` runs. Listener events arrive
    * asynchronously, in order: a trailing sentinel action marks the end. */
  private def actionPlans(body: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def sentinelSeen = seen.asScala.exists(
      _.analyzed.output.exists(_.name == "__plan_sentinel"))
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("__plan_sentinel").collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(sentinelSeen, "query execution listener events never arrived")
    seen.asScala.map(_.executedPlan).toSeq
  }

  /** Every node of an executed plan, through AQE query stages, reused
    * exchanges, cached relations and subqueries. */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case o => o.children ++ o.subqueries
    }).flatMap(planNodes)
  }

  /** The executed plan of a pair query's verification, after the query
    * ran: the frame's own plan, or for d16 (dedupNear) the executed action
    * plan that holds the band fold — its verification runs inside
    * duplicateClusters' eager edge checkpoint, never in the returned
    * frame. */
  private def verificationPlan(name: String): String =
    if (name != "d16_dedup_near") {
      val df = SparkEntry.queries(name)(spark, dir)
      // execute THIS QueryExecution so AQE finalizes it — stage reuse is
      // a runtime decision (df.write would plan a fresh clone and leave
      // df's own plan isFinalPlan=false)
      df.collect()
      df.queryExecution.executedPlan.toString
    } else
      actionPlans(SparkEntry.queries(name)(spark, dir).collect())
        .map(_.toString).find(_.contains("capped_sorted_ids"))
        .getOrElse(fail("d16 ran no plan holding the band fold"))

  /** Cache-free single-DAG verification (r6 verdict: the unconditional
    * pins cost d13 2.3x for nothing); the MinHash and n-gram pair queries
    * share the verifier. */
  private val cacheFree = "cache-free single-DAG verification — no " +
    "InMemoryTableScan, no binding repartition, candidate subtree shared " +
    "via exchange/stage reuse"
  private val verifierGuarded = Seq(
    "d13_embedding_neardup" -> (s"d13 embedding near-dup: $cacheFree " +
      "(r6 verdict: the unconditional pins cost d13 2.3x for nothing)"),
    "d05_minhash_pairs" -> s"d05 MinHash pairs: $cacheFree",
    "d07_ngram_jaccard" -> s"d07 n-gram Jaccard pairs: $cacheFree",
    "d16_dedup_near" -> s"d16 dedupNear pairs: $cacheFree")

  for ((name, title) <- verifierGuarded)
    test(title) {
      val plan = verificationPlan(name)
      assert(!plan.contains("InMemoryTableScan"),
        s"$name verification path went through a cache:\n$plan")
      assert(!plan.contains("REPARTITION_BY_NUM"),
        s"$name still carries a binding repartition:\n$plan")
      // the banded candidate subtree is consumed from multiple places in
      // ONE DAG; it must be computed once — visible as a ReusedExchange
      // (static planning) or a repeated ShuffleQueryStage id (AQE)
      val stage = raw"ShuffleQueryStage (\d+)".r
      val stageIds = stage.findAllMatchIn(plan).map(_.group(1)).toSeq
      val reused = plan.contains("ReusedExchange") ||
        stageIds.distinct.size < stageIds.size
      assert(reused, s"$name candidate subtree not reused:\n$plan")
      // ...and the band/posting fold under it runs as ONE shuffle stage
      val lines = plan.linesIterator.toArray
      val foldStages = lines.indices
        .filter(i => i + 2 < lines.length &&
          lines(i + 2).contains("partial_capped_sorted_ids"))
        .flatMap(i => stage.findFirstMatchIn(lines(i)).map(_.group(1)))
        .distinct
      assert(foldStages.size == 1,
        s"$name band fold runs in stages ${foldStages.mkString(", ")}:\n$plan")
    }

  test("d09 lshTopK: candidate table cached once (column pruning " +
      "specializes the three consumer copies, defeating exchange reuse — " +
      "the cache is what keeps the corpus banding scan single-pass) and " +
      "the vector sides carry no forced repartition") {
    val df = SparkEntry.queries("d09_lsh_topk")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TableCacheQueryStage") ||
        plan.contains("InMemoryTableScan"),
      s"d09 candidate table no longer cached — banding scan runs 3x:\n$plan")
    // exactly the one layout-pinning repartition (inside the cached
    // relation), none on the vector lookup sides
    val pins = plan.linesIterator.count(_.contains("REPARTITION_BY_NUM"))
    assert(pins <= 1, s"d09 carries forced vector-side repartitions:\n$plan")
    spark.catalog.clearCache()
  }

  test("d23 contamination: bench postings broadcast — the corpus side " +
      "streams through the match join without shuffling") {
    val plan = SparkEntry.queries("d23_contamination")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join in contamination:\n$plan")
  }

  test("hashSplit is a pure scan expression — no exchange, no sort, no join") {
    import org.apache.spark.sql.{functions => F}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.Sampling.hashSplit(docs, F.col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s42")
      .queryExecution.executedPlan.toString
    for (op <- Seq("Exchange", "Sort", "Join"))
      assert(!plan.contains(op), s"hashSplit plan contains $op:\n$plan")
  }

  test("gopherFilter is a pure scan-side gate — no exchange, no sort, no join") {
    import org.apache.spark.sql.{functions => F}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.TextAnalysis
      .gopherFilter(docs, F.col("text"))
      .queryExecution.executedPlan.toString
    for (op <- Seq("Exchange", "Sort", "Join"))
      assert(!plan.contains(op), s"gopherFilter plan contains $op:\n$plan")
  }

  test("bloomGate is a scan-side filter — no join or shuffle in the gated plan") {
    import org.apache.spark.sql.{functions => F}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.Dedup.bloomGate(docs, F.col("text"),
      docs.limit(20), F.col("text"), expectedItems = 20L, fpp = 0.01)
      .queryExecution.executedPlan.toString
    for (op <- Seq("Exchange", "Join"))
      assert(!plan.contains(op), s"bloomGate plan contains $op:\n$plan")
    assert(plan.contains("might_contain"),
      s"bloom predicate not folded into the scan plan:\n$plan")
  }

  test("d29 mixture: admission joins back as a broadcast semi-join — the " +
      "corpus never shuffle-joins") {
    val plan = SparkEntry.queries("d29_mixture")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"no broadcast semi-join admission:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join in mixture:\n$plan")
  }

  test("chunk is scan-side row expansion — no exchange, no join") {
    import org.apache.spark.sql.{functions => F}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.TextAnalysis.chunk(docs, F.col("doc_id"),
      F.col("text"), size = 40, overlap = 8)
      .queryExecution.executedPlan.toString
    for (op <- Seq("Exchange", "Join"))
      assert(!plan.contains(op), s"chunk plan contains $op:\n$plan")
    assert(plan.contains("Generate explode"), s"no scan-side explode:\n$plan")
  }

  test("d32 topKByHash plans as WindowGroupLimit — map-side top-k pruning " +
      "before the shuffle, no full per-domain sort-and-number") {
    val plan = SparkEntry.queries("d32_topk_sample")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing:\n$plan")
  }

  test("quantile gates: approx_percentile sketch on the default path, " +
      "exact percentile only on opt-in") {
    import org.apache.spark.sql.{functions => F}
    // exact `percentile` buffers the full value multiset in one merge
    // buffer — the default (100 TB) path must plan the GK sketch instead
    val exactPct = "(?<!approx_)percentile\\(".r
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val score = F.length(F.col("text")).cast("double")
    val approxPlan = graft.operators.TextAnalysis
      .quantileFilter(docs, score, 0.5)
      .queryExecution.executedPlan.toString
    assert(approxPlan.contains("approx_percentile"),
      s"default gate does not plan the sketch:\n$approxPlan")
    assert(exactPct.findFirstIn(approxPlan).isEmpty,
      s"exact percentile on the default gate path:\n$approxPlan")
    val exactPlan = graft.operators.TextAnalysis
      .quantileFilter(docs, score, 0.5, exact = true)
      .queryExecution.executedPlan.toString
    assert(exactPct.findFirstIn(exactPlan).nonEmpty,
      s"exact=true did not plan the exact percentile:\n$exactPlan")
    val statsPlan = graft.operators.TextAnalysis
      .corpusStats(docs, F.col("text"))
      .queryExecution.executedPlan.toString
    assert(statsPlan.contains("approx_percentile") &&
      exactPct.findFirstIn(statsPlan).isEmpty,
      s"corpusStats default path not on the sketch:\n$statsPlan")
    // the registered approx twins really run the sketch path
    for (name <- Seq("d38_quality_gate_approx", "d39_corpus_stats_approx")) {
      val p = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(p.contains("approx_percentile") &&
        exactPct.findFirstIn(p).isEmpty,
        s"$name not on the sketch path:\n$p")
    }
  }

  /** Queries whose BroadcastNestedLoopJoin is DELIBERATE, not an
    * accidental degeneration: exhaustive-probe IVF (r15) routes to the
    * brute scorer — a broadcast of the driver-small query set streamed
    * against the corpus scan, the same sanctioned shape as d04's
    * bruteForceTopK (which was never guarded for exactly this reason).
    * The single-partition-window guard still applies to them. */
  private val deliberateBnlj = Set("d14_ivf_topk", "d43_ivf_disk_index")

  for (name <- guarded)
    test(s"$name: no single-partition window, no nested-loop join") {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      val offenders = singlePartitionWindows(plan)
      assert(offenders.isEmpty,
        s"single-partition window in $name:\n${offenders.mkString("\n")}\n$plan")
      if (!deliberateBnlj.contains(name))
        assert(!plan.contains("NestedLoop"),
          s"nested-loop join in $name:\n$plan")
      else
        assert(plan.contains("BroadcastNestedLoopJoin"),
          s"$name expected the routed brute shape (broadcast queries " +
            s"against the corpus scan):\n$plan")
    }

  /** Runs a three-trigger ingest stream and checks how it reads the index:
    * every scan of `idx/<table>` for each of `tables` is a parquet file
    * scan pruned by a `seg` partition filter, each trigger's in-flight
    * segment appears in such a filter, and no scan of an existing RDD
    * carrying `seg` (a segment snapshot) feeds any plan. foreachBatch
    * hands each trigger its batch as an existing RDD, which carries no
    * `seg`. */
  private def assertSegPrunedProbes(idx: String, tables: Seq[String])(
      run: => String): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
    var prefix = ""
    val nodes = actionPlans { prefix = run }.flatMap(planNodes)
    val snapshots = nodes.collect {
      case r: RDDScanExec if r.output.exists(_.name == "seg") => r }
    assert(snapshots.isEmpty,
      s"snapshot scans feed the triggers:\n${snapshots.mkString("\n")}")
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    for (t <- tables) {
      val root = new org.apache.hadoop.fs.Path(s"$idx/$t").toUri.getPath
      val probes = scans.filter(_.relation.location.rootPaths
        .exists(_.toUri.getPath == root))
      assert(probes.nonEmpty, s"no parquet scan of $root")
      for (s <- probes)
        assert(s.partitionFilters.exists(_.references.exists(_.name == "seg")),
          s"$t scan without a seg partition filter:\n$s")
      for (k <- 0 until 3) {
        val seg = s"${prefix}_b$k"
        assert(probes.exists(_.partitionFilters.mkString.contains(seg)),
          s"trigger $k did not probe $t through a scan excluding $seg")
      }
    }
  }

  test("ingestDedupStream probes features and postings through seg-pruned " +
      "parquet scans under explicit schemas, never through snapshots; a " +
      "type-mismatched layout fails at scan time") {
    import graft.operators.Dedup
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog while the sun " +
      "sets slowly behind the distant purple mountains"
    val d = java.nio.file.Files.createTempDirectory("graft_probeplan").toString
    val idx = s"$d/idx"
    Dedup.writeMinhashIndex(Seq((100L, text)).toDF("doc_id", "text"),
      F.col("doc_id"), F.col("text"), idx, shingleSize = 3, numHashes = 64,
      bands = 16)
    val feed = new java.io.File(s"$d/feed"); feed.mkdirs()
    val fresh = Seq(
      "completely unrelated text about database query optimization and " +
        "distributed systems running on large compute clusters",
      "short interlude about cooking pasta properly al dente tonight with " +
        "garlic and fresh basil from the garden",
      "a travel note on trains crossing alpine passes in winter with snow " +
        "piled high beside the narrow tracks")
    val batches = (0 until 3).map(k =>
      Seq((2L * k, text.replace("slowly", s"slowly $k")),
        (2L * k + 1, fresh(k))).toDF("doc_id", "text"))
    batches.zipWithIndex.foreach { case (b, k) =>
      shipFeed(b, feed, k, s"$d/tmp$k") }
    assertSegPrunedProbes(idx, Seq("features", "postings")) {
      graft.streaming.Streams.ingestDedupStream(
        graft.streaming.Streams.readParquetStream(spark, feed.toString,
          batches.head.schema),
        F.col("doc_id"), F.col("text"), idx, s"$d/out", threshold = 0.5,
        name = "probe_plan_dedup")
    }
    assert(col1[Long](spark.read.parquet(s"$d/out").orderBy("doc_id"),
      "doc_id") === Seq(1L, 3L, 5L))
    // a features table whose shingle hashes are strings: the explicit
    // schema does not coerce it, the scan refuses it
    Seq((7L, Seq("a", "b"))).toDF("id", "sh").withColumn("seg", F.lit("base"))
      .write.mode("overwrite").partitionBy("seg").parquet(s"$idx/features")
    val e = intercept[org.apache.spark.SparkException](
      Dedup.dedupAgainstIndex(batches.head, F.col("doc_id"), F.col("text"),
        idx, threshold = 0.5).collect())
    assert(e.getMessage.contains("PARQUET_COLUMN_DATA_TYPE_MISMATCH"),
      e.getMessage)
  }

  test("ingestEmbedStream probes assigned through seg-pruned parquet " +
      "scans, never through snapshots") {
    import graft.operators.Similarity
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    def axis(i: Int): Seq[Double] =
      Seq.tabulate(8)(j => if (j == i) 1.0 else 0.01 * (j + 1))
    val d = java.nio.file.Files.createTempDirectory("graft_eprobeplan").toString
    val idx = s"$d/idx"
    Similarity.writeIvfIndex(Seq((100L, axis(0))).toDF("vec_id", "embedding"),
      F.col("vec_id"), F.col("embedding"), idx, nlist = 2, trainSample = 10)
    val feed = new java.io.File(s"$d/feed"); feed.mkdirs()
    val batches = (0 until 3).map(k =>
      Seq((2L * k, axis(0).map(_ * 2.0)), (2L * k + 1, axis(k + 1)))
        .toDF("vec_id", "embedding"))
    batches.zipWithIndex.foreach { case (b, k) =>
      shipFeed(b, feed, k, s"$d/tmp$k") }
    assertSegPrunedProbes(idx, Seq("assigned")) {
      graft.streaming.Streams.ingestEmbedStream(
        graft.streaming.Streams.readParquetStream(spark, feed.toString,
          batches.head.schema),
        F.col("vec_id"), F.col("embedding"), idx, s"$d/out",
        threshold = 0.999, name = "probe_plan_embed")
    }
    assert(col1[Long](spark.read.parquet(s"$d/out").orderBy("vec_id"),
      "vec_id") === Seq(1L, 3L, 5L))
    // an assigned table whose vectors are strings: the schema the meta
    // stamps does not coerce it, the scan refuses it
    Seq((7L, Seq("a", "b"))).toDF("corpus_id", "cv")
      .withColumn("seg", F.lit("base")).withColumn("cell", F.lit(0))
      .write.mode("overwrite").partitionBy("seg", "cell")
      .parquet(s"$idx/assigned")
    val e = intercept[org.apache.spark.SparkException](
      Similarity.searchIvfIndex(spark, idx, batches.head, F.col("vec_id"),
        F.col("embedding"), k = 1).collect())
    assert(e.getMessage.contains("PARQUET_COLUMN_DATA_TYPE_MISMATCH"),
      e.getMessage)
  }

  test("dedupAgainstIndex over a union batch (d51's shape) verifies its " +
      "candidates once, not once per union branch") {
    import graft.operators.Dedup
    import org.apache.spark.sql.{DataFrame, functions => F}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_union_probe")
      .toString
    Dedup.writeMinhashIndex(docs.filter(F.col("doc_id") % 2 === 0),
      F.col("doc_id"), F.col("text"), idx, shingleSize = 3, numHashes = 64,
      bands = 8)
    val odd = docs.filter(F.col("doc_id") % 2 === 1)
    val union = odd.unionAll(docs
      .filter(F.col("doc_id") % 2 === 0 && F.col("doc_id") < 50)
      .select((F.col("doc_id") + 1000000L).as("doc_id"), F.col("text")))
    // executed nodes computing the Jaccard: each query stage counted
    // once, reused exchanges not followed
    def verifications(batch: DataFrame): Int = {
      val df = Dedup.dedupAgainstIndex(batch, F.col("doc_id"),
        F.col("text"), idx, threshold = 0.8)
      assert(df.collect().nonEmpty)
      val stages = scala.collection.mutable.Set.empty[Int]
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case s: QueryStageExec => if (stages.add(s.id)) nodes(s.plan) else Nil
        case _: ReusedExchangeExec => Nil
        case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
      }
      nodes(df.queryExecution.executedPlan).count(
        _.expressions.exists(_.toString.contains("array_intersect")))
    }
    val once = verifications(odd)
    assert(once >= 1)
    assert(verifications(union) == once)
  }

  /** Description and start-time plan of every SQL execution `body` starts
    * (the plan AQE begins from, which already holds every scan and cache
    * read). Listener events arrive asynchronously, in order: a trailing
    * sentinel execution marks the end. */
  private def describedExecutions(body: => Unit)
      : Seq[(String, org.apache.spark.sql.execution.SparkPlanInfo)] = {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      SparkListenerSQLExecutionStart]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => seen.add(s)
        case _ => ()
      }
    }
    def sentinelSeen = seen.asScala.exists(_.description == "__plan_sentinel")
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription("__plan_sentinel")
      try spark.range(1).collect()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(sentinelSeen, "listener events never arrived")
    seen.asScala.filter(_.description != "__plan_sentinel")
      .map(s => (s.description, s.sparkPlanInfo)).toSeq
  }

  private def infoNodes(p: org.apache.spark.sql.execution.SparkPlanInfo)
      : Seq[org.apache.spark.sql.execution.SparkPlanInfo] =
    p +: p.children.flatMap(infoNodes)

  /** Runs a three-trigger ingest stream and checks each trigger's "index
    * append" executions: together they scan the survivors the trigger
    * wrote to `out/batch=<seg>`, and none reads a cache or the
    * foreachBatch batch itself (an existing-RDD scan) — the probe is never
    * re-run by the append. Returns every execution the run started. */
  private def assertAppendsFromWrittenSurvivors(out: String)(run: => String)
      : Seq[(String, org.apache.spark.sql.execution.SparkPlanInfo)] = {
    var prefix = ""
    val execs = describedExecutions { prefix = run }
    val outPath = new org.apache.hadoop.fs.Path(out).toUri.getPath
    for (k <- 0 until 3) {
      val appends = execs.filter(_._1.endsWith(s"batch = $k: index append"))
        .map(e => infoNodes(e._2))
      assert(appends.nonEmpty, s"trigger $k ran no index append execution")
      val written = s"$outPath/batch=${prefix}_b$k"
      assert(appends.flatten.exists(n =>
          n.metadata.get("Location").exists(_.contains(written))),
        s"trigger $k's index append never scans $written:\n" +
          appends.flatten.map(_.simpleString).mkString("\n"))
      for (n <- appends.flatten)
        assert(!n.nodeName.contains("InMemoryTableScan") &&
          !n.nodeName.contains("ExistingRDD"),
          s"trigger $k's index append re-reads the batch or a cache: " +
            n.simpleString)
    }
    execs
  }

  test("ingest triggers are cache-free: the dedup trigger reads no cache, " +
      "and both streams append the index from the written survivors") {
    import graft.operators.{Dedup, Similarity}
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_cachefree").toString
    val text = "the quick brown fox jumps over the lazy dog while the sun " +
      "sets slowly behind the distant purple mountains"
    Dedup.writeMinhashIndex(Seq((100L, text)).toDF("doc_id", "text"),
      F.col("doc_id"), F.col("text"), s"$d/idx", shingleSize = 3,
      numHashes = 64, bands = 16)
    val fresh = Seq(
      "completely unrelated text about database query optimization and " +
        "distributed systems running on large compute clusters",
      "short interlude about cooking pasta properly al dente tonight with " +
        "garlic and fresh basil from the garden",
      "a travel note on trains crossing alpine passes in winter with snow " +
        "piled high beside the narrow tracks")
    val docs = (0 until 3).map(k =>
      Seq((2L * k, text.replace("slowly", s"slowly $k")),
        (2L * k + 1, fresh(k))).toDF("doc_id", "text"))
    def axis(i: Int): Seq[Double] =
      Seq.tabulate(8)(j => if (j == i) 1.0 else 0.01 * (j + 1))
    Similarity.writeIvfIndex(Seq((100L, axis(0))).toDF("vec_id", "embedding"),
      F.col("vec_id"), F.col("embedding"), s"$d/eidx", nlist = 2,
      trainSample = 10)
    val vecs = (0 until 3).map(k =>
      Seq((2L * k, axis(0).map(_ * 2.0)), (2L * k + 1, axis(k + 1)))
        .toDF("vec_id", "embedding"))
    val feed = new java.io.File(s"$d/feed"); feed.mkdirs()
    val efeed = new java.io.File(s"$d/efeed"); efeed.mkdirs()
    for (k <- 0 until 3) {
      shipFeed(docs(k), feed, k, s"$d/tmp$k")
      shipFeed(vecs(k), efeed, k, s"$d/etmp$k")
    }
    val dedupExecs = assertAppendsFromWrittenSurvivors(s"$d/out") {
      graft.streaming.Streams.ingestDedupStream(
        graft.streaming.Streams.readParquetStream(spark, feed.toString,
          docs.head.schema),
        F.col("doc_id"), F.col("text"), s"$d/idx", s"$d/out",
        threshold = 0.5, name = "cache_free_dedup")
    }
    val cached = dedupExecs.filter(e =>
      infoNodes(e._2).exists(_.nodeName.contains("InMemoryTableScan")))
    assert(cached.isEmpty, "dedup trigger executions read a cache:\n" +
      cached.map(_._1).mkString("\n"))
    assert(col1[Long](spark.read.parquet(s"$d/out").orderBy("doc_id"),
      "doc_id") === Seq(1L, 3L, 5L))
    assertAppendsFromWrittenSurvivors(s"$d/eout") {
      graft.streaming.Streams.ingestEmbedStream(
        graft.streaming.Streams.readParquetStream(spark, efeed.toString,
          vecs.head.schema),
        F.col("vec_id"), F.col("embedding"), s"$d/eidx", s"$d/eout",
        threshold = 0.999, name = "cache_free_embed")
    }
    assert(col1[Long](spark.read.parquet(s"$d/eout").orderBy("vec_id"),
      "vec_id") === Seq(1L, 3L, 5L))
  }
}
