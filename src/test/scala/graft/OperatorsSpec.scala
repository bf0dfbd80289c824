package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import graft.operators._

/** Training-data pipeline operators: dedup, similarity, text, multimodal. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps lowest id per key") {
    val d = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("id", "t")
    val out = Dedup.exact(d, F.col("t"), F.col("id"))
    assert(col1[Long](out.orderBy("id"), "id") == Seq(1L, 3L))
  }

  test("shingles produce distinct word n-grams") {
    val d = Seq("a b c d").toDF("t")
      .select(Dedup.shingles(F.col("t"), 2).as("sh"))
    assert(d.collect()(0).getSeq[String](0).toSet ==
      Set("a b", "b c", "c d"))
  }

  test("lshPlan picks the s-curve midpoint closest to the threshold") {
    // 64 hashes, threshold 0.8: midpoints are (1/b)^(b/64) over divisors;
    // 8x8 gives 0.771 — the closest, and exactly d05's banding
    val (b, r, mid) = Dedup.lshPlan(64, 0.8)
    assert((b, r) == (8, 8))
    assert(math.abs(mid - math.pow(1.0 / 8, 1.0 / 8)) < 1e-12)
    // a low threshold wants many narrow bands; a high one wants few wide
    assert(Dedup.lshPlan(64, 0.2)._1 > 8)
    assert(Dedup.lshPlan(64, 0.95)._1 < 8)
    // the planner's midpoint is always the best divisor's
    val all = (1 to 64).filter(64 % _ == 0)
      .map(bb => math.pow(1.0 / bb, bb / 64.0))
    assert(all.map(m => math.abs(m - 0.8)).min ==
      math.abs(Dedup.lshPlan(64, 0.8)._3 - 0.8))
  }

  test("hyperplanePlan: cosine midpoints, monotone band counts") {
    // 64 planes at cosine ~0.94: 4 bands x 16 rows (d13's banding)
    val (b, r, mid) = Similarity.hyperplanePlan(64, 0.94)
    assert((b, r) == (4, 16))
    assert(mid > 0.9 && mid < 0.98)
    // near-identical threshold -> fewer, wider bands; looser -> more bands
    assert(Similarity.hyperplanePlan(64, 0.999)._1 <= 2)
    assert(Similarity.hyperplanePlan(64, 0.5)._1 > 4)
    // midpoint formula sanity: one 64-bit band fires at p = 0.5^(1/64)
    val (_, _, one) = Similarity.hyperplanePlan(64, 0.9995)
    assert(math.abs(one -
      math.cos(math.Pi * (1.0 - math.pow(0.5, 1.0 / 64)))) < 1e-12)
  }

  test("dedup and text operators return empty results on an empty corpus") {
    val empty = Seq.empty[(Long, String)].toDF("id", "t")
    assert(Dedup.exact(empty, F.col("t"), F.col("id")).count() == 0)
    assert(Dedup.minhashDuplicatePairs(empty, F.col("id"), F.col("t"),
      threshold = 0.8).count() == 0)
    assert(Dedup.ngramJaccardPairs(empty, F.col("id"), F.col("t"),
      shingleSize = 3, threshold = 0.8).count() == 0)
    assert(Dedup.dedupSpans(empty, F.col("id"), F.col("t"),
      k = 8, minDocs = 2).count() == 0)
    assert(TextAnalysis.topNgrams(empty, F.col("t")).count() == 0)
    assert(TextAnalysis.gopherFilter(empty, F.col("t")).count() == 0)
    assert(TextAnalysis.vocabulary(empty, F.col("id"), F.col("t"))
      .count() == 0)
    assert(TextAnalysis.chunk(empty, F.col("id"), F.col("t"), size = 10)
      .count() == 0)
  }

  test("minhash signature equal for equal shingle sets, length numHashes") {
    val d = Seq("x y z", "x y z", "totally different words").toDF("t")
      .select(Dedup.minhashSignature(
        Dedup.shingles(F.col("t"), 2), 16).as("sig"))
    val sigs = d.collect().map(_.getSeq[Long](0))
    assert(sigs(0).length == 16)
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("minhash LSH finds planted near-duplicates, skips unrelated") {
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the sun sets slowly behind the distant purple mountains"
    val nearDup = base.replace("slowly", "quickly")
    val other = "completely unrelated text about database query optimization " +
      "and distributed systems running on large compute clusters"
    val d = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("id", "text")
    val pairs = Dedup.minhashDuplicatePairs(d, F.col("id"), F.col("text"),
      threshold = 0.5, shingleSize = 3, numHashes = 64, bands = 16)
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("normalize: lowercase, NFD accent strip, whitespace collapse") {
    val d = Seq("  Crème  BRÛLÉE\tà gogo ", "ünïcödé", "plain").toDF("t")
      .select(TextAnalysis.normalize(F.col("t")).as("n"))
    assert(col1[String](d, "n") ==
      Seq("creme brulee a gogo", "unicode", "plain"))
  }

  test("vocabulary: doc_freq banding + term_freq totals") {
    val d = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "banana date")).toDF("id", "t")
    // banana df=3 (> 0.67*3=2) is banded out; singletons df=1 < minDf=2 out
    val v = TextAnalysis.vocabulary(d, F.col("id"), F.col("t"),
      minDf = 2L, maxDfRatio = 0.67)
    assert(v.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet == Set.empty)
    val v2 = TextAnalysis.vocabulary(d, F.col("id"), F.col("t"),
      minDf = 2L, maxDfRatio = 1.0)
    assert(v2.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet == Set(("banana", 3L, 3L)))
    val all = TextAnalysis.vocabulary(d, F.col("id"), F.col("t"))
    assert(all.filter(F.col("token") === "apple").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L)))
    // empty/whitespace-only docs contribute NO token (an unguarded
    // split(trim('')) would mint a bogus "" token); same for tfidf
    val withEmpty = d.unionByName(Seq((4L, ""), (5L, "   "))
      .toDF("id", "t"))
    assert(TextAnalysis.vocabulary(withEmpty, F.col("id"), F.col("t"))
      .filter(F.col("token") === "").count() == 0)
    assert(TextAnalysis.tfidfTopTerms(withEmpty, F.col("id"), F.col("t"),
      k = 3).filter(F.col("token") === "").count() == 0)
  }

  test("tfidf top terms: rare terms outrank common ones, deterministic") {
    val d = Seq((1L, "rare common common"), (2L, "common other"),
      (3L, "common third")).toDF("id", "t")
    val top = TextAnalysis.tfidfTopTerms(d, F.col("id"), F.col("t"),
      k = 2, maxDfRatio = 1.0)
    val doc1 = top.filter(F.col("doc_id") === 1L).orderBy("rank").collect()
    // "rare" (df=1, idf=ln 3) beats "common" (df=3, idf=0 → score 0)
    assert(doc1.map(_.getString(1)).toSeq == Seq("rare", "common"))
    assert(doc1.head.getDouble(2) > doc1.last.getDouble(2))
  }

  test("duplicateClusters: min-label connected components over pairs") {
    // two components: {1,2,3} via chain 1-2, 2-3 (diameter 2, needs
    // propagation past one hop) and {7,9}; 5 is unpaired → absent
    val pairs = Seq((2L, 1L), (2L, 3L), (9L, 7L))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  /** The pair frame is the expensive LSH + verification pipeline in
    * dedupNear; a counting UDF stands in for it. `cc` must evaluate it
    * once per pair row, however often its cluster table is consumed. */
  private def evaluatesPairsOnce(cc: DataFrame => DataFrame): Unit = {
    val evals = spark.sparkContext.longAccumulator("cc_pair_evals")
    val counted = F.udf { (x: Long) => evals.add(1L); x }.asNondeterministic()
    val pairs = Seq((2L, 1L), (2L, 3L), (9L, 7L), (4L, 4L))
      .toDF("id_a", "id_b").withColumn("id_a", counted(F.col("id_a")))
    val clusters = cc(pairs)
    // two consumers, as dedupNearKeepBest uses its cluster table: the
    // winner election over members, then the loser anti-join
    val members = Seq(1L, 2L, 3L, 4L, 7L, 9L).toDF("id").join(clusters, "id")
    val winners = members.groupBy("cluster").agg(F.max("id").as("keep"))
    val losers = clusters
      .join(winners, F.col("id") === F.col("keep"), "left_anti")
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(losers == Seq(1L, 2L, 7L))
    assert(evals.value == 4L,
      s"pair input evaluated ${evals.value} times for 4 pair rows")
  }

  test("duplicateClusters evaluates its pair input once per pair row, " +
      "however often the cluster table is consumed") {
    evaluatesPairsOnce(Dedup.duplicateClusters(_))
  }

  // each route forced through the driver bound (0 bytes: distributed
  // rounds; Long.MaxValue: the driver finish)
  for ((route, bound) <- Seq("distributed" -> 0L, "driver" -> Long.MaxValue))
    test(s"connected components on the $route route evaluate their pair " +
        "input once") {
      evaluatesPairsOnce(Dedup.starClusters(_, 30, bound))
    }

  test("a small pair graph finishes on the driver: the edge checkpoint " +
      "and one collect, returned as a local relation") {
    val pairs = Seq((2L, 1L), (2L, 3L), (9L, 7L), (4L, 4L)).toDF("id_a", "id_b")
    var clusters: DataFrame = null
    val jobs = jobsDuring { clusters = Dedup.duplicateClusters(pairs) }
    assert(jobs <= 2, s"$jobs jobs for a 4-pair graph")
    assert(clusters.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(jobsDuring(clusters.collect()) == 0)
  }

  test("dedupNear keeps one canonical doc per near-dup family") {
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the sun sets slowly behind the distant purple mountains"
    val d = Seq(
      (1L, base),
      (2L, base.replace("slowly", "quickly")),
      (3L, base.replace("sun", "moon")),
      (9L, "completely unrelated text about database query optimization " +
        "and distributed systems running on large compute clusters"))
      .toDF("id", "text")
    val kept = Dedup.dedupNear(d, F.col("id"), F.col("text"),
      threshold = 0.5, numHashes = 64, bands = 16)
    assert(col1[Long](kept.orderBy("id"), "id") == Seq(1L, 9L))
  }

  test("dedupNearKeepBest keeps the best-scoring member; score ties fall " +
      "to the smallest id; null scores lose; unpaired rows survive") {
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the sun sets slowly behind the distant purple mountains"
    val other = "completely unrelated text about database query " +
      "optimization and distributed systems running on large compute clusters"
    val d = Seq(
      // family {1,2,3}: 2 has the highest score — must win over min-id 1
      (1L, base, Some(0.3)),
      (2L, base.replace("slowly", "quickly"), Some(0.9)),
      (3L, base.replace("sun", "moon"), Some(0.5)),
      // family {4,5}: scores tie — the SMALLER id wins
      (4L, other, Some(0.7)),
      (5L, other.replace("large", "huge"), Some(0.7)),
      (9L, "unpaired short row of totally different words entirely " +
        "about cooking pasta with garlic butter and fresh sage leaves",
        Option.empty[Double]))
      .toDF("id", "text", "score")
    val kept = Dedup.dedupNearKeepBest(d, F.col("id"), F.col("text"),
      F.col("score"), threshold = 0.5, numHashes = 64, bands = 16)
    assert(col1[Long](kept.orderBy("id"), "id") == Seq(2L, 4L, 9L))
    // null score loses to any non-null sibling: make 4 null, 5 wins
    val d2 = d.withColumn("score",
      F.when(F.col("id") === 4L, F.lit(null)).otherwise(F.col("score")))
    val kept2 = Dedup.dedupNearKeepBest(d2, F.col("id"), F.col("text"),
      F.col("score"), threshold = 0.5, numHashes = 64, bands = 16)
    assert(col1[Long](kept2.orderBy("id"), "id") == Seq(2L, 5L, 9L))
    // the score expression evaluates on cluster MEMBERS only, never the
    // corpus: a corpus of mostly-unpaired rows with an
    // evaluation-counting score must count ~members evaluations (the r12
    // fix — the old shape projected the score off the raw scan below the
    // member join, so every corpus row paid it)
    val evals = spark.sparkContext.longAccumulator("kb_score_evals")
    val countingScore = F.udf { (s: String) =>
      evals.add(1); s.length.toDouble
    }
    val wide = d.unionAll((100L until 400L).map(i =>
      (i, s"unique filler row number $i with its own distinct vocabulary " +
        s"token${i}a token${i}b token${i}c token${i}d token${i}e",
      Some(0.1))).toDF("id", "text", "score"))
    val kept3 = Dedup.dedupNearKeepBest(wide, F.col("id"), F.col("text"),
      countingScore(F.col("text")), threshold = 0.5,
      numHashes = 64, bands = 16)
    assert(kept3.count() == 303) // 2,4,9 + 300 unpaired fillers
    // 5 clustered members; allow generous re-evaluation slack (plan
    // reuse, retries) but stay far below the 306-row corpus
    assert(evals.value <= 50,
      s"score evaluated ${evals.value} times — corpus-wide, not members-only")
  }

  test("semanticDedup: nClusters=1 equals the brute-force min-id-dominance " +
      "contract; scaled copies die at any cluster count; the degenerate-" +
      "cell guard fails loud") {
    // 3 well-separated directions, a few vectors each, plus scaled copies
    val vecs = (for { cl <- 0 until 3; i <- 0 until 5 } yield {
      val v = Array.tabulate(6)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 3 + d) % 4) * 0.08)
      (cl * 100L + i, v.toSeq)
    }).toDF("id", "v")
    val aug = vecs.unionAll(vecs.filter(F.col("id") % 100 < 2).select(
      (F.col("id") + 1000L).as("id"),
      F.transform(F.col("v"), x => x * F.lit(3.0)).as("v")))
    // brute-force twin: b dies iff some lower-id a has cosine >= t
    def cosLocal(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val rows = aug.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    def expect(t: Double): Seq[Long] = rows.filter { case (id, v) =>
      !rows.exists { case (id2, v2) => id2 < id && cosLocal(v2, v) >= t }
    }.map(_._1).sorted.toSeq
    for (t <- Seq(0.9, 0.999)) {
      val got = col1[Long](Similarity.semanticDedup(aug, F.col("id"),
        F.col("v"), threshold = t, nClusters = 1, trainSample = 100)
        .orderBy("id"), "id")
      assert(got == expect(t), s"threshold $t")
    }
    // clustered: copies co-assign with originals (argmax is scale-
    // invariant), so every planted copy still dies; and bucketing can
    // only MISS kills (every clustered kill is a real cosine-≥-t pair
    // with a lower id), never invent them — survivors ⊇ brute force
    val clustered = col1[Long](Similarity.semanticDedup(aug, F.col("id"),
      F.col("v"), threshold = 0.999, nClusters = 3, trainSample = 100)
      .orderBy("id"), "id")
    assert(!clustered.exists(_ >= 1000L))
    assert(expect(0.999).toSet.subsetOf(clustered.toSet))
    // a cell bigger than maxCellSize refuses to go quadratic
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(aug, F.col("id"), F.col("v"),
        threshold = 0.9, nClusters = 1, trainSample = 100, maxCellSize = 3)
    }
    assert(e.getMessage.contains("maxCellSize"), e.getMessage)
    // a LOWEST-id zero vector survives and kills nothing: cosine's 0/0
    // would be NaN, which Spark orders above every number, so the old
    // `cosine >= t` form would have let it dominate-kill every other
    // same-cell vector; the normalized-dot form scores it 0
    val withZero = aug.unionAll(
      Seq((-5L, Seq.fill(6)(0.0))).toDF("id", "v"))
    val zs = col1[Long](Similarity.semanticDedup(withZero, F.col("id"),
      F.col("v"), threshold = 0.9, nClusters = 1, trainSample = 100)
      .orderBy("id"), "id")
    assert(zs.contains(-5L))
    assert(zs.filter(_ >= 0L) == expect(0.9))
    // an EMPTY corpus is loud (ivfIndex's train require), never an NPE
    // out of the max-cell-size probe
    val eEmpty = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(
        Seq.empty[(Long, Seq[Double])].toDF("id", "v"),
        F.col("id"), F.col("v"), threshold = 0.9, nClusters = 1)
    }
    assert(eEmpty.getMessage.contains("empty corpus"), eEmpty.getMessage)
  }

  test("ivfSearch localizeQueries=false snapshots the query frame: a " +
      "nondeterministic query plan cannot leave the cell prune stale and " +
      "silently drop results") {
    val corpus = (for { cl <- 0 until 4; i <- 0 until 25 } yield {
      val v = Array.tabulate(8)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 7 + d * 3) % 5) * 0.1)
      (cl * 100L + i, v.toSeq)
    }).toDF("id", "v")
    val index = Similarity.ivfIndex(corpus, F.col("id"), F.col("v"),
      nlist = 4, trainSample = 100)
    // unseeded rand ⇒ every evaluation of the query frame yields different
    // vectors, hence different probed cells — the exact hazard: before the
    // snapshot fix, the IN-prune (evaluation 1) and the candidate join
    // (evaluation 2) disagreed and queries landing in unlisted cells
    // returned nothing
    // FEW queries per draw (so the probed-cell list genuinely narrows the
    // index — with many queries it covers every cell and a stale list
    // filters nothing), several independent draws. nprobe=2: at most one
    // trained cell is empty of corpus rows here, so every query's probe
    // set includes a populated cell — exactly one top-1 row per query is
    // a guaranteed invariant of the snapshot, and only probabilistic
    // without it.
    for (draw <- 1 to 5) {
      val queries = spark.range(4).select(F.col("id"),
        F.array((0 until 8).map(_ => F.rand()): _*).as("qv"))
      val got = Similarity.ivfSearch(index, queries, F.col("id"),
        F.col("qv"), k = 1, nprobe = 2, localizeQueries = false)
      val qids = col1[Long](got.select(F.col("query_id")), "query_id")
      assert(qids.sorted == (0L until 4L),
        s"draw $draw: expected one top-1 row per query, got ${qids.size}")
    }
  }

  test("writeIvfIndex on an existing layout is an atomic staged rebuild: " +
      "search equals a fresh build, no staging/move-aside leftovers, " +
      "changed nlist never exposes mixed tables") {
    val corpus = (for { cl <- 0 until 4; i <- 0 until 25 } yield {
      val v = Array.tabulate(8)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 7 + d * 3) % 5) * 0.1)
      (cl * 100L + i, v.toSeq)
    }).toDF("id", "v")
    val queries = (0 until 4).map { cl =>
      (1000L + cl, Seq.tabulate(8)(d => if (d == cl * 2) 10.0 else 0.0))
    }.toDF("id", "v")
    val base = java.nio.file.Files.createTempDirectory("graft_ivfrb")
      .toString
    val dir = base + "/idx"
    val fresh = base + "/fresh"
    // build v1 on a THIRD of the corpus at nlist 2, then rebuild IN
    // PLACE on the full corpus at nlist 4 — different corpus, cell
    // count, and cell geometry; a non-atomic overwrite interleaving
    // these tables would change results or crash
    Similarity.writeIvfIndex(corpus.filter(F.col("id") % 3 === 0),
      F.col("id"), F.col("v"), dir, nlist = 2, trainSample = 100)
    Similarity.writeIvfIndex(corpus, F.col("id"), F.col("v"), dir,
      nlist = 4, trainSample = 100)
    Similarity.writeIvfIndex(corpus, F.col("id"), F.col("v"), fresh,
      nlist = 4, trainSample = 100)
    def search(p: String) = Similarity.searchIvfIndex(spark, p, queries,
      F.col("id"), F.col("v"), k = 5, nprobe = 4).collect().toSet
    assert(search(dir) == search(fresh))
    // the swap leaves no staging dir and no move-aside copies
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(left == Set("assigned", "centroids", "meta"), left.toString)
    // appends keep working against the rebuilt layout
    Similarity.appendToIvfIndex(
      Seq((9000L, Seq.tabulate(8)(d => if (d == 0) 10.0 else 0.0)))
        .toDF("id", "v"), F.col("id"), F.col("v"), dir, "post")
    assert(search(dir).nonEmpty)
  }

  test("compactIvfIndex folds segments into base without retraining: " +
      "search-equal, one file per cell, centroids untouched, idempotent") {
    val corpus = (for { cl <- 0 until 4; i <- 0 until 25 } yield {
      val v = Array.tabulate(8)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 7 + d * 3) % 5) * 0.1)
      (cl * 100L + i, v.toSeq)
    }).toDF("id", "v")
    val queries = (0 until 4).map { cl =>
      (1000L + cl, Seq.tabulate(8)(d => if (d == cl * 2) 10.0 else 0.0))
    }.toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfc")
      .toString + "/idx"
    Similarity.writeIvfIndex(corpus.filter(F.col("id") % 3 === 0),
      F.col("id"), F.col("v"), dir, nlist = 4, trainSample = 100)
    Similarity.appendToIvfIndex(corpus.filter(F.col("id") % 3 === 1),
      F.col("id"), F.col("v"), dir, "b0")
    Similarity.appendToIvfIndex(corpus.filter(F.col("id") % 3 === 2),
      F.col("id"), F.col("v"), dir, "b1")
    def search() = Similarity.searchIvfIndex(spark, dir, queries,
      F.col("id"), F.col("v"), k = 5, nprobe = 4).collect().toSet
    def cents() = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => r.getAs[Int]("cell") -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    val before = search(); val centsBefore = cents()
    def files() = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/assigned"),
        true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val p = it.next().getPath.toString
        if (p.endsWith(".parquet")) b += p
      }
      b.result()
    }
    val filesBefore = files()
    Similarity.compactIvfIndex(spark, dir)
    assert(search() == before)
    assert(cents() == centsBefore)
    val after = files()
    // one file per populated cell, all under seg=base
    assert(after.forall(_.contains("seg=base")), after.mkString("\n"))
    val cellsPopulated = spark.read.parquet(s"$dir/assigned")
      .select("cell").distinct().count()
    assert(after.length == cellsPopulated,
      s"${after.length} files for $cellsPopulated cells")
    assert(after.length < filesBefore.length)
    // idempotent: compacting a compacted index changes nothing observable
    Similarity.compactIvfIndex(spark, dir)
    assert(search() == before)
    assert(files().length == cellsPopulated)
    // hot-cell file cap (r15 verdict #5): a cap under the cell size
    // re-splits each cell into ceil(rows/cap) hash-block files — the
    // probe-parallelism repair measured in scaling/ivf_hotcell.json —
    // with search results untouched
    Similarity.compactIvfIndex(spark, dir, maxCellRowsPerFile = 10L)
    assert(search() == before)
    assert(files().length > cellsPopulated,
      s"${files().length} files for $cellsPopulated cells under the cap")
  }

  test("ngram Jaccard exact pairs") {
    val d = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "z y x w v"))
      .toDF("id", "text")
    val pairs = Dedup.ngramJaccardPairs(d, F.col("id"), F.col("text"),
      shingleSize = 2, threshold = 0.9)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("simhash: identical texts equal, near-dups within small hamming") {
    val a = "one two three four five six seven eight nine ten"
    val d = Seq((1L, a), (2L, a), (3L, a.replace("ten", "zzz"))).toDF("id", "t")
    val sh = Dedup.simhash(d, F.col("id"), F.col("t"))
      .orderBy("id").collect().map(_.getLong(1))
    assert(sh(0) == sh(1))
    val dist = java.lang.Long.bitCount(sh(0) ^ sh(2))
    assert(dist > 0 && dist <= 16)
  }

  test("simhashDuplicatePairs finds identical docs at distance 0") {
    val a = "one two three four five six seven eight nine ten"
    val d = Seq((1L, a), (2L, a), (3L, "different corpus entirely here"))
      .toDF("id", "t")
    val pairs = Dedup.simhashDuplicatePairs(d, F.col("id"), F.col("t"),
      maxDistance = 0)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L)))
  }

  test("simhashDuplicatePairs recall is complete for any maxDistance (pigeonhole)") {
    // bands are derived from maxDistance, so EVERY pair within distance must
    // be found — compare against a brute-force hamming join on the hashes
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val docs = (0 until 30).map { i =>
      (i.toLong, words.indices.map(j =>
        if ((i + j) % 5 == 0) words((j + i) % words.size) else words(j))
        .mkString(" "))
    }
    val d = docs.toDF("id", "t")
    for (maxD <- Seq(4, 6, 10)) {
      val got = Dedup.simhashDuplicatePairs(d, F.col("id"), F.col("t"),
        maxDistance = maxD, maxBucket = 10000)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sh = Dedup.simhash(d, F.col("id"), F.col("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = (for {
        (ia, ha) <- sh; (ib, hb) <- sh if ia < ib
        if java.lang.Long.bitCount(ha ^ hb) <= maxD
      } yield (ia, ib)).toSet
      assert(got == want, s"maxDistance=$maxD: got ${got.size}, want ${want.size}")
    }
  }

  test("embedding near-dup pairs via hyperplane LSH") {
    val d = df(schema("id" -> LongType, "v" -> ArrayType(FloatType)),
      Seq(1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      Seq(2L, Seq(0.999f, 0.001f, 0.0f, 0.0f)),
      Seq(3L, Seq(-1.0f, 0.5f, 0.2f, 0.0f)))
    val pairs = Dedup.embeddingDuplicatePairs(d, F.col("id"), F.col("v"),
      threshold = 0.99, planes = 8, bands = 4)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L)))
  }

  test("cosine / dot higher-order expressions") {
    val d = df(schema("a" -> ArrayType(DoubleType), "b" -> ArrayType(DoubleType)),
      Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
      .select(Similarity.dot(F.col("a"), F.col("b")).as("d"),
        Similarity.cosine(F.col("a"), F.col("a")).as("self"))
    val r = d.collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(approx(r.getDouble(1), 1.0))
  }

  test("bruteForceTopK exact ranking with tie-break by corpus id") {
    val corpus = df(schema("id" -> LongType, "v" -> ArrayType(DoubleType)),
      Seq(10L, Seq(1.0, 0.0)), Seq(11L, Seq(0.0, 1.0)),
      Seq(12L, Seq(0.9, 0.1)))
    val queries = df(schema("id" -> LongType, "v" -> ArrayType(DoubleType)),
      Seq(1L, Seq(1.0, 0.0)))
    val r = Similarity.bruteForceTopK(corpus, F.col("id"), F.col("v"),
      queries, F.col("id"), F.col("v"), k = 2)
    assert(col1[Long](r.orderBy("rank"), "corpus_id") == Seq(10L, 12L))
  }

  test("lshTopK recall ≥ 0.5 of exact top-k on clustered vectors") {
    val dim = 8
    val mk = (c: Int, i: Int) => (0 until dim).map(j =>
      (if (j == c) 1.0f else 0.0f) + i * 0.001f)
    val corpus = (0 until 40).map(i => (i.toLong, mk(i % 4, i)))
      .toDF("id", "v")
    val queries = (0 until 4).map(i => (100L + i, mk(i, 0))).toDF("id", "v")
    val exact = Similarity.bruteForceTopK(corpus, F.col("id"), F.col("v"),
      queries, F.col("id"), F.col("v"), k = 3)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx_ = Similarity.lshTopK(corpus, F.col("id"), F.col("v"),
      queries, F.col("id"), F.col("v"), k = 3, planes = 8, bands = 4)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx_.intersect(exact).size >= exact.size / 2)
  }

  test("tokenCount / subwordCount / langId / quality") {
    val d = Seq("The quick fox is in the barn", "", "der hund ist von den")
      .toDF("t").select(
        TextAnalysis.tokenCount(F.col("t")).as("n"),
        TextAnalysis.subwordCount(F.col("t")).as("sw"),
        TextAnalysis.langId(F.col("t")).as("lang"),
        TextAnalysis.qualityScore(F.col("t")).as("q"))
    val rows = d.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(7L, 0L, 5L))
    assert(rows(0).getString(2) == "en")
    assert(rows(1).getString(2) == "und")
    assert(rows(2).getString(2) == "de")
    assert(rows(0).getDouble(3) > rows(1).getDouble(3))
    // stopwordRatio honors the null-in/null-out convention its siblings
    // (langId, qualityScore) already guard
    val sw = Seq(Some("the cat"), None).toDF("t")
      .select(TextAnalysis.stopwordRatio(F.col("t")).as("r")).collect()
    assert(sw(0).getDouble(0) == 0.5)
    assert(sw(1).isNullAt(0))
  }

  test("gopherStats: hand-computed signals; gate rejects each rule breaker") {
    // 64 words: 4 stopwords + 60 x "word"; mean len (3+2+2+3+60*4)/64
    val good = (Seq("the", "be", "of", "and") ++ Seq.fill(60)("word"))
      .mkString(" ")
    val tiny = "the of and be tiny" // < 50 words
    val bullety = Seq.fill(60)("- the item of note").mkString("\n") // all bullets
    val dotty = Seq.fill(20)("the thing of it goes on...").mkString("\n")
    val taggy = (Seq("the", "of") ++ Seq.fill(58)("#tag")).mkString(" ")
    val numeric = (Seq("the", "of") ++ Seq.fill(58)("12345")).mkString(" ")
    val nostop = Seq.fill(60)("plain words here again").mkString(" ")
    val d = Seq(good, tiny, bullety, dotty, taggy, numeric, nostop, "")
      .toDF("t")
      .withColumn("g", TextAnalysis.gopherStats(F.col("t")))
      .withColumn("p", TextAnalysis.gopherPasses(F.col("g")))
      .select("g.word_count", "g.mean_word_len", "g.symbol_word_ratio",
        "g.bullet_line_frac", "g.ellipsis_line_frac", "g.alpha_word_frac",
        "g.req_stopword_hits", "p")
    val rows = d.collect()
    assert(rows(0).getLong(0) == 64L)
    assert(rows(0).getDouble(1) === math.rint(250.0 / 64 * 1e6) / 1e6)
    assert(rows(0).getDouble(5) === 1.0)       // every word alphabetic
    assert(rows(0).getLong(6) == 4L)           // the, be, of, and
    assert(rows(0).getBoolean(7))              // the only passer
    assert(rows(1).getLong(0) == 5L && !rows(1).getBoolean(7))
    assert(rows(2).getDouble(3) === 1.0 && !rows(2).getBoolean(7))
    assert(rows(3).getDouble(4) === 1.0 && !rows(3).getBoolean(7))
    assert(rows(4).getDouble(2) > 0.1 && !rows(4).getBoolean(7))
    assert(rows(5).getDouble(5) < 0.8 && !rows(5).getBoolean(7))
    assert(rows(6).getLong(6) == 0L && !rows(6).getBoolean(7))
    assert(rows(7).getLong(0) == 0L && !rows(7).getBoolean(7)) // empty
  }

  test("gopherFilter is stateless — runs unchanged on a stream") {
    val good = (Seq("the", "be", "of", "and") ++ Seq.fill(60)("word"))
      .mkString(" ")
    val docs = Seq((1L, good), (2L, "too short"), (3L, good + " extra"))
      .toDF("id", "t")
    val dir = java.nio.file.Files.createTempDirectory("graft_gopher").toString
    docs.write.parquet(dir + "/docs")
    val stream = graft.streaming.Streams.readParquetStream(
      spark, dir + "/docs", docs.schema)
    val batch = TextAnalysis.gopherFilter(docs, F.col("t"))
    val streamed = graft.streaming.Streams.runToMemory(
      TextAnalysis.gopherFilter(stream, F.col("t")), "t_gopher")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    assert(batch.count() == 2)
  }

  test("topNgrams: multiset counts, count-desc/gram-asc tie-break, " +
      "short and empty docs contribute nothing") {
    val d = Seq("a b a b", "a b c", "x", "").toDF("t")
    // "a b a b" -> a b, b a, a b; "a b c" -> a b, b c
    val out = TextAnalysis.topNgrams(d, F.col("t"), n = 2, k = 10)
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
    // top-k plans as per-partition heaps + driver merge, never a global sort
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k did not plan as TakeOrderedAndProject:\n$plan")
    val tri = TextAnalysis.topNgrams(d, F.col("t"), n = 3, k = 2).collect()
    assert(tri.map(_.getString(0)).toSeq == Seq("a b a", "a b c"))
  }

  test("topNgramsBy: per-group top-k, WindowGroupLimit plan") {
    val d = Seq(("s1", "a b a b"), ("s1", "a b c"), ("s2", "x y"),
      ("s2", "x y"), ("s2", "y z")).toDF("src", "t")
    val out = TextAnalysis.topNgramsBy(d, F.col("src"), F.col("t"),
      n = 2, k = 1)
    assert(out.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
      Set(("s1", "a b", 3L), ("s2", "x y", 2L)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-group top-k did not plan as WindowGroupLimit:\n$plan")
  }

  test("text battery null-propagates: no operator throws on a null document") {
    val d = Seq((1L, "the quick fox"), (2L, null))
      .toDF("id", "t")
    val out = d.select(F.col("id"),
      TextAnalysis.tokenCount(F.col("t")).as("n"),
      TextAnalysis.subwordCount(F.col("t")).as("sw"),
      TextAnalysis.langId(F.col("t")).as("lang"),
      TextAnalysis.qualityScore(F.col("t")).as("q"),
      TextAnalysis.gopherStats(F.col("t")).as("g"),
      TextAnalysis.fingerprint(F.col("t")).as("fp"),
      TextAnalysis.normalize(F.col("t")).as("norm"),
      TextAnalysis.scrub(F.col("t")).as("scrubbed"),
      TextAnalysis.repetitionStats(F.col("t")).as("rep"))
      .orderBy("id").collect()
    val nullRow = out(1)
    // every signal on a null document is null, never an exception
    for (i <- 1 until nullRow.length)
      assert(nullRow.isNullAt(i), s"column $i not null for null text")
    assert(out(0).getLong(1) == 3L) // the non-null row still computes
    // and the gates drop null documents rather than erroring
    assert(TextAnalysis.gopherFilter(d, F.col("t")).count() == 0)
    assert(TextAnalysis.quantileFilter(
      d.withColumn("s", TextAnalysis.qualityScore(F.col("t"))),
      F.col("s"), 0.5).count() == 1)
  }

  test("repetitionStats: dup-line fractions and top-bigram share") {
    // non-empty lines: "aa bb", "cc", "aa bb", "cc aa bb" — the repeated
    // "aa bb" contributes 1 of 4 lines and 5 of 20 line chars; tokens
    // across lines: aa bb cc aa bb cc aa bb -> 7 bigrams, (aa,bb) x3
    val d = Seq("aa bb\ncc\n\naa bb\ncc aa bb", "", "x y z")
      .toDF("t")
      .select(TextAnalysis.repetitionStats(F.col("t")).as("r"))
      .select("r.dup_line_frac", "r.dup_line_char_frac", "r.top_bigram_share")
    val rows = d.collect()
    assert(rows(0).getDouble(0) === 1.0 / 4)
    assert(rows(0).getDouble(1) === 5.0 / 20)
    assert(rows(0).getDouble(2) === 3.0 / 7)
    assert(rows(1).toSeq === Seq(0.0, 0.0, 0.0)) // empty text: all zero
    assert(rows(2).getDouble(2) === 1.0 / 2)     // all bigrams unique
  }

  test("scrub redacts emails, urls, ips with typed placeholders") {
    val d = Seq("mail a.b+c@ex.org or https://x.io/p?q=1 from 10.0.0.7 ok",
      "no pii here").toDF("t")
      .select(TextAnalysis.scrub(F.col("t")).as("s"))
    val out = d.collect().map(_.getString(0))
    assert(out(0) === "mail <EMAIL> or <URL> from <IP> ok")
    assert(out(1) === "no pii here")
  }

  test("fingerprint is order-sensitive and deterministic") {
    val d = Seq("a b c", "a b c", "c b a").toDF("t")
      .select(TextAnalysis.fingerprint(F.col("t")).as("fp"))
    val fps = d.collect().map(_.getLong(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("multimodal pipeline: features, resize metadata, frame sampling") {
    val media = spark.range(6).select(
      F.col("id").as("media_id"),
      F.when(F.col("id") % 2 === 0, "video").otherwise("image").as("kind"),
      Multimodal.syntheticPayload(F.col("id"), 32).as("payload"),
      F.lit(640).as("width"), F.lit(480).as("height"),
      F.lit(16000).as("sample_rate"),
      F.lit(8).cast("int").as("n_frames"), F.lit("raw").as("format"))
    val feat = Multimodal.extractFeatures(media, "payload", dims = 4)
    assert(feat.select("features").collect()
      .forall(_.getSeq[Double](0).forall(v => v >= 0 && v < 1)))
    val rs = Multimodal.resize(feat, 224, 224)
    assert(rs.select("width").collect().forall(_.getInt(0) == 224))
    val sampled = Multimodal.sampleFrames(rs, stride = 4)
    // video rows explode to frames 0,4; image rows stay single
    assert(sampled.count() == 3 * 2 + 3 * 1)
    // deterministic features: same payload → same features
    val f2 = Multimodal.extractFeatures(media, "payload", dims = 4)
      .select("features").collect().map(_.getSeq[Double](0))
    assert(f2.toSeq == feat.select("features").collect()
      .map(_.getSeq[Double](0)).toSeq)
  }

  test("IVF top-k: exhaustive probe equals brute force; partial probe recalls clusters") {
    // 4 well-separated clusters (disjoint dominant axes) + per-cluster queries
    val corpus = (for { cl <- 0 until 4; i <- 0 until 25 } yield {
      val v = Array.tabulate(8)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 7 + d * 3) % 5) * 0.1)
      (cl * 100L + i, v.toSeq)
    }).toDF("id", "v")
    val queries = (0 until 4).map { cl =>
      (1000L + cl, Seq.tabulate(8)(d => if (d == cl * 2) 10.0 else 0.0))
    }.toDF("id", "v")
    def ids(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      d.collect().groupBy(_.getLong(0))
        .view.mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq).toMap
    val exact = ids(Similarity.bruteForceTopK(corpus, F.col("id"), F.col("v"),
      queries, F.col("id"), F.col("v"), k = 5))
    // nprobe = nlist: identical to brute force through the IVF plumbing
    val exhaustive = ids(Similarity.ivfTopK(corpus, F.col("id"), F.col("v"),
      queries, F.col("id"), F.col("v"), k = 5, nlist = 8, nprobe = 8,
      trainSample = 100))
    assert(exhaustive == exact)
    // single-probe: each query's neighbors all live in its own cluster cell
    val probed = ids(Similarity.ivfTopK(corpus, F.col("id"), F.col("v"),
      queries, F.col("id"), F.col("v"), k = 5, nlist = 4, nprobe = 1,
      trainSample = 100))
    val recall = exact.map { case (q, want) =>
      probed.getOrElse(q, Nil).count(want.contains).toDouble / want.size
    }.sum / exact.size
    assert(recall >= 0.8, s"IVF single-probe recall $recall")
  }

  test("IVF index reuse: one ivfIndex serves query batches; a cell-" +
      "partitioned parquet index prunes the scan to the probed cells") {
    val corpus = (for { cl <- 0 until 4; i <- 0 until 25 } yield {
      val v = Array.tabulate(8)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 7 + d * 3) % 5) * 0.1)
      (cl * 100L + i, v.toSeq)
    }).toDF("id", "v")
    val queries = (0 until 4).map { cl =>
      (1000L + cl, Seq.tabulate(8)(d => if (d == cl * 2) 10.0 else 0.0))
    }.toDF("id", "v")
    val idx = Similarity.ivfIndex(corpus, F.col("id"), F.col("v"),
      nlist = 4, trainSample = 100)
    // two query batches against ONE index == the one-shot operator
    for (batch <- Seq(queries.filter(F.col("id") < 1002),
        queries.filter(F.col("id") >= 1002))) {
      val reused = Similarity.ivfSearch(idx, batch,
        F.col("id"), F.col("v"), k = 5, nprobe = 1).collect().toSet
      val oneShot = Similarity.ivfTopK(corpus, F.col("id"), F.col("v"),
        batch, F.col("id"), F.col("v"), k = 5, nlist = 4, nprobe = 1,
        trainSample = 100).collect().toSet
      assert(reused == oneShot)
    }
    // the at-scale path: index written partitionBy(cell), re-read — the
    // probe filter must prune the scan to the probed cells' partitions
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    idx.assigned.write.partitionBy("cell").parquet(dir + "/index")
    val reread = spark.read.parquet(dir + "/index")
    val oneQuery = queries.filter(F.col("id") === 1000L)
    val fromDisk = Similarity.ivfSearch(
      Similarity.IvfIndex(idx.centroids, reread), oneQuery,
      F.col("id"), F.col("v"), k = 5, nprobe = 1)
    assert(fromDisk.collect().toSet ==
      Similarity.ivfSearch(idx, oneQuery, F.col("id"), F.col("v"),
        k = 5, nprobe = 1).collect().toSet)
    val scan = fromDisk.queryExecution.executedPlan.toString
    val pf = scan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("cell")),
      s"probe filter not pushed to partition pruning:\n$scan")
  }

  test("persisted IVF index lifecycle: append ≡ fresh build, segment " +
      "retry idempotent, dim guard loud, retrain ≡ fresh full-corpus " +
      "build with segments folded to base") {
    val corpus = (for { cl <- 0 until 4; i <- 0 until 25 } yield {
      val v = Array.tabulate(8)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 7 + d * 3) % 5) * 0.1)
      (cl * 100L + i, v.toSeq)
    }).toDF("id", "v")
    val queries = (0 until 4).map { cl =>
      (1000L + cl, Seq.tabulate(8)(d => if (d == cl * 2) 10.0 else 0.0))
    }.toDF("id", "v")
    def ids(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      d.collect().groupBy(_.getLong(0))
        .view.mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq).toMap
    val root = java.nio.file.Files.createTempDirectory("graft_ivfp").toString
    val dir = root + "/idx"; val full = root + "/full"
    // even ids build the index, odd ids append as a segment
    Similarity.writeIvfIndex(corpus.filter(F.col("id") % 2 === 0),
      F.col("id"), F.col("v"), dir, nlist = 4, trainSample = 100)
    Similarity.appendToIvfIndex(corpus.filter(F.col("id") % 2 === 1),
      F.col("id"), F.col("v"), dir, "b0")
    // exhaustive probe over the appended index == brute force over the
    // FULL corpus — nothing appended is lost, duplicated, or mis-assigned
    val exact = ids(Similarity.bruteForceTopK(corpus, F.col("id"),
      F.col("v"), queries, F.col("id"), F.col("v"), k = 5))
    assert(ids(Similarity.searchIvfIndex(spark, dir, queries,
      F.col("id"), F.col("v"), k = 5, nprobe = 4)) == exact)
    // a RETRIED segment write replaces, never double-appends
    Similarity.appendToIvfIndex(corpus.filter(F.col("id") % 2 === 1),
      F.col("id"), F.col("v"), dir, "b0")
    assert(ids(Similarity.searchIvfIndex(spark, dir, queries,
      F.col("id"), F.col("v"), k = 5, nprobe = 4)) == exact)
    // the distributed-query path (localizeQueries = false — the streaming
    // micro-batch posture: queries never driver-collect) returns the
    // identical result
    assert(ids(Similarity.searchIvfIndex(spark, dir, queries,
      F.col("id"), F.col("v"), k = 5, nprobe = 4,
      localizeQueries = false)) == exact)
    // probe pruning survives the seg+cell layout
    val one = Similarity.searchIvfIndex(spark, dir,
      queries.filter(F.col("id") === 1000L), F.col("id"), F.col("v"),
      k = 5, nprobe = 1)
    one.collect()
    val pf = one.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("cell")), pf)
    // mismatched vector width fails loud on BOTH write paths
    val narrow = Seq((9999L, Seq(1.0, 2.0, 3.0, 4.0))).toDF("id", "v")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(narrow, F.col("id"), F.col("v"), dir, "b1")
    }
    assert(e1.getMessage.contains("dim"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.searchIvfIndex(spark, dir, narrow, F.col("id"),
        F.col("v"), k = 1)
    }
    assert(e2.getMessage.contains("dim"), e2.getMessage)
    // retrain from STORED vectors: identical centroids + cells as a
    // fresh build over the same corpus (same ids + seed => same seeded
    // sample => same Lloyd's trajectory), segments folded to base
    Similarity.writeIvfIndex(corpus, F.col("id"), F.col("v"), full,
      nlist = 4, trainSample = 100)
    Similarity.retrainIvfIndex(spark, dir, nlist = 4, trainSample = 100)
    def cents(p: String) = spark.read.parquet(s"$p/centroids").collect()
      .map(r => r.getAs[Int]("cell") -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    assert(cents(dir) == cents(full))
    def cells(p: String) = spark.read.parquet(s"$p/assigned")
      .select("corpus_id", "cell").collect()
      .map(r => (r.getLong(0), r.getAs[Int]("cell"))).sortBy(_._1).toSeq
    assert(cells(dir) == cells(full))
    assert(spark.read.parquet(s"$dir/assigned").select("seg").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("base"))
    assert(ids(Similarity.searchIvfIndex(spark, dir, queries,
      F.col("id"), F.col("v"), k = 5, nprobe = 4)) == exact)
  }

  test("searchIvfIndex wide-probe route is WIDTH-aware: the threshold " +
      "tracks candidate payload bytes (raw d4096 routes at 0.5, narrow " +
      "and SQ8 layouts keep probing to the exhaustive point); results " +
      "stay identical at nprobe = nlist and upgrade to exact above the " +
      "threshold; distributed query sets keep probing") {
    // the width model, pinned against the measured anchors
    // (whitened_ivf_4096.json + ivf_route_width.json)
    assert(Similarity.bruteRouteFraction(32768L) == 0.5) // raw f64 d4096
    assert(Similarity.bruteRouteFraction(65536L) == 0.5) // wider clamps
    assert(Similarity.bruteRouteFraction(4096L) == 1.0)  // sq8 d4096 /
                                                         // whitened pcaK512
    assert(Similarity.bruteRouteFraction(256L) == 1.0)   // whitened pcaK32
    assert(Similarity.bruteRouteFraction(64L) == 1.0)    // narrow clamps
    // monotone non-increasing between the anchors (log-width interp)
    val mid = Similarity.bruteRouteFraction(11585L) // ~2^13.5
    assert(mid < 1.0 && mid > 0.5)
    assert(Similarity.bruteRouteFraction(8192L) >=
      Similarity.bruteRouteFraction(16384L))
    // the factored route decision
    assert(!Similarity.shouldRouteBrute(1, 4, widthBytes = 32768L,
      localizeQueries = true)) // frac 0.25: probed path measured 2.6x
    assert(Similarity.shouldRouteBrute(2, 4, widthBytes = 32768L,
      localizeQueries = true)) // frac 0.5: the measured raw-wide cliff
    assert(Similarity.shouldRouteBrute(8, 4, widthBytes = 32768L,
      localizeQueries = true)) // nprobe > nlist clamps to 1.0
    assert(!Similarity.shouldRouteBrute(2, 4, widthBytes = 256L,
      localizeQueries = true)) // narrow at frac 0.5: keeps probing
    assert(Similarity.shouldRouteBrute(4, 4, widthBytes = 256L,
      localizeQueries = true)) // exhaustive always-win routes at ANY width
    assert(!Similarity.shouldRouteBrute(3, 4, widthBytes = 4096L,
      localizeQueries = true)) // sq8-d4096-width at 0.75: keeps probing
    assert(!Similarity.shouldRouteBrute(4, 4, widthBytes = 32768L,
      localizeQueries = false)) // big query sets can't broadcast
    val corpus = (for { cl <- 0 until 4; i <- 0 until 25 } yield {
      val v = Array.tabulate(8)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 7 + d * 3) % 5) * 0.1)
      (cl * 100L + i, v.toSeq)
    }).toDF("id", "v")
    val queries = (0 until 4).map { cl =>
      (1000L + cl, Seq.tabulate(8)(d => if (d == cl * 2) 10.0 else 0.0))
    }.toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfroute")
      .toString + "/idx"
    Similarity.writeIvfIndex(corpus, F.col("id"), F.col("v"), dir,
      nlist = 4, trainSample = 100)
    def ids(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      d.collect().groupBy(_.getLong(0))
        .view.mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq).toMap
    val exact = ids(Similarity.bruteForceTopK(corpus, F.col("id"),
      F.col("v"), queries, F.col("id"), F.col("v"), k = 5))
    // routed (frac 1.0 — always-win at any width): the plan is the brute
    // shape — no cell probe join, a broadcast nested-loop over the full
    // assigned scan
    val routed = Similarity.searchIvfIndex(spark, dir, queries,
      F.col("id"), F.col("v"), k = 5, nprobe = 4)
    assert(ids(routed) == exact)
    val plan = routed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"wide probe not routed to the full scan:\n$plan")
    assert(plan.contains("PartitionFilters: []"),
      s"routed scan should carry no cell partition filter:\n$plan")
    // this layout is 64 B wide — frac 0.5 sits UNDER its threshold
    // (1.0), so the probed plan survives untouched where the old
    // space-blind rule would have force-routed it (r15 ADVICE: narrow
    // layouts at frac 0.5 read half the bytes of the full scan)
    val probedHalf = Similarity.searchIvfIndex(spark, dir, queries,
      F.col("id"), F.col("v"), k = 5, nprobe = 2)
    probedHalf.collect()
    assert(probedHalf.queryExecution.executedPlan.toString.linesIterator
      .exists(l => l.contains("PartitionFilters") && l.contains("cell")))
    // under the fraction the probed plan survives untouched
    val probed = Similarity.searchIvfIndex(spark, dir, queries,
      F.col("id"), F.col("v"), k = 5, nprobe = 1)
    probed.collect()
    assert(probed.queryExecution.executedPlan.toString.linesIterator
      .exists(l => l.contains("PartitionFilters") && l.contains("cell")))
    // a WIDE raw layout (d = 4096 → 32 KiB rows) routes at frac 0.5:
    // the exact answer — a strict recall upgrade — at the measured-
    // cheaper full scan
    val wideCorpus = (0 until 24).map { i =>
      (i.toLong, Seq.tabulate(4096)(j =>
        math.sin(i * 131 + j * 7).abs + (if (j % 24 == i) 5.0 else 0.0)))
    }.toDF("id", "v")
    val wideQ = Seq((1000L,
      Seq.tabulate(4096)(j => if (j % 24 == 3) 5.0 else 0.1)))
      .toDF("id", "v")
    val wideDir = java.nio.file.Files.createTempDirectory("graft_widert")
      .toString + "/idx"
    Similarity.writeIvfIndex(wideCorpus, F.col("id"), F.col("v"), wideDir,
      nlist = 4, trainSample = 100)
    val wideRouted = Similarity.searchIvfIndex(spark, wideDir, wideQ,
      F.col("id"), F.col("v"), k = 3, nprobe = 2)
    assert(ids(wideRouted) == ids(Similarity.bruteForceTopK(wideCorpus,
      F.col("id"), F.col("v"), wideQ, F.col("id"), F.col("v"), k = 3)))
    assert(wideRouted.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
  }

  test("IVF meta elem_bytes stamp (r16 verdict #3): float32 layouts " +
      "model their TRUE 4 B/element candidate width, appends cast to " +
      "the layout's element type, pre-stamp metas read as 8 B") {
    val f32 = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType)
    val corpus = (for { cl <- 0 until 4; i <- 0 until 10 } yield {
      val v = Array.tabulate(8)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 7 + d * 3) % 5) * 0.1)
      (cl * 100L + i, v.toSeq)
    }).toDF("id", "v")
    val base = java.nio.file.Files.createTempDirectory("graft_elemb")
      .toString
    // float32 build: meta width = dim × 4
    val f32dir = base + "/f32"
    Similarity.writeIvfIndex(corpus.withColumn("v", F.col("v").cast(f32)),
      F.col("id"), F.col("v"), f32dir, nlist = 4, trainSample = 100)
    assert(Similarity.candidateWidthBytes(
      Similarity.readIvfMeta(spark, f32dir)) === 8L * 4)
    // float64 build: dim × 8
    val f64dir = base + "/f64"
    Similarity.writeIvfIndex(corpus, F.col("id"), F.col("v"), f64dir,
      nlist = 4, trainSample = 100)
    assert(Similarity.candidateWidthBytes(
      Similarity.readIvfMeta(spark, f64dir)) === 8L * 8)
    // homogeneity cast: a float64 batch appended to the float32 layout
    // stores float32 (and vice versa) — the whole assigned table keeps
    // ONE physical vector type, so later whole-table reads can't hit
    // mixed parquet schemas
    Similarity.appendToIvfIndex(
      Seq((9000L, Seq.tabulate(8)(d => if (d == 0) 10.0 else 0.0)))
        .toDF("id", "v"),
      F.col("id"), F.col("v"), f32dir, "post")
    assert(spark.read.parquet(s"$f32dir/assigned").schema("cv").dataType
      === f32)
    Similarity.appendToIvfIndex(
      Seq((9000L, Seq.tabulate(8)(d => if (d == 0) 10.0 else 0.0)))
        .toDF("id", "v").withColumn("v", F.col("v").cast(f32)),
      F.col("id"), F.col("v"), f64dir, "post")
    assert(spark.read.parquet(s"$f64dir/assigned").schema("cv").dataType
      === org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    // search still exact across the cast append on both layouts
    val q = Seq((1L, Seq.tabulate(8)(d => if (d == 0) 10.0 else 0.0)))
      .toDF("id", "v")
    for (dir <- Seq(f32dir, f64dir)) {
      val top = Similarity.searchIvfIndex(spark, dir, q, F.col("id"),
        F.col("v"), k = 1, nprobe = 4).collect()
      assert(top.head.getLong(1) === 9000L, s"$dir: ${top.toSeq}")
    }
    // back-compat: a meta WITHOUT elem_bytes (pre-r17 layout) reads as
    // the conservative 8 B/element
    val meta = spark.read.parquet(s"$f32dir/meta").drop("elem_bytes")
    meta.write.mode("overwrite").parquet(s"$f32dir/meta_new")
    val fs = new org.apache.hadoop.fs.Path(f32dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$f32dir/meta"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$f32dir/meta_new"),
      new org.apache.hadoop.fs.Path(s"$f32dir/meta"))
    assert(Similarity.candidateWidthBytes(
      Similarity.readIvfMeta(spark, f32dir)) === 8L * 8)
  }

  test("SQ8 rescore: the opt-in exact re-rank against the full-precision " +
      "source matches the float path's cosines bit-for-bit, the lookup " +
      "is id-pruned at the scan, and a float layout refuses") {
    val corpus = (for { cl <- 0 until 4; i <- 0 until 25 } yield {
      val v = Array.tabulate(8)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 7 + d * 3) % 5) * 0.1)
      (cl * 100L + i, v.toSeq)
    }).toDF("id", "v")
    val queries = (0 until 4).map { cl =>
      (1000L + cl, Seq.tabulate(8)(d => if (d == cl * 2) 10.0 else 0.0))
    }.toDF("id", "v")
    val root = java.nio.file.Files.createTempDirectory("graft_rescore")
      .toString
    // the full-precision source round-trips through parquet so the
    // id-prune is observable as a pushed scan filter
    corpus.write.parquet(root + "/source")
    val source = spark.read.parquet(root + "/source")
    Similarity.writeIvfIndex(corpus, F.col("id"), F.col("v"),
      root + "/sq8", nlist = 4, trainSample = 100, sq8 = true)
    // float truth: exact cosines over the full-precision corpus
    val truth = Similarity.bruteForceTopK(corpus, F.col("id"), F.col("v"),
      queries, F.col("id"), F.col("v"), k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val rescored = Similarity.searchIvfIndex(spark, root + "/sq8",
      queries, F.col("id"), F.col("v"), k = 5, nprobe = 4,
      rescore = Some(Similarity.RescoreSource(source, F.col("id"),
        F.col("v"))))
    val got = rescored.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    // BIT equality, ranks and cosines included: the refine step scores
    // the same doubles through the same expression as the float path
    assert(got == truth, s"\n$got\nvs\n$truth")
    // without rescore the SQ8 scores differ from the float path (the
    // ~0.3% quantization error the rescore removes) — the opt-in is
    // load-bearing, not a no-op
    val quant = Similarity.searchIvfIndex(spark, root + "/sq8", queries,
      F.col("id"), F.col("v"), k = 5, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(quant != truth)
    // the full-precision lookup is pruned by candidate ids AT THE SCAN
    val plan = rescored.queryExecution.executedPlan.toString
    val pushed = plan.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("In(id"),
      s"rescore lookup not id-pruned at the source scan:\n$plan")
    // the in-memory SQ8 verb takes the same opt-in
    val idx = Similarity.ivfIndex(corpus, F.col("id"), F.col("v"),
      nlist = 4, trainSample = 100)
    val viaQ = Similarity.ivfSearchQuantized(idx.centroids,
      Similarity.ivfIndexQuantized(idx), queries, F.col("id"), F.col("v"),
      k = 5, nprobe = 4,
      rescore = Some(Similarity.RescoreSource(source, F.col("id"),
        F.col("v")))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(viaQ == truth)
    // a STALE source (missing candidate ids) fails loud — silently
    // dropping candidates from the re-ranked top-k is the failure the
    // coverage guard exists for — and so does a source with DUPLICATE
    // rows per id (a candidate would list at two ranks)
    val stale = intercept[IllegalArgumentException] {
      Similarity.searchIvfIndex(spark, root + "/sq8", queries,
        F.col("id"), F.col("v"), k = 5, nprobe = 4,
        rescore = Some(Similarity.RescoreSource(
          source.filter(F.col("id") % 2 === 0), F.col("id"), F.col("v"))))
    }
    assert(stale.getMessage.contains("covers"), stale.getMessage)
    val duped = intercept[IllegalArgumentException] {
      Similarity.searchIvfIndex(spark, root + "/sq8", queries,
        F.col("id"), F.col("v"), k = 5, nprobe = 4,
        rescore = Some(Similarity.RescoreSource(
          source.unionAll(source), F.col("id"), F.col("v"))))
    }
    assert(duped.getMessage.contains("duplicate"), duped.getMessage)
    // empty query set: the re-rank of nothing is nothing, same schema
    val empty = Similarity.searchIvfIndex(spark, root + "/sq8",
      queries.filter(F.col("id") < 0), F.col("id"), F.col("v"), k = 5,
      nprobe = 4, rescore = Some(Similarity.RescoreSource(source,
        F.col("id"), F.col("v"))))
    assert(empty.columns.toSeq ==
      Seq("query_id", "corpus_id", "rank", "cosine") && empty.count() == 0)
    // a query set declared NOT driver-small takes the DISTRIBUTED
    // refine (r15 verdict #2): semi-join-pruned source, per-query
    // window re-rank, no query-scale collect — and the result equals
    // the localized rescore bit-for-bit (same doubles, same tie-break).
    // Queries ride through parquet so the no-local-relation plan guard
    // below observes the genuine distributed shape
    queries.write.parquet(root + "/queries")
    val queriesDisk = spark.read.parquet(root + "/queries")
    val distRescored = Similarity.searchIvfIndex(spark, root + "/sq8",
      queriesDisk, F.col("id"), F.col("v"), k = 5, nprobe = 4,
      localizeQueries = false,
      rescore = Some(Similarity.RescoreSource(source, F.col("id"),
        F.col("v"))))
    val distGot = distRescored.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(distGot == truth, s"\n$distGot\nvs\n$truth")
    // plan guard: the distributed refine carries NO driver-built local
    // relation — the localized path's signature is a LocalTableScan of
    // collected candidates/queries; here candidates snapshot
    // executor-side (ExistingRDD) and queries stay a plain scan
    val distPlan = distRescored.queryExecution.executedPlan.toString
    assert(!distPlan.contains("LocalTableScan"),
      s"distributed rescore built a driver-local relation:\n$distPlan")
    // the distributed path keeps the fail-loud source contracts
    val distStale = intercept[IllegalArgumentException] {
      Similarity.searchIvfIndex(spark, root + "/sq8", queries,
        F.col("id"), F.col("v"), k = 5, nprobe = 4,
        localizeQueries = false,
        rescore = Some(Similarity.RescoreSource(
          source.filter(F.col("id") % 2 === 0), F.col("id"), F.col("v"))))
    }
    assert(distStale.getMessage.contains("cover"), distStale.getMessage)
    val distDuped = intercept[IllegalArgumentException] {
      Similarity.searchIvfIndex(spark, root + "/sq8", queries,
        F.col("id"), F.col("v"), k = 5, nprobe = 4,
        localizeQueries = false,
        rescore = Some(Similarity.RescoreSource(
          source.unionAll(source), F.col("id"), F.col("v"))))
    }
    assert(distDuped.getMessage.contains("duplicate"), distDuped.getMessage)
    // a float layout refuses: its scores are already exact
    Similarity.writeIvfIndex(corpus, F.col("id"), F.col("v"),
      root + "/float", nlist = 4, trainSample = 100)
    val e = intercept[IllegalArgumentException] {
      Similarity.searchIvfIndex(spark, root + "/float", queries,
        F.col("id"), F.col("v"), k = 5,
        rescore = Some(Similarity.RescoreSource(source, F.col("id"),
          F.col("v"))))
    }
    assert(e.getMessage.contains("SQ8"), e.getMessage)
    intercept[IllegalArgumentException] {
      Similarity.RescoreSource(source, F.col("id"), F.col("v"), factor = 0)
    }
  }

  test("ivfSearchQuantized: SQ8 disk index prunes to probed partitions " +
      "and scores within quantization tolerance of the float path") {
    val corpus = (for { cl <- 0 until 4; i <- 0 until 25 } yield {
      val v = Array.tabulate(8)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 7 + d * 3) % 5) * 0.1)
      (cl * 100L + i, v.toSeq)
    }).toDF("id", "v")
    val queries = (0 until 4).map { cl =>
      (1000L + cl, Seq.tabulate(8)(d => if (d == cl * 2) 10.0 else 0.0))
    }.toDF("id", "v")
    val idx = Similarity.ivfIndex(corpus, F.col("id"), F.col("v"),
      nlist = 4, trainSample = 100)
    val dir = java.nio.file.Files.createTempDirectory("graft_sq8").toString
    Similarity.ivfIndexQuantized(idx).write.partitionBy("cell")
      .parquet(dir + "/index")
    val reread = spark.read.parquet(dir + "/index")
    val oneQuery = queries.filter(F.col("id") === 1000L)
    val fromDisk = Similarity.ivfSearchQuantized(idx.centroids, reread,
      oneQuery, F.col("id"), F.col("v"), k = 5, nprobe = 1)
    val sq8 = fromDisk.collect()
      .map(r => (r.getLong(1), r.getDouble(3))).toMap
    val float = Similarity.ivfSearch(idx, oneQuery, F.col("id"),
      F.col("v"), k = 5, nprobe = 1).collect()
      .map(r => (r.getLong(1), r.getDouble(3))).toMap
    // ≥4/5 of the float path's ids recovered; every shared id's cosine
    // within the SQ8 error envelope
    assert(float.keySet.intersect(sq8.keySet).size >= 4,
      s"SQ8 recall too low: ${sq8.keySet} vs ${float.keySet}")
    for (id <- float.keySet.intersect(sq8.keySet))
      assert(math.abs(sq8(id) - float(id)) <= 0.01,
        s"SQ8 cosine off for $id: ${sq8(id)} vs ${float(id)}")
    val scan = fromDisk.queryExecution.executedPlan.toString
    val pf = scan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("cell")),
      s"SQ8 probe filter not pushed to partition pruning:\n$scan")
  }

  test("syntheticPayload yields exactly n raw bytes") {
    val rows = spark.range(3).select(
      F.length(Multimodal.syntheticPayload(F.col("id"), 100)).as("len"))
      .collect()
    assert(rows.forall(_.getInt(0) == 100))
  }

  /** A w×h PNG with a deterministic two-tone gradient. */
  private def pngBytes(w: Int, h: Int, dark: Boolean): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = if (dark) 30 else 220
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("real image decode: dimensions + luminance features from actual PNGs") {
    val rows = Seq(
      (1L, "image", pngBytes(32, 16, dark = true)),
      (2L, "image", pngBytes(8, 8, dark = false)),
      (3L, "audio", Array.fill[Byte](64)(7))) // not an image → nulls
    val df = rows.toDF("media_id", "kind", "payload")
    val dec = Multimodal.decodeImages(df, "payload", dims = 4)
      .orderBy("media_id").collect()
    assert(dec(0).getInt(3) == 32 && dec(0).getInt(4) == 16)
    // dark image: all luminance mass in the bottom bucket
    assert(dec(0).getSeq[Double](5).head == 1.0)
    // bright image: mass in the top bucket
    assert(dec(1).getSeq[Double](5).last == 1.0)
    assert(dec(2).isNullAt(3) && dec(2).isNullAt(5))
    // extractFeatures(realDecode): real for images, fake fallback for audio
    val feats = Multimodal.extractFeatures(df, "payload", dims = 4,
      realDecode = true).orderBy("media_id").collect()
    assert(feats(0).getAs[Seq[Double]]("features").head == 1.0)
    assert(feats(2).getAs[Seq[Double]]("features").forall(v => v >= 0 && v < 1))
  }

  test("real audio decode: rate/frames + RMS envelope from actual WAVs") {
    def wav(amp: Double): Array[Byte] = {
      val rate = 8000f; val n = 160
      val pcm = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        val s = (StrictMath.sin(2 * StrictMath.PI * 440 * i / rate) *
          amp * 32767).toInt.toShort
        pcm(2 * i) = (s & 0xFF).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, "audio", wav(0.9)),
      (2L, "audio", wav(0.1)),
      (3L, "image", Array.fill[Byte](64)(7))) // not audio → nulls
    val df0 = rows.toDF("media_id", "kind", "payload")
    val dec = Multimodal.decodeAudio(df0, "payload", dims = 4)
      .orderBy("media_id").collect()
    assert(dec(0).getInt(3) == 8000 && dec(0).getLong(4) == 160L)
    val loud = dec(0).getSeq[Double](5)
    val quiet = dec(1).getSeq[Double](5)
    assert(loud.forall(v => v > 0.5 && v <= 1.0), loud.toString)
    assert(quiet.forall(v => v < 0.12), quiet.toString)
    assert(dec(2).isNullAt(3) && dec(2).isNullAt(5))
    // extractFeatures(realDecode): real RMS for audio, fake for the rest
    val feats = Multimodal.extractFeatures(df0, "payload", dims = 4,
      realDecode = true).orderBy("media_id").collect()
    val f0 = feats(0).getSeq[Double](feats(0).fieldIndex("features"))
    assert(f0.toList == loud.toList)
  }

  test("real image resize re-encodes a scaled PNG") {
    val df = Seq((1L, "image", pngBytes(64, 64, dark = false), 64, 64,
      16000, 1, "png"))
      .toDF("media_id", "kind", "payload", "width", "height",
        "sample_rate", "n_frames", "format")
    val out = Multimodal.resize(df, 16, 12).collect().head
    val payload = out.getAs[Array[Byte]]("payload")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    assert(img != null && img.getWidth == 16 && img.getHeight == 12)
    assert(out.getAs[Int]("width") == 16 && out.getAs[Int]("height") == 12)
  }

  test("contamination counts shared n-grams against a benchmark set") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox sleeps all day long here"),
      (3L, "completely unrelated text about spark query engines")
    ).toDF("id", "t")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("bid", "bt")
    val out = Dedup.contamination(corpus, F.col("id"), F.col("t"),
      bench, F.col("bid"), F.col("bt"), shingleSize = 3, minOverlap = 2)
      .orderBy("doc_id").collect()
    // bench item has 7 distinct 3-grams; doc 1 contains all 7, doc 2
    // shares exactly "the quick brown" + "quick brown fox"; doc 3 none
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val byDoc = out.map(r => r.getLong(0) ->
      (r.getLong(2), r.getDouble(3))).toMap
    assert(byDoc(1L)._1 == 7L && math.abs(byDoc(1L)._2 - 1.0) < 1e-9)
    assert(byDoc(2L)._1 == 2L && math.abs(byDoc(2L)._2 - 2.0 / 7) < 1e-9)
  }

  test("contamination respects the minOverlap gate") {
    val corpus = Seq((1L, "a b c d e")).toDF("id", "t")
    val bench = Seq((9L, "a b c x y")).toDF("bid", "bt")
    // exactly one shared 3-gram ("a b c")
    assert(Dedup.contamination(corpus, F.col("id"), F.col("t"),
      bench, F.col("bid"), F.col("bt"), 3, minOverlap = 2).isEmpty)
    assert(Dedup.contamination(corpus, F.col("id"), F.col("t"),
      bench, F.col("bid"), F.col("bt"), 3, minOverlap = 1).count() == 1L)
  }

  test("decontaminate: stateless gate agrees with contamination attribution") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox sleeps all day long here"),
      (3L, "completely unrelated text about spark query engines")
    ).toDF("id", "t")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("bid", "bt")
    val hashes = Dedup.benchShingleHashes(bench, F.col("bt"), 3)
    assert(hashes.length == 7)
    val ov = corpus.select(F.col("id"),
      Dedup.contaminationOverlap(F.col("t"), hashes, 3).as("o"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ov.toSeq == Seq((1L, 7L), (2L, 2L), (3L, 0L)))
    assert(col1[Long](Dedup.decontaminate(corpus, F.col("t"), hashes, 3, 2)
      .orderBy("id"), "id") == Seq(3L))
    // streaming twin: same gate over a file-source stream, zero state
    val dir = java.nio.file.Files.createTempDirectory("graft_decon").toString
    corpus.write.parquet(dir + "/docs")
    val stream = graft.streaming.Streams.readParquetStream(
      spark, dir + "/docs", corpus.schema)
    val got = graft.streaming.Streams.runToMemory(
      Dedup.decontaminate(stream, F.col("t"), hashes, 3, 2), "t_decon")
    assert(col1[Long](got.orderBy("id"), "id") == Seq(3L))
  }

  test("quantizeInt8 round trip: codes in range, bounded error, zero vec") {
    val d = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.127f)),
      (2L, Array(0.0f, 0.0f)),                // zero vector
      (3L, Array(127.0f, -127.0f, 63.5f))
    ).toDF("id", "v")
    val out = d.select(F.col("id"),
      Similarity.quantizeInt8(F.col("v")).as("q"),
      F.col("v"))
      .select(F.col("id"), F.col("q.scale").as("scale"), F.col("q.q").as("codes"),
        Similarity.dequantizeInt8(F.col("q")).as("dq"), F.col("v"))
      .orderBy("id").collect()
    // codes bounded by construction
    out.foreach(r => r.getSeq[Byte](2).foreach(c =>
      assert(c >= -127 && c <= 127, s"code $c out of range")))
    // max |elementwise error| <= scale/2 (round-to-nearest)
    out.filter(_.getDouble(1) > 0).foreach { r =>
      val scale = r.getDouble(1)
      val v = r.getSeq[Float](4)
      val dq = r.getSeq[Double](3)
      v.zip(dq).foreach { case (x, y) =>
        assert(math.abs(x - y) <= scale / 2 + 1e-12,
          s"error ${math.abs(x - y)} exceeds half-scale $scale") }
    }
    // zero vector: scale 0, all-zero codes, zero reconstruction
    val z = out(1)
    assert(z.getDouble(1) == 0.0 && z.getSeq[Byte](2).forall(_ == 0) &&
      z.getSeq[Double](3).forall(_ == 0.0))
    // l2Normalize: unit norm, cosine preserved; zero vec passes through
    val n = d.select(F.col("id"),
      Similarity.norm(Similarity.l2Normalize(F.col("v"))).as("nn"))
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(approx(n(1L), 1.0) && approx(n(3L), 1.0) && n(2L) == 0.0)
  }

  test("QuantizeInt8 native expression equals the HOF formulation " +
      "bit-for-bit (r16: the HOF form re-evaluated the O(d) absMax " +
      "aggregate per element — O(d^2) per row on wide vectors)") {
    // the exact HOF twin the native expression replaced
    def hof(a: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val absMax = F.aggregate(a, F.lit(0.0),
        (acc, x) => F.greatest(acc, F.abs(x.cast("double"))))
      val scale = absMax / 127.0
      F.struct(
        scale.as("scale"),
        F.when(scale > 0,
          F.transform(a, x =>
            F.round(x.cast("double") / scale).cast("byte")))
          .otherwise(F.transform(a, x => F.lit(0).cast("byte"))).as("q"))
    }
    // doubles with genuine HALF_UP ties (scale 1.0 → 2.5/-2.5), floats,
    // negatives, a zero vector, and a null element
    val rows = spark.range(1).select(
      F.array(F.lit(127.0), F.lit(2.5), F.lit(-2.5), F.lit(0.3),
        F.lit(null).cast("double")).as("vd"),
      F.array(F.lit(0.5f), F.lit(-1.0f), F.lit(0.127f)).as("vf"),
      F.array(F.lit(0.0), F.lit(0.0)).as("vz"),
      F.array(F.lit(1.0), F.lit(Double.NaN),
        F.lit(null).cast("double")).as("vn"))
    def key(c: org.apache.spark.sql.Column) = rows.select(c.as("s"))
      .select(F.col("s.scale"), F.col("s.q")).collect().map(r =>
        (r.getDouble(0), r.getSeq[Any](1).toList)).toList
    for (col <- Seq("vd", "vf", "vz", "vn"))
      assert(key(Similarity.quantizeInt8(F.col(col))).toString ==
        key(hof(F.col(col))).toString, s"mismatch on $col")
    // the tie rows really exercise HALF_UP: 2.5 → 3, -2.5 → -3
    val tie = rows.select(Similarity.quantizeInt8(F.col("vd")).as("s"))
      .select(F.col("s.q")).collect().head.getSeq[Any](0)
    assert(tie(1) == 3.toByte && tie(2) == (-3).toByte && tie(4) == null,
      tie.toString)
    // a NaN element: Spark's `>` orders NaN above 0, so the HOF took the
    // QUANTIZE branch — codes 0 via the NaN-division passthrough, but
    // null elements PRESERVED (the zero-scale branch would zero them;
    // the review pass caught the first cut swapping these)
    val nan = rows.select(Similarity.quantizeInt8(F.col("vn")).as("s"))
      .select(F.col("s.q")).collect().head.getSeq[Any](0)
    assert(nan(0) == 0.toByte && nan(1) == 0.toByte && nan(2) == null,
      nan.toString)
  }

  test("corpusStats: one-row profile with exact percentiles and en share") {
    val d = Seq(
      "the cat sat on the mat for a while",   // en (9 tokens)
      "der hund ist von den bergen gekommen", // de (7 tokens)
      "one two three",                        // 3 tokens, no stopword hits
      ""                                      // 0 tokens
    ).toDF("t")
    val r = TextAnalysis.corpusStats(d, F.col("t"), exact = true)
      .collect().head
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("n_tokens") == 19L)
    assert(r.getAs[Long]("max_tokens") == 9L)
    // sorted token counts (0, 3, 7, 9): p50 = 3 + 0.5*(7-3) = 5.0
    assert(r.getAs[Double]("p50_tokens") == 5.0)
    assert(r.getAs[Long]("n_english") == 1L)
  }

  test("chunk: token windows with overlap, short tail, empty-doc drop") {
    val d = Seq(
      (1L, "a b c d e f g"), // 7 tokens
      (2L, "x y"),           // shorter than size -> one chunk
      (3L, "   ")            // whitespace-only -> no chunks
    ).toDF("id", "t")
    // size 3, overlap 1 -> stride 2: starts at tokens 1, 3, 5
    val out = TextAnalysis.chunk(d, F.col("id"), F.col("t"), 3, 1)
      .orderBy("id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 0, "a b c", 3L), (1L, 1, "c d e", 3L), (1L, 2, "e f g", 3L),
      (2L, 0, "x y", 2L)))
    // exact-fit boundary: 4 tokens, size 2, no overlap -> 2 full chunks
    val fit = TextAnalysis.chunk(Seq((9L, "p q r s")).toDF("id", "t"),
      F.col("id"), F.col("t"), 2, 0)
    assert(fit.count() == 2)
    // chunks re-join to the normalized doc when overlap = 0
    val rejoin = TextAnalysis.chunk(d.filter(F.col("id") === 1),
      F.col("id"), F.col("t"), 2, 0)
      .orderBy("chunk_id")
      .agg(F.array_join(F.collect_list("chunk_text"), " ").as("whole"))
    assert(col1[String](rejoin, "whole") == Seq("a b c d e f g"))
  }

  test("dedupLines removes cross-doc boilerplate, keeps order, drops empty") {
    val d = Seq(
      (1L, "unique one\nSHARED FOOTER\nunique two"),
      (2L, "SHARED FOOTER\nonly in two"),
      (3L, "  SHARED FOOTER  "), // trims to the shared key; doc empties out
      (4L, "solo document line")
    ).toDF("id", "t")
    val out = Dedup.dedupLines(d, F.col("id"), F.col("t"), minDocs = 3)
      .orderBy("id").collect()
    assert(out.map(r => r.getLong(0) -> r.getString(1)).toSeq == Seq(
      1L -> "unique one\nunique two",
      2L -> "only in two",
      4L -> "solo document line"))
  }

  test("packSequences: exclusive prefix + bins across many partitions") {
    val d = spark.range(0, 1000).toDF("id")
      .withColumn("tok", F.lit(7L)).repartition(13)
    val rows = Packing.packSequences(d, F.col("tok"), 100L, Seq(F.col("id")))
      .select("id", "tokens_before", "bin").orderBy("id").collect()
    assert(rows.length == 1000)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i && r.getLong(1) == 7L * i &&
        r.getLong(2) == (7L * i) / 100, s"row $i: $r")
    }
  }

  test("packSequences: oversized doc closes its bin; nulls count zero") {
    val d = Seq((1L, Some(10L)), (2L, Some(500L)), (3L, None), (4L, Some(10L)))
      .toDF("id", "tok")
    val out = Packing.packSequences(d, F.col("tok"), 100L, Seq(F.col("id")))
      .select("id", "tokens_before", "bin").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 0L, 0L), (2L, 10L, 0L),
      (3L, 510L, 5L), (4L, 510L, 5L)))
    val stats = Packing.binStats(
      Packing.packSequences(d, F.col("tok"), 100L, Seq(F.col("id"))),
      F.col("tok")).orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(stats.toSeq == Seq((0L, 2L, 510L), (5L, 2L, 10L)))
  }

  test("packSequences fails loud on a negative token count (bins would " +
      "silently go non-monotone)") {
    val d = Seq((1L, 10L), (2L, -5L)).toDF("id", "tok")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Throwable] {
      Packing.packSequences(d, F.col("tok"), 100L, Seq(F.col("id")))
        .collect()
    }
    assert(msgs(e).exists(_.contains("negative token count")), msgs(e))
  }

  test("quantileFilter keeps rows at or above the interpolated quantile") {
    val d = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    // median of 1..10 interpolates to 5.5 -> keep 6..10
    assert(col1[Long](
      TextAnalysis.quantileFilter(d, F.col("v"), 0.5, exact = true)
        .orderBy("id"), "id") == (6L to 10L))
    // q=0 keeps everything; boundary row AT the quantile is kept
    assert(TextAnalysis.quantileFilter(d, F.col("v"), 0.0, exact = true)
      .count() == 10L)
    assert(col1[Long](
      TextAnalysis.quantileFilter(d, F.col("v"), 1.0, exact = true), "id")
      == Seq(10L))
  }

  test("quantileFilter approx default satisfies the ε-quantile contract") {
    // 1000 near-unique doubles; accuracy 10000 -> rank error < 1 row
    val d = (1 to 1000).map(i => (i.toLong, i * 0.001)).toDF("id", "v")
    val kept = TextAnalysis.quantileFilter(d, F.col("v"), 0.5).count()
    // kept fraction must sit within q ± 1/accuracy (+1 row of slack for
    // the at-or-above boundary)
    assert(math.abs(kept - 500L) <= 2L, s"approx gate kept $kept of 1000")
    // the sketch threshold is an ACTUAL element (no interpolation): the
    // kept set's minimum must be a value present in the column
    val minKept = TextAnalysis.quantileFilter(d, F.col("v"), 0.5)
      .agg(F.min("v")).collect().head.getDouble(0)
    assert((minKept * 1000).round >= 499 && (minKept * 1000).round <= 501)
  }

  test("corpusStats approx percentiles are elements within rank tolerance") {
    val docs = (1 to 200).map(i => ("w " * i).trim).toDF("t") // i tokens
    val r = TextAnalysis.corpusStats(docs, F.col("t")).collect().head
    assert(r.getAs[Long]("n_docs") == 200L)
    assert(r.getAs[Long]("n_tokens") == (1 to 200).sum.toLong)
    // approx p50/p90 are actual token counts within ε·n = 0.02 ranks of
    // the true quantile on this 200-row frame
    assert(math.abs(r.getAs[Double]("p50_tokens") - 100.0) <= 1.0)
    assert(math.abs(r.getAs[Double]("p90_tokens") - 180.0) <= 1.0)
  }

  test("d37 repeated invocations hold at most one cached corpus") {
    val dir = "/root/testdata/sf0.001"
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    for (_ <- 1 to 3)
      SparkEntry.queries("d37_pipeline")(spark, dir)
        .write.mode("overwrite").format("noop").save()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"d37 cache grew from $before to $after persisted RDDs over 3 runs")
  }

  test("dedupSpans strips covered tokens, keeps order, drops emptied docs") {
    val d = Seq(
      (1L, "alpha beta gamma delta unique one"),
      (2L, "zzz alpha beta gamma delta other"),  // shares the 4-gram
      (3L, "totally different words here"),
      (4L, "alpha beta gamma delta")             // nothing survives -> dropped
    ).toDF("id", "t")
    val out = Dedup.dedupSpans(d, F.col("id"), F.col("t"),
      k = 4, minDocs = 2)
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getString(1))
    // "alpha beta gamma delta" occurs in docs 1, 2, 4 -> its 4 tokens are
    // covered wherever it appears; everything else survives in order
    assert(out.toSeq == Seq(
      1L -> "unique one",
      2L -> "zzz other",
      3L -> "totally different words here"))
    // a span below minDocs survives: same corpus at minDocs = 4
    val loose = Dedup.dedupSpans(d, F.col("id"), F.col("t"),
      k = 4, minDocs = 4)
    assert(loose.count() == 4L)
    // overlapping hot spans union their coverage: doc pair sharing a
    // 5-token run has TWO hot 4-grams; all 5 tokens must go
    val ov = Seq((1L, "a b c d e tail1"), (2L, "a b c d e tail2"))
      .toDF("id", "t")
    val o = Dedup.dedupSpans(ov, F.col("id"), F.col("t"), k = 4,
      minDocs = 2).orderBy("id").collect().map(_.getString(1))
    assert(o.toSeq == Seq("tail1", "tail2"))
    // empty / shorter-than-k docs pass through untouched
    val short = Dedup.dedupSpans(
      Seq((9L, "just three words")).toDF("id", "t"), F.col("id"),
      F.col("t"), k = 8, minDocs = 2)
    assert(col1[String](short, "text") == Seq("just three words"))
  }

  test("dedupLines counts distinct docs, not occurrences") {
    // the dup line appears 3 times but in only 2 docs -> survives minDocs=3
    val d = Seq((1L, "dup\ndup\nx"), (2L, "dup\ny")).toDF("id", "t")
    val out = Dedup.dedupLines(d, F.col("id"), F.col("t"), minDocs = 3)
      .orderBy("id").collect()
    assert(out.map(r => r.getLong(0) -> r.getString(1)).toSeq == Seq(
      1L -> "dup\ndup\nx", 2L -> "dup\ny"))
  }

  test("psi drift: hand-computed smoothed contributions, nulls excluded, " +
      "one-sided buckets finite, loud on unsorted breaks") {
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    def row(na: Long, nb: Long, ta: Long, tb: Long, k: Int) = {
      val pa = (na + 0.5) / (ta + 0.5 * k)
      val pb = (nb + 0.5) / (tb + 0.5 * k)
      (na, nb, r6(pa), r6(pb), r6((pa - pb) * math.log(pa / pb)))
    }
    // breaks (4, 8): buckets (-inf,4) [4,8) [8,inf); null excluded from a
    val a = Seq(Some(1.0), Some(5.0), Some(5.0), Some(9.0), None).toDF("v")
    val b = Seq(1.0, 1.0, 5.0, 9.0, 9.0).toDF("v")
    val out = Drift.psi(a, b, F.col("v"), Seq(4.0, 8.0)).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(out.keySet == Set(0, 1, 2))
    assert(out(0) == row(1, 2, 4, 5, 3))
    assert(out(1) == row(2, 1, 4, 5, 3))
    assert(out(2) == row(1, 2, 4, 5, 3))
    intercept[IllegalArgumentException] {
      Drift.psi(a, b, F.col("v"), Seq(8.0, 4.0))
    }
    // categorical: a label absent on one side smooths to a finite term
    val ca = Seq("en", "en", "de").toDF("lang")
    val cb = Seq("en", "fr").toDF("lang")
    val cat = Drift.psiCategorical(ca, cb, F.col("lang")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(cat.keySet == Set("en", "de", "fr"))
    assert(cat("de") == row(1, 0, 3, 2, 3))
    assert(cat("fr") == row(0, 1, 3, 2, 3))
    assert(cat.values.forall(v => !v._5.isNaN && !v._5.isInfinite))
  }

  test("unigramLogLoss: hand-computed add-one smoothing, OOV takes the " +
      "unseen bucket, tokenless docs score null") {
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    // reference: "a a b" -> counts a=2 b=1, N=3, V=2, denom=6
    val ref = Seq("a a b").toDF("t")
    val docs = Seq(
      (1L, "a b"),        // mean(-ln(3/6), -ln(2/6))
      (2L, "zzz"),        // OOV: -ln(1/6)
      (3L, ""),           // tokenless -> null
      (4L, null.asInstanceOf[String]))
      .toDF("id", "t")
    val got = TextAnalysis.unigramLogLoss(docs, F.col("id"), F.col("t"),
      ref, F.col("t")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L) == Some(r6((-math.log(3.0 / 6) - math.log(2.0 / 6)) / 2)))
    assert(got(2L) == Some(r6(-math.log(1.0 / 6))))
    assert(got(3L).isEmpty && got(4L).isEmpty)
    // the fluency ordering the gate relies on: in-distribution < OOV-dense
    assert(got(1L).get < got(2L).get)
  }

  test("scoreLinear: occurrence-weighted sum, OOV drops, id spine restores " +
      "zero-hit docs at sigmoid(bias)") {
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    val w = Seq(("good", 2.0), ("bad", -3.0)).toDF("term", "weight")
    val docs = Seq(
      (1L, "good good bad"),     // 2*2 - 3 = 1
      (2L, "Good stuff here"),   // lowercased hit: 2
      (3L, "nothing matches"),   // OOV only -> bias
      (4L, ""),                  // empty -> bias
      (5L, null.asInstanceOf[String])) // null -> bias
      .toDF("id", "t")
    val out = TextAnalysis.scoreLinear(docs, F.col("id"), F.col("t"),
      w, bias = 0.25).orderBy("doc_id")
    val got = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == r6(sig(1.0 + 0.25)))
    assert(got(2L) == r6(sig(2.0 + 0.25)))
    assert(got(3L) == r6(sig(0.25)))
    assert(got(4L) == r6(sig(0.25)))
    assert(got(5L) == r6(sig(0.25)))
    // fixed-point scale: integer weights at 1e-3, scale rebuilds the value
    val wfp = Seq(("good", 2000.0), ("bad", -3000.0)).toDF("term", "weight")
    val fp = TextAnalysis.scoreLinear(docs, F.col("id"), F.col("t"),
      wfp, bias = 0.25, scale = 0.001).orderBy("doc_id")
    assert(fp.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      == got)
  }
}
