package graft

import graft.operators.{Dedup, Similarity, TierCompact}
import org.apache.spark.sql.{functions => F}

/** Size-tiered index compaction (r16 verdict #1): the LSM fold that makes
  * `compactEvery` on a 24/7 stream cost O(new data) per trigger instead
  * of O(index). Pins (1) the planner's geometry (classes, fanout trigger,
  * cascade, termination), (2) the MinHash fold contract — tier ≡ the
  * folded docs appended as ONE segment, cap on the merged bucket — and
  * IVF's stronger structural search-equality, (3) the base-ratio
  * escalation to the full fold, (4) crash recovery through the intent
  * marker, both roll-forward and roll-back, (5) the stream replay
  * contract (excludeSegment never folded), and (6) the segment writer's
  * single evaluation of its input. */
class TierCompactSpec extends SparkSpec {
  import spark.implicits._

  // ---- planner geometry (pure, no FS) ----------------------------------

  test("plan folds exactly the classes with >= fanout members; tier " +
      "names are deterministic in the sorted source set") {
    val unit = 64L << 10
    val bytes = Map(
      // class 0 (< 4*unit at fanout 4): four members -> fold
      "a" -> unit, "b" -> (2 * unit), "c" -> unit, "d" -> (3 * unit),
      // class 1: three members at fanout 4 -> stay
      "e" -> (5 * unit), "f" -> (9 * unit), "g" -> (15 * unit),
      // class 2: lone big tier -> stays
      "h" -> (20 * unit))
    val folds = TierCompact.plan(bytes, fanout = 4)
    assert(folds.map(_.sources.toSet) === Seq(Set("a", "b", "c", "d")))
    assert(folds.head.tier ===
      TierCompact.tierName(Seq("d", "c", "b", "a")))
    assert(TierCompact.plan(bytes - "a", fanout = 4).isEmpty)
    // fanout 2: class 0 {a,c} and {b,d}? No — classes at fanout 2 are
    // finer: a,c in class 0 (= unit), b,d in class 1 ([2u,4u)), e in
    // class 2, f in class 3, g,h in class 3/4 — verify via sizeClass
    assert(TierCompact.sizeClass(unit, 2) === 0)
    assert(TierCompact.sizeClass(2 * unit, 2) === 1)
    assert(TierCompact.sizeClass(unit - 1, 4) === 0)
    assert(TierCompact.sizeClass(4 * unit, 4) === 1)
  }

  // ---- shared fixtures ---------------------------------------------------

  private val boiler = "all rights reserved copyright notice terms of " +
    "service apply to every page of this site including this one"
  private val real = "a genuinely unique document about alpine " +
    "butterflies and their remarkable migration patterns across passes"

  private def mhRows(p: String, cols: String*): Seq[String] =
    spark.read.parquet(p).select(cols.map(F.col): _*)
      .collect().map(_.toString).toSeq.sorted

  test("tierCompactMinhashIndex: a tier fold is row-identical to the " +
      "folded docs appended as ONE segment (cap on the merged bucket), " +
      "base untouched below the ratio, cascade terminates") {
    val a = (Seq.tabulate(2)(i => (10L + i, boiler)) :+ (30L, real))
      .toDF("id", "text")
    // four tiny per-batch segments, two of which split a boilerplate
    // bucket the merged fold must cap-refuse exactly like a one-segment
    // append would
    val batches = Seq(
      Seq((20L, boiler), (40L, real + " one")),
      Seq((21L, boiler), (41L, real + " two")),
      Seq((22L, boiler), (42L, real + " three")),
      Seq((23L, boiler), (43L, real + " four")))
    val dir = java.nio.file.Files.createTempDirectory("graft_mhtier")
      .toString
    val tiered = dir + "/tiered"
    val oneSeg = dir + "/oneseg"
    for (p <- Seq(tiered, oneSeg))
      Dedup.writeMinhashIndex(a, F.col("id"), F.col("text"), p,
        shingleSize = 3, numHashes = 64, bands = 16, maxBucket = 5)
    batches.zipWithIndex.foreach { case (b, i) =>
      Dedup.appendToMinhashIndex(b.toDF("id", "text"), F.col("id"),
        F.col("text"), tiered, segment = s"b$i")
    }
    // the equivalent single-segment append of the same docs
    Dedup.appendToMinhashIndex(
      batches.flatten.toDF("id", "text"), F.col("id"), F.col("text"),
      oneSeg, segment = "merged")
    val baseFeatures = mhRows(tiered + "/features/seg=base", "id")
    // a huge ratio keeps base out of it; fanout 4 folds the four
    // same-class segments into one tier
    val report = Dedup.tierCompactMinhashIndex(spark, tiered,
      fanout = 4, baseFoldRatio = 1e9)
    assert(!report.baseFolded && report.healed.isEmpty)
    assert(report.folds.map(_.sources.toSet) ===
      Seq(Set("b0", "b1", "b2", "b3")))
    val tier = report.folds.head.tier
    // features and postings of the tier == the one-segment append's
    // (modulo the segment label)
    assert(mhRows(s"$tiered/features/seg=$tier", "id", "sh") ===
      mhRows(s"$oneSeg/features/seg=merged", "id", "sh"))
    assert(mhRows(s"$tiered/postings/seg=$tier", "band", "bucket", "ids")
      === mhRows(s"$oneSeg/postings/seg=merged", "band", "bucket", "ids"))
    // base is untouched, sources are gone
    assert(mhRows(tiered + "/features/seg=base", "id") === baseFeatures)
    val segs = spark.read.parquet(tiered + "/features")
      .select("seg").distinct().collect().map(_.getString(0)).toSet
    assert(segs === Set("base", tier))
    // probe decisions equal the one-segment twin's on every doc class
    val probe = Seq((1L, boiler), (2L, real), (3L, real + " one"))
      .toDF("id", "text")
    def survivors(p: String) = col1[Long](Dedup.dedupAgainstIndex(probe,
      F.col("id"), F.col("text"), p, threshold = 0.8).orderBy("id"), "id")
    assert(survivors(tiered) === survivors(oneSeg))
    // idempotent: nothing left to fold
    val again = Dedup.tierCompactMinhashIndex(spark, tiered,
      fanout = 4, baseFoldRatio = 1e9)
    assert(again.folds.isEmpty && !again.baseFolded)
  }

  test("tierCompactMinhashIndex: base-ratio escalation runs the full " +
      "fold; excludeSegment is never folded") {
    val a = (Seq.tabulate(2)(i => (10L + i, boiler)) :+ (30L, real))
      .toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_mhtierb")
      .toString + "/idx"
    Dedup.writeMinhashIndex(a, F.col("id"), F.col("text"), dir,
      shingleSize = 3, numHashes = 64, bands = 16, maxBucket = 5)
    Dedup.appendToMinhashIndex(Seq((20L, boiler)).toDF("id", "text"),
      F.col("id"), F.col("text"), dir, segment = "b0")
    Dedup.appendToMinhashIndex(Seq((21L, real + " x")).toDF("id", "text"),
      F.col("id"), F.col("text"), dir, segment = "b1")
    // tiny ratio: segments instantly outweigh it -> full fold, but the
    // excluded in-flight segment must survive with its own label
    val report = Dedup.tierCompactMinhashIndex(spark, dir,
      excludeSegment = Some("b1"), fanout = 4, baseFoldRatio = 1e-9)
    assert(report.baseFolded && report.folds.isEmpty)
    val segs = spark.read.parquet(dir + "/features")
      .select("seg").distinct().collect().map(_.getString(0)).toSet
    assert(segs === Set("base", "b1"))
  }

  test("tierCompact crash recovery: a fold that crashed after the " +
      "renames rolls FORWARD (sources deleted); one that crashed " +
      "mid-rename rolls BACK (tier dropped, sources intact)") {
    val a = (Seq.tabulate(2)(i => (10L + i, boiler)) :+ (30L, real))
      .toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_mhtierr")
      .toString + "/idx"
    Dedup.writeMinhashIndex(a, F.col("id"), F.col("text"), dir,
      shingleSize = 3, numHashes = 64, bands = 16, maxBucket = 5)
    (0 until 4).foreach(i => Dedup.appendToMinhashIndex(
      Seq((20L + i, real + s" $i")).toDF("id", "text"), F.col("id"),
      F.col("text"), dir, segment = s"b$i"))
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // roll-forward: simulate "renames done, source deletes not" — fold
    // normally, then resurrect the marker and one source from a copy
    val pre = Dedup.tierCompactMinhashIndex(spark, dir, fanout = 4,
      baseFoldRatio = 1e9)
    val tier = pre.folds.head.tier
    // fabricate the crashed state: marker present, a stale source dir back
    TierCompact.writeMarker(fs, root, TierCompact.Fold(Seq("b0"), tier))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "features/seg=b0"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "postings/seg=b0"))
    val healedFwd = Dedup.tierCompactMinhashIndex(spark, dir, fanout = 4,
      baseFoldRatio = 1e9)
    assert(healedFwd.healed === Seq(tier))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
      "features/seg=b0")), "roll-forward must finish the source deletes")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir,
      s"features/seg=$tier")))

    // roll-back: marker names a tier whose dirs never fully landed
    TierCompact.writeMarker(fs, root,
      TierCompact.Fold(Seq("never"), "tfdeadbeef00"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir,
      "features/seg=tfdeadbeef00")) // features renamed, postings not
    val healedBack = Dedup.tierCompactMinhashIndex(spark, dir, fanout = 4,
      baseFoldRatio = 1e9)
    assert(healedBack.healed === Seq("tfdeadbeef00"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
      "features/seg=tfdeadbeef00")), "partial tier must be dropped")
  }

  test("appendToMinhashIndex evaluates its input's text once: postings " +
      "band-fold from the written features, not a second text pass") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhonce")
      .toString + "/idx"
    Dedup.writeMinhashIndex(Seq((30L, real)).toDF("id", "text"),
      F.col("id"), F.col("text"), dir, shingleSize = 3, numHashes = 64,
      bands = 16)
    val textRows = spark.sparkContext.longAccumulator("append_text_rows")
    val countedText = F.udf { (t: String) => textRows.add(1L); t }
    val batch = Seq((20L, boiler), (40L, real + " one"), (41L, real + " two"))
      .toDF("id", "text")
    Dedup.appendToMinhashIndex(batch, F.col("id"), countedText(F.col("text")),
      dir, segment = "b0")
    assert(textRows.value === 3L)
    // both tables carry the segment: features for every doc, postings
    // from the read-back (every doc lands in every band, cap 1000)
    assert(mhRows(s"$dir/features/seg=b0", "id") ===
      Seq("[20]", "[40]", "[41]"))
    assert(spark.read.parquet(s"$dir/postings/seg=b0").select("band")
      .distinct().count() === 16L)
    // a batch whose docs all died appends nothing, and fails nothing
    Dedup.appendToMinhashIndex(batch.limit(0), F.col("id"), F.col("text"),
      dir, segment = "b1")
    for (t <- Seq("features", "postings"))
      assert(!new java.io.File(s"$dir/$t/seg=b1").exists(), t)
  }

  test("tierCompactIvfIndex: search results identical across tier folds " +
      "(float and SQ8 payloads), base-ratio escalation delegates to the " +
      "full fold") {
    val corpus = (for { cl <- 0 until 4; i <- 0 until 25 } yield {
      val v = Array.tabulate(8)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 7 + d * 3) % 5) * 0.1)
      (cl * 100L + i, v.toSeq)
    }).toDF("id", "v")
    val queries = (0 until 4).map { cl =>
      (1000L + cl, Seq.tabulate(8)(d => if (d == cl * 2) 10.0 else 0.0))
    }.toDF("id", "v")
    for (sq8 <- Seq(false, true)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_ivftier")
        .toString + "/idx"
      Similarity.writeIvfIndex(corpus.filter(F.col("id") % 5 === 0),
        F.col("id"), F.col("v"), dir, nlist = 4, trainSample = 100,
        sq8 = sq8)
      (1 to 4).foreach(m => Similarity.appendToIvfIndex(
        corpus.filter(F.col("id") % 5 === m), F.col("id"), F.col("v"),
        dir, s"b$m"))
      // nprobe 2 of 4: the INTERIOR probed path (nprobe = nlist would
      // route to the brute scan, where segment layout is trivially
      // invisible) — cell-pruned multi-segment reads are what the fold
      // must leave undisturbed
      def search() = Similarity.searchIvfIndex(spark, dir, queries,
        F.col("id"), F.col("v"), k = 5, nprobe = 2).collect().toSet
      val before = search()
      val report = Similarity.tierCompactIvfIndex(spark, dir, fanout = 4,
        baseFoldRatio = 1e9)
      assert(!report.baseFolded && report.folds.size === 1,
        s"sq8=$sq8: ${report.folds}")
      assert(report.folds.head.sources.toSet ===
        Set("b1", "b2", "b3", "b4"))
      assert(search() === before, s"sq8=$sq8: fold changed results")
      val segs = spark.read.parquet(dir + "/assigned")
        .select("seg").distinct().collect().map(_.getString(0)).toSet
      assert(segs === Set("base", report.folds.head.tier))
      // escalation: tiny ratio folds everything into base (full compact)
      val esc = Similarity.tierCompactIvfIndex(spark, dir,
        baseFoldRatio = 1e-9)
      assert(esc.baseFolded)
      assert(search() === before, s"sq8=$sq8: base fold changed results")
      assert(spark.read.parquet(dir + "/assigned").select("seg")
        .distinct().collect().map(_.getString(0)).toSet === Set("base"))
    }
  }

  test("tierCompactIvfIndex crash recovery: roll-forward finishes the " +
      "source deletes, roll-back drops a stage leftover, search correct " +
      "after heal") {
    // the MinHash crash test exercises the shared protocol over a
    // two-table index; this pins the IVF entry's wiring (single
    // `assigned` table, normalized root) through the same two paths
    val corpus = (for { cl <- 0 until 2; i <- 0 until 10 } yield {
      val v = Seq.tabulate(8)(d =>
        (if (d == cl * 4) 10.0 else 0.0) + (i % 3) * 0.1)
      (cl * 100L + i, v)
    }).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivftierr")
      .toString + "/idx"
    Similarity.writeIvfIndex(corpus.filter(F.col("id") % 5 === 0),
      F.col("id"), F.col("v"), dir, nlist = 2, trainSample = 100)
    (1 to 4).foreach(m => Similarity.appendToIvfIndex(
      corpus.filter(F.col("id") % 5 === m), F.col("id"), F.col("v"),
      dir, s"b$m"))
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def search() = {
      val q = Seq((1000L, Seq.tabulate(8)(d => if (d == 0) 10.0 else 0.0)))
        .toDF("id", "v")
      Similarity.searchIvfIndex(spark, dir, q, F.col("id"), F.col("v"),
        k = 3, nprobe = 2).collect().toSet
    }
    val want = search()
    val pre = Similarity.tierCompactIvfIndex(spark, dir, fanout = 4,
      baseFoldRatio = 1e9)
    val tier = pre.folds.head.tier
    // roll-forward: marker present, a stale (already-folded) source back
    TierCompact.writeMarker(fs, root, TierCompact.Fold(Seq("b1"), tier))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "assigned/seg=b1"))
    val fwd = Similarity.tierCompactIvfIndex(spark, dir, fanout = 4,
      baseFoldRatio = 1e9)
    assert(fwd.healed === Seq(tier))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
      "assigned/seg=b1")), "roll-forward must finish the source deletes")
    assert(search() === want, "heal changed results")
    // roll-back: marker for a tier that never landed, stage dir leftover
    TierCompact.writeMarker(fs, root,
      TierCompact.Fold(Seq("never"), "tfdeadbeef00"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir,
      "__tierstage_tfdeadbeef00/assigned"))
    val back = Similarity.tierCompactIvfIndex(spark, dir, fanout = 4,
      baseFoldRatio = 1e9)
    assert(back.healed === Seq("tfdeadbeef00"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
      "assigned/seg=tfdeadbeef00")), "partial tier must be absent")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
      "__tierstage_tfdeadbeef00")), "crashed stage dir must be cleaned")
    assert(search() === want, "roll-back changed results")
  }

  test("tierCompactIvfIndex: tier writes are cell-balanced — a hot cell " +
      "past maxCellRowsPerFile splits into ceil(rows/cap) files inside " +
      "the tier segment, cold cells keep one, search unchanged") {
    // 110 of 120 vectors share one direction -> one HOT cell; the rest
    // land in the other. Mirrors the compactIvfIndex hot-cell spec
    // (scaling/ivf_hotcell.json): a tier can reach baseFoldRatio of the
    // index, so an uncapped tier write would recreate the straggler.
    val corpus = (0 until 120).map { i =>
      val hot = i < 110
      val v = Seq.tabulate(8)(d =>
        (if (d == (if (hot) 0 else 4)) 10.0 else 0.0) + (i % 7) * 0.01)
      (i.toLong, v)
    }.toDF("id", "v")
    val queries = Seq(
      (1000L, Seq.tabulate(8)(d => if (d == 0) 10.0 else 0.0)),
      (1001L, Seq.tabulate(8)(d => if (d == 4) 10.0 else 0.0)))
      .toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivftierhot")
      .toString + "/idx"
    // training slice spans BOTH directions (ids 0,29,58,87 hot; 116 cold)
    Similarity.writeIvfIndex(corpus.filter(F.col("id") % 29 === 0),
      F.col("id"), F.col("v"), dir, nlist = 2, trainSample = 200)
    // append the other 115: hot cell gets ~106 tier rows (>> cap 10),
    // cold gets 9 (under it)
    (0 until 4).foreach(m => Similarity.appendToIvfIndex(
      corpus.filter(F.col("id") % 29 =!= 0 && F.col("id") % 4 === m),
      F.col("id"), F.col("v"), dir, s"b$m"))
    def search() = Similarity.searchIvfIndex(spark, dir, queries,
      F.col("id"), F.col("v"), k = 3, nprobe = 1).collect().toSet
    val before = search()
    val report = Similarity.tierCompactIvfIndex(spark, dir, fanout = 4,
      baseFoldRatio = 1e9, maxCellRowsPerFile = 10L)
    assert(!report.baseFolded && report.folds.size === 1, report.toString)
    val tier = report.folds.head.tier
    assert(search() === before, "capped tier fold changed results")
    // per-cell file counts inside the tier segment
    def cellFiles(cell: String): Int = {
      val d = new java.io.File(s"$dir/assigned/seg=$tier/cell=$cell")
      assert(d.isDirectory, s"missing $d")
      d.listFiles().count(_.getName.endsWith(".parquet"))
    }
    val cellRows = spark.read.parquet(s"$dir/assigned")
      .filter(F.col("seg") === tier).groupBy("cell")
      .agg(F.count(F.lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(cellRows.values.max >= 90L, s"fixture: no hot cell in $cellRows")
    cellRows.foreach { case (cell, n) =>
      val expect = math.ceil(n.toDouble / 10.0).toInt
      val got = cellFiles(cell.toString)
      if (n <= 10L) assert(got === 1,
        s"cold cell $cell: $got files for $n rows")
      else assert(got >= expect,
        s"hot cell $cell: $got files for $n rows, cap 10 needs >= $expect")
    }
  }

  test("ingest streams run the tiered compactor in-line: segment count " +
      "stays bounded and the out table equals the untiered run's") {
    val docs = (0 until 40).map(i =>
      (i.toLong, if (i % 10 == 0) boiler else real + s" variant $i"))
    val base = java.nio.file.Files.createTempDirectory("graft_sttier")
    def run(tiered: Boolean): (Set[Long], Int) = {
      val d = s"$base/${if (tiered) "t" else "u"}"
      val idx = s"$d/idx"
      val out = s"$d/out"
      val feed = new java.io.File(s"$d/feed"); feed.mkdirs()
      Dedup.writeMinhashIndex(
        Seq((1000L, "seed document entirely unlike the corpus seen here"))
          .toDF("id", "text"),
        F.col("id"), F.col("text"), idx, shingleSize = 3,
        numHashes = 64, bands = 16, maxBucket = 10)
      val groups = docs.grouped(8).toSeq
      groups.zipWithIndex.foreach { case (g, i) =>
        val tmpDir = s"$d/tmp$i"
        g.toDF("id", "text").coalesce(1).write.parquet(tmpDir)
        val part = new java.io.File(tmpDir).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).get
        val dst = new java.io.File(feed, s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        assert(dst.setLastModified(
          System.currentTimeMillis() - 600000L + i * 2000L))
      }
      graft.streaming.Streams.ingestDedupStream(
        graft.streaming.Streams.readParquetStream(spark, feed.toString,
          groups.head.toDF("id", "text").schema, maxFilesPerTrigger = 1),
        F.col("id"), F.col("text"), idx, out, threshold = 0.8,
        name = s"tier_ingest_$tiered",
        compactEvery = 1, tieredCompaction = tiered)
      val survivors = spark.read.parquet(out)
        .select("id").collect().map(_.getLong(0)).toSet
      val segs = spark.read.parquet(s"$idx/features").select("seg")
        .distinct().count().toInt
      (survivors, segs)
    }
    val (tSurv, tSegs) = run(tiered = true)
    val (uSurv, uSegs) = run(tiered = false)
    assert(tSurv === uSurv,
      "tiered and full compaction must accept the same docs")
    assert(uSegs <= 2, s"full fold leaves base+last, got $uSegs")
    // tiered: base + at most a handful of tiers/live segments — the
    // bounded-count invariant (fanout 4 over 5 batches can leave up to
    // base + 1 tier + live leftovers)
    assert(tSegs <= 4, s"tiered fold must bound segments, got $tSegs")
  }
}
