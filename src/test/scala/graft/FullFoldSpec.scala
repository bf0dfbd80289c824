package graft

import graft.operators.{Dedup, Similarity, TierCompact}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{functions => F}

/** The full fold (`compactMinhashIndex`, `compactIvfIndex`) is the top
  * tier fold: `base` plus every non-excluded segment, committed through
  * the intent-marker protocol and promoted to `seg=base`. Pins (1) that
  * the excluded in-flight segment is not rewritten — its files keep their
  * paths and modification times and no block is left behind — and (2)
  * every crash point of the protocol: probe decisions in the crashed
  * state equal the uncrashed index's, and the next compaction heals the
  * fold into an index row-identical to the uncrashed one. */
class FullFoldSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fs = new Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def copy(src: String, dst: String): Unit =
    assert(FileUtil.copy(fs, new Path(src), fs, new Path(dst), false,
      spark.sparkContext.hadoopConfiguration), s"copy $src -> $dst")

  private def rename(src: String, dst: String): Unit = {
    fs.mkdirs(new Path(dst).getParent)
    assert(fs.rename(new Path(src), new Path(dst)), s"rename $src -> $dst")
  }

  /** path -> modification time of every data file under `dir`. */
  private def fileStamps(dir: String): Map[String, Long] = {
    val it = fs.listFiles(new Path(dir), true)
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        b += f.getPath.toString -> f.getModificationTime
    }
    b.result()
  }

  private def rows(p: String, cols: String*): Seq[String] =
    spark.read.parquet(p).select(cols.map(F.col): _*)
      .collect().map(_.toString).toSeq.sorted

  private def segs(p: String): Set[String] =
    spark.read.parquet(p).select("seg").distinct()
      .collect().map(_.getString(0)).toSet

  private val real = "a genuinely unique document about alpine " +
    "butterflies and their remarkable migration patterns across passes"
  private val other = "notes on the restoration of a small harbour " +
    "lighthouse with its original lens and brass fittings intact"

  private def mhTemplate(dir: String): Unit = {
    Dedup.writeMinhashIndex(
      Seq((10L, real), (11L, other)).toDF("id", "text"),
      F.col("id"), F.col("text"), dir, shingleSize = 3, numHashes = 64,
      bands = 16)
    Seq("b0" -> Seq((20L, real + " zero")), "b1" -> Seq((21L, other + " one")),
      "b2" -> Seq((22L, "a third unrelated text about kettles and steam " +
        "engines in victorian railway workshops")))
      .foreach { case (seg, docs) =>
        Dedup.appendToMinhashIndex(docs.toDF("id", "text"), F.col("id"),
          F.col("text"), dir, segment = seg)
      }
  }

  test("compactMinhashIndex and compactIvfIndex leave the excluded " +
      "segment's files in place and no persisted block behind") {
    val dir = tmp("graft_ffkeep") + "/idx"
    mhTemplate(dir)
    val before = Seq("features", "postings")
      .map(t => fileStamps(s"$dir/$t/seg=b0")).reduce(_ ++ _)
    assert(before.nonEmpty)
    val cached = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val report = Dedup.compactMinhashIndex(spark, dir,
      excludeSegment = Some("b0"))
    assert(report.baseFolded && report.healed.isEmpty)
    assert(Seq("features", "postings")
      .map(t => fileStamps(s"$dir/$t/seg=b0")).reduce(_ ++ _) === before)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === cached)
    assert(segs(s"$dir/features") === Set("base", "b0"))
    assert(segs(s"$dir/postings") === Set("base", "b0"))
    assert(fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet ===
      Set("features", "postings", "meta"), "no stage or marker left")

    val corpus = (0 until 40).map(i => (i.toLong,
      Seq.tabulate(8)(d => (if (d == i % 4 * 2) 10.0 else 0.0) + i * 0.01)))
      .toDF("id", "v")
    val ivf = tmp("graft_ffkeepivf") + "/idx"
    Similarity.writeIvfIndex(corpus.filter(F.col("id") % 4 === 0),
      F.col("id"), F.col("v"), ivf, nlist = 4, trainSample = 100)
    (1 to 3).foreach(m => Similarity.appendToIvfIndex(
      corpus.filter(F.col("id") % 4 === m), F.col("id"), F.col("v"), ivf,
      s"b$m"))
    val ivfBefore = fileStamps(s"$ivf/assigned/seg=b3")
    assert(ivfBefore.nonEmpty)
    val ivfReport = Similarity.compactIvfIndex(spark, ivf,
      excludeSegment = Some("b3"))
    assert(ivfReport.baseFolded && ivfReport.healed.isEmpty)
    assert(fileStamps(s"$ivf/assigned/seg=b3") === ivfBefore)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === cached)
    assert(segs(s"$ivf/assigned") === Set("base", "b3"))
  }

  test("full MinHash fold crash points: every state probes like the " +
      "uncrashed index, and the next compaction heals it row-identically") {
    val root = tmp("graft_ffcrash")
    val template = s"$root/template"
    mhTemplate(template)
    val uncrashed = s"$root/uncrashed"
    copy(template, uncrashed)
    Dedup.compactMinhashIndex(spark, uncrashed, excludeSegment = Some("b2"))
    val fold = TierCompact.baseFold(Seq("b0", "b1"))
    val tier = fold.tier
    val probe = Seq((1L, real), (2L, other + " one"), (3L, real + " zero"),
      (4L, "an entirely fresh text about glacier lakes and their fish"))
      .toDF("id", "text")
    def kills(p: String): Set[Long] = {
      val kept = col1[Long](Dedup.dedupAgainstIndex(probe, F.col("id"),
        F.col("text"), p, threshold = 0.8), "id").toSet
      Set(1L, 2L, 3L, 4L) -- kept
    }
    val want = kills(uncrashed)
    assert(want === Set(1L, 2L, 3L), "fixture: probe kills")
    // the new base of each table, as the fold staged it: the uncrashed
    // fold renamed exactly these files from its stage to seg=base
    def newBase(t: String) = s"$uncrashed/$t/seg=base"
    def stage(d: String, t: String) = s"$d/__tierstage_$tier/$t"
    def deleteSources(d: String, t: String): Unit =
      fold.sources.foreach(s => fs.delete(new Path(s"$d/$t/seg=$s"), true))
    val states: Seq[(String, String => Unit)] = Seq(
      "marker only" -> { d =>
        Seq("features", "postings").foreach(t => copy(newBase(t), stage(d, t)))
      },
      "features renamed in, postings not" -> { d =>
        copy(newBase("features"), s"$d/features/seg=$tier")
        copy(newBase("postings"), stage(d, "postings"))
      },
      "both renamed, sources present" -> { d =>
        Seq("features", "postings")
          .foreach(t => copy(newBase(t), s"$d/$t/seg=$tier"))
      },
      "sources deleted, nothing promoted" -> { d =>
        Seq("features", "postings").foreach { t =>
          copy(newBase(t), s"$d/$t/seg=$tier")
          deleteSources(d, t)
        }
      },
      "features promoted, postings not" -> { d =>
        Seq("features", "postings").foreach { t =>
          copy(newBase(t), s"$d/$t/seg=$tier")
          deleteSources(d, t)
        }
        rename(s"$d/features/seg=$tier", s"$d/features/seg=base")
      })
    states.zipWithIndex.foreach { case ((name, crash), i) =>
      val d = s"$root/crash$i"
      copy(template, d)
      TierCompact.writeMarker(fs, new Path(d), fold)
      crash(d)
      assert(kills(d) === want, s"$name: probe decisions")
      // alternate the two entry points; each must heal, then (rolled-back
      // states) re-run the fold
      val report =
        if (i % 2 == 0)
          Dedup.compactMinhashIndex(spark, d, excludeSegment = Some("b2"))
        else Dedup.tierCompactMinhashIndex(spark, d,
          excludeSegment = Some("b2"), baseFoldRatio = 1e-9)
      assert(report.healed === Seq(tier), name)
      for ((t, cols) <- Seq("features" -> Seq("id", "sh", "seg"),
          "postings" -> Seq("band", "bucket", "ids", "seg")))
        assert(rows(s"$d/$t", cols: _*) === rows(s"$uncrashed/$t", cols: _*),
          s"$name: $t after heal")
      assert(fs.listStatus(new Path(d)).map(_.getPath.getName).toSet ===
        Set("features", "postings", "meta"), s"$name: leftovers")
      assert(kills(d) === want, s"$name: probe decisions after heal")
    }
  }

  test("full IVF fold crash point: assigned renamed in (sources deleted) " +
      "but not promoted searches like the uncrashed index and heals") {
    val corpus = (for { cl <- 0 until 4; i <- 0 until 10 } yield {
      val v = Seq.tabulate(8)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 7 + d * 3) % 5) * 0.1)
      (cl * 100L + i, v)
    }).toDF("id", "v")
    val queries = (0 until 4).map { cl =>
      (1000L + cl, Seq.tabulate(8)(d => if (d == cl * 2) 10.0 else 0.0))
    }.toDF("id", "v")
    val root = tmp("graft_ffcrashivf")
    val template = s"$root/template"
    Similarity.writeIvfIndex(corpus.filter(F.col("id") % 3 === 0),
      F.col("id"), F.col("v"), template, nlist = 4, trainSample = 100)
    (1 to 2).foreach(m => Similarity.appendToIvfIndex(
      corpus.filter(F.col("id") % 3 === m), F.col("id"), F.col("v"),
      template, s"b$m"))
    def search(p: String) = Similarity.searchIvfIndex(spark, p, queries,
      F.col("id"), F.col("v"), k = 5, nprobe = 2).collect().toSet
    val uncrashed = s"$root/uncrashed"
    copy(template, uncrashed)
    Similarity.compactIvfIndex(spark, uncrashed, excludeSegment = Some("b2"))
    val want = search(uncrashed)
    val fold = TierCompact.baseFold(Seq("b1"))
    val d = s"$root/crash"
    copy(template, d)
    TierCompact.writeMarker(fs, new Path(d), fold)
    copy(s"$uncrashed/assigned/seg=base", s"$d/assigned/seg=${fold.tier}")
    fold.sources.foreach(s =>
      fs.delete(new Path(s"$d/assigned/seg=$s"), true))
    assert(search(d) === want, "crashed state")
    val report = Similarity.compactIvfIndex(spark, d,
      excludeSegment = Some("b2"))
    assert(report.healed === Seq(fold.tier))
    assert(search(d) === want, "after heal")
    assert(segs(s"$d/assigned") === Set("base", "b2"))
  }
}
