package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.Gdf
import graft.io.{Manifest, Shards}
import graft.operators.{Dedup, Sampling, TextAnalysis}
import graft.streaming.Streams

/** Shared state of one benchmark run: the session, the tracer, and the
  * measurements the workload records while `measuring` is on. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val data: String,
    val out: String, val seed: Long) {
  var measuring = false
  // wall and application CPU time of each write-side operation and read
  val latMs = mutable.ArrayBuffer.empty[Double]
  val cpuMs = mutable.ArrayBuffer.empty[Double]
  val readMs = mutable.ArrayBuffer.empty[Double]
  val readCpuMs = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var units = 0.0   // documents the write-side operations completed
  val triggers = new TriggerLog
  /** Traced-run counts that are not times (candidates, segments, ...). */
  val counts = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def count(name: String, v: Double): Unit =
    counts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def nowMs: Double = System.nanoTime() / 1e6

  /** Time one operation (wall into `lat`, application CPU into `cpu`)
    * and return whether it succeeded; a throwing operation counts as
    * failed and leaves no sample (run.py scores it as missing every
    * figure). */
  def op(lat: mutable.ArrayBuffer[Double], cpu: mutable.ArrayBuffer[Double])(
      body: => Unit): Boolean = {
    val c0 = Jvm.appCpuMs
    val t = nowMs
    val ok = try { body; true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] operation failed: $e")
        false
    }
    val dt = nowMs - t
    val dc = Jvm.appCpuMs - c0
    if (measuring) {
      attempted += 1
      if (ok) { lat += dt; cpu += dc } else failed += 1
    }
    ok
  }

  /** Drop every cache and checkpoint block a pass left behind (as
    * graft.Bench does between queries). */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def dir(name: String): String = {
    val f = new File(out, name); f.mkdirs(); f.getPath
  }
}

trait Workload {
  /** Build fresh state for set-up repetition `rep`; the last repetition's
    * state is the one the passes run on. */
  def setup(rep: Int): Unit
  /** One pass: a fixed amount of work (the warm-up is pass 0). */
  def pass(p: Int): Unit
  /** False once the workload has run out of prepared input. */
  def hasPass(p: Int): Boolean = true
  /** Per-pass counts for the traced run, taken after the pass and before
    * its caches are released. */
  def tracedExtras(p: Int): Unit = ()
  /** Untimed: write what run.py checks. */
  def finish(): Unit
}

object Io {
  def writeJson(path: String, v: Any): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    om.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(new File(path).toPath, om.writeValueAsString(v))
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}

// ------------------------------------------------------------------ dedup ---

/** The training-data pipeline over the generated corpus: normalize +
  * quality gate, MinHash-LSH pairs, star connected components keeping one
  * document per cluster, hash split, shard export; then a read mix of
  * single-shard reads, each of the export's eight shards once.
  * Each stage boundary is materialized (eager local checkpoint) so each
  * layer's work runs inside its span. */
final class DedupPipeline(c: Ctx) extends Workload {
  private val corpus = s"${c.data}/dedup/corpus.parquet"
  private var nDocs = 0L
  private var filtered: DataFrame = _
  private var last: Map[String, Any] = Map.empty

  /** Nothing to build: open the corpus. */
  def setup(rep: Int): Unit = nDocs = c.spark.read.parquet(corpus).count()

  private def shardDir(p: Int) = s"${c.out}/shards/p$p"

  def pass(p: Int): Unit = {
    // keep only the previous pass's export on disk
    org.apache.commons.io.FileUtils.deleteQuietly(new File(shardDir(p - 2)))
    var pairs: DataFrame = null
    var clusters: DataFrame = null
    val done = c.op(c.latMs, c.cpuMs) {
      filtered = c.tr.span("TextAnalysis") {
        val norm = c.spark.read.parquet(corpus).select(F.col("doc_id"),
          TextAnalysis.normalize(F.col("text")).as("text"))
        TextAnalysis.quantileFilter(norm,
          TextAnalysis.qualityScore(F.col("text")), 0.5).localCheckpoint()
      }
      pairs = c.tr.span("Dedup.minhashDuplicatePairs") {
        Dedup.minhashDuplicatePairs(filtered, F.col("doc_id"), F.col("text"),
          threshold = 0.8, shingleSize = 3, numHashes = 64, bands = 8)
          .localCheckpoint()
      }
      clusters = c.tr.span("Dedup.duplicateClustersStar") {
        Dedup.duplicateClustersStar(pairs).localCheckpoint()
      }
      val dropped = clusters.filter(F.col("id") =!= F.col("cluster"))
        .select(F.col("id").as("doc_id"))
      val kept = filtered.join(dropped, Seq("doc_id"), "left_anti")
      val split = c.tr.span("Sampling.hashSplit") {
        Sampling.hashSplit(kept, F.col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s42")
      }
      c.tr.span("Shards.writeShards") {
        Shards.writeShards(split, F.col("doc_id"), numShards = 8,
          shardDir(p), salt = "sh42")
      }
    }
    for (k <- 0 until 8)
      c.op(c.readMs, c.readCpuMs) {
        c.tr.span("Shards.readShard") {
          Shards.readShard(c.spark, shardDir(p), k.toLong).count()
        }
      }
    if (c.measuring && done) c.units += nDocs
    // untimed: keep this pass's outputs for the checks
    if (pairs != null && clusters != null) last = Map(
      "pass" -> p,
      "filtered" -> filtered.select("doc_id").collect().map(_.getLong(0)).toSeq,
      "pairs" -> pairs.collect().map(r =>
        Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
      "clusters" -> clusters.collect().map(r =>
        Seq(r.getLong(0), r.getLong(1))).toSeq,
      "shards" -> shardDir(p))
  }

  /** The LSH layer's useful/attempted ratio: candidates from the public
    * candidate generator on the same input, against the verified pairs. */
  override def tracedExtras(p: Int): Unit = {
    val cands = Dedup.minhashLshCandidates(filtered, F.col("doc_id"),
      F.col("text"), shingleSize = 3, numHashes = 64, bands = 8).count()
    val verified = last.get("pairs").map(_.asInstanceOf[Seq[_]].size)
      .getOrElse(0)
    c.count("Dedup.lsh_candidates", cands.toDouble)
    c.count("Dedup.verified_per_candidate",
      if (cands > 0) verified.toDouble / cands else 0.0)
  }

  def finish(): Unit =
    Io.writeJson(s"${c.dir("check")}/dedup.json", last)
}

// ----------------------------------------------------------------- ingest ---

/** Streaming near-dedup ingest beside reads: the MinHash index of the base
  * corpus is built in set-up; each pass drains its feed files through
  * Streams.ingestDedupStream (tiered compaction every trigger), upserts the
  * survivors (plus revised base documents) into a manifested lake, deletes
  * keys from it, and runs the read mix: an index probe of a fixed batch and
  * four manifest range reads. Index and lake state carry across passes. */
final class Ingest(c: Ctx) extends Workload {
  private val FeedIdBase = 1000000L // gen.py: feed ids start here
  private val in = s"${c.data}/ingest"
  private val feedFiles = new File(s"$in/feed").listFiles()
    .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
  private val base = c.spark.read.parquet(s"$in/base.parquet")
  private val probe = c.spark.read.parquet(s"$in/probe.parquet")
  private val schema = base.schema
  private val docsPerFile =
    c.spark.read.parquet(feedFiles.head.getPath).count().toDouble
  private val baseDocs = base.count()
  private val mtimeBase = System.currentTimeMillis() - 86400000L
  private var rep = 0
  private var shipped = 0L
  private val ranges = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var probeKept: Seq[Long] = Nil
  private var probePass = -1
  private var lastPass = -1

  private def root = s"${c.out}/ingest/r$rep"
  private def idx = s"$root/index"
  private def lake = s"$root/lake"

  private def lakeRows(df: DataFrame, ver: Int): DataFrame =
    df.select(F.col("doc_id"), F.col("text"))
      .withColumn("n_chars", F.length(F.col("text")).cast("long"))
      .withColumn("ver", F.lit(ver))

  def setup(r: Int): Unit = {
    rep = r
    shipped = 0L
    ranges.clear()
    Dedup.writeMinhashIndex(base, F.col("doc_id"), F.col("text"), idx,
      shingleSize = 3, numHashes = 64, bands = 8)
    Manifest.writeWithManifest(lakeRows(base, 0), lake,
      statsCols = Seq("doc_id"), clusterCols = Seq("doc_id"), targetFiles = 8)
  }

  /** The feed files pass p drains: one in the warm-up, three after. */
  private def files(p: Int): Seq[Int] =
    if (p == 0) Seq(0) else (3 * p - 2) to (3 * p)

  override def hasPass(p: Int): Boolean = files(p).last < feedFiles.length

  /** Deliver pass p's feed files (one trigger each) into the live feed
    * directory with pinned mtimes that increase with the file number (the
    * file source's batch order). */
  private def ship(p: Int): Unit = files(p).foreach { k =>
    val feed = new File(s"$root/feed"); feed.mkdirs()
    val dst = new File(feed, feedFiles(k).getName)
    Files.copy(feedFiles(k).toPath, dst.toPath,
      StandardCopyOption.REPLACE_EXISTING)
    if (!dst.setLastModified(mtimeBase + k * 2000L))
      sys.error(s"feed mtime pin failed for $dst")
    shipped += feedFiles(k).length
  }

  def pass(p: Int): Unit = {
    ship(p)
    lastPass = p
    val done = c.op(c.latMs, c.cpuMs) {
      c.tr.span("Streams.ingestDedupStream") {
        val stream = Streams.readParquetStream(c.spark, s"$root/feed", schema,
          maxFilesPerTrigger = 1)
        Streams.ingestDedupStream(stream, F.col("doc_id"), F.col("text"), idx,
          s"$root/survivors/pass=$p", threshold = 0.8, name = s"ingest_r$rep",
          checkpoint = Some(s"$root/checkpoint"), compactEvery = 1,
          tieredCompaction = true)
      }
    }
    if (c.measuring && done) c.units += docsPerFile * files(p).size
    val batch = lakeRows(c.spark.read.parquet(s"$root/survivors/pass=$p"), p + 1)
      .unionByName(lakeRows(base.filter((F.col("doc_id") + p) % 29 === 0), p + 1))
    c.tr.span("Manifest.upsert") {
      Manifest.upsert(batch, lake, "doc_id", segment = s"u$p",
        clusterCols = Seq("doc_id"), targetFiles = 2)
    }
    val keys = base.filter((F.col("doc_id") * 7 + p) % 53 === 0).select("doc_id")
    c.tr.span("Manifest.deleteKeys") {
      Manifest.deleteKeys(c.spark, lake, "doc_id", keys, segment = s"d$p")
    }
    c.op(c.readMs, c.readCpuMs) {
      probeKept = c.tr.span("Dedup.dedupAgainstIndex") {
        Dedup.dedupAgainstIndex(probe, F.col("doc_id"), F.col("text"), idx,
          threshold = 0.8).select("doc_id").collect().map(_.getLong(0)).toSeq
      }
      probePass = p
    }
    // ranges over the base ids alternate with ranges over the ids fed so
    // far, each summarised through Gdf verbs
    val rnd = new scala.util.Random(c.seed * 1000003L + p)
    val fedIds = ((files(p).last + 1) * docsPerFile).toLong
    // the warm-up pass reads only two ranges: enough to compile the path
    for (i <- 0 until (if (p == 0) 2 else 4)) {
      val lo = if (i % 2 == 0) (rnd.nextDouble() * baseDocs).toLong
        else FeedIdBase + (rnd.nextDouble() * fedIds).toLong
      val hi = lo + 400L
      c.op(c.readMs, c.readCpuMs) {
        val r = c.tr.span("Manifest.readSkipping") {
          val rows = Manifest.readSkipping(c.spark, lake, "doc_id", lo, hi)
          val agg = c.tr.span("Gdf.build") {
            Gdf(rows).summariseWith { implicit g =>
              Seq("rows" -> graft.exprs.size,
                "chars" -> graft.exprs.sum(graft.gcol("n_chars")))
            }.sdf
          }
          c.tr.span("Gdf.action") { agg.collect().head }
        }
        ranges += Map("pass" -> p, "lo" -> lo, "hi" -> hi,
          "rows" -> r.getLong(0), "chars" -> Option(r.get(1)).getOrElse(0L))
      }
    }
  }

  override def tracedExtras(p: Int): Unit = {
    val segs = Option(new File(s"$idx/features").listFiles()).getOrElse(Array())
      .count(_.getName.startsWith("seg="))
    c.count("index.segments", segs)
    val inputBytes = new File(s"$in/base.parquet").length + shipped
    c.count("index.bytes_per_input_byte",
      Io.dirBytes(new File(idx)).toDouble / inputBytes)
    val listed = Manifest.manifest(c.spark, lake).count()
    val read = Manifest.readSkipping(c.spark, lake, "doc_id", 0L, 400000L)
      .inputFiles.length
    c.count("Manifest.files_read_per_listed",
      if (listed > 0) read.toDouble / listed else 0.0)
  }

  def finish(): Unit = {
    val lakeNow = Manifest.readSkipping(c.spark, lake, "doc_id", 0L,
      Long.MaxValue).select("doc_id", "text", "n_chars", "ver")
    lakeNow.write.mode("overwrite").parquet(s"${c.dir("check")}/lake")
    val surv = c.spark.read.parquet(s"$root/survivors").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    Io.writeJson(s"${c.dir("check")}/ingest.json", Map(
      "files_by_pass" -> (0 to lastPass).map(p =>
        files(p).map(feedFiles(_).getName)),
      "survivors" -> surv, "probe_pass" -> probePass,
      "probe_kept" -> probeKept, "ranges" -> ranges.toSeq))
  }
}
