package graft

import org.apache.spark.sql.{Row, functions => F}
import graft.io.Manifest
import java.nio.file.Files

/** Small manifests are replayed on the driver: the parts are read with
  * the driver-side parquet reader and composed in memory. These specs pin
  * that the replayed view is row-for-row the distributed SQL composition
  * over the parts, and that the replay runs no Spark job. */
class ManifestReplaySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def layout(dir: String): Unit =
    Manifest.writeWithManifest(
      (0L until 200L).map(i => (i, s"r$i", i * 0.5)).toDF("id", "s", "v"),
      dir, statsCols = Seq("id", "v"), clusterCols = Seq("id"),
      targetFiles = 4) // commit 0

  /** The distributed composition over `spark.read.parquet(parts)`,
    * written out here as the reference the replay must reproduce. */
  private def reference(dir: String, asOf: Option[Long]): Seq[Row] = {
    val all0 = spark.read.parquet(dir + "/_manifest/parts").drop("seg")
    val all = asOf.fold(all0)(c => all0.filter(F.col("__commit") <= c))
    all.filter(F.col("rows").isNotNull).dropDuplicates("file")
      .join(all.filter(F.col("rows").isNull).select("file"),
        Seq("file"), "left_anti")
      .drop("__commit").collect().toSeq.sortBy(_.getString(0))
  }

  private def commits(dir: String): Seq[Long] =
    Manifest.manifestCommits(spark, dir).select("commit").distinct()
      .collect().map(_.getLong(0)).toSeq.sorted

  /** Replayed `manifest` / `manifestAsOf(c)` for every servable commit
    * equal the reference, rows and columns. */
  private def assertParity(dir: String, from: Long = 0L): Unit = {
    val ref = spark.read.parquet(dir + "/_manifest/parts")
      .drop("seg", "__commit").schema
    def check(got: org.apache.spark.sql.DataFrame, asOf: Option[Long]) = {
      assert(got.schema.map(f => (f.name, f.dataType, f.nullable)) ==
        ("file" +: ref.fieldNames.filter(_ != "file").toSeq)
          .map(n => (n, ref(n).dataType, true)), s"schema at $asOf")
      assert(got.collect().toSeq.sortBy(_.getString(0)) ==
        reference(dir, asOf), s"rows at $asOf")
    }
    check(Manifest.manifest(spark, dir), None)
    commits(dir).filter(_ >= from).foreach(c =>
      check(Manifest.manifestAsOf(spark, dir, c), Some(c)))
  }

  test("replayed manifest / manifestAsOf match the distributed " +
      "composition: duplicate live rows, tombstones, keepLast parts, " +
      "floor, as-of below the floor, all-digit segment id") {
    val dir = tmp("graft_replay") + "/t"
    layout(dir)
    Manifest.deleteKeys(spark, dir, "id", (10L until 20L).toDF("id"),
      segment = "d1", retainFiles = true) // commit 1: tombstones
    // an ALL-DIGIT segment id: partition inference types it a number
    Manifest.appendWithManifest(
      (200L until 260L).map(i => (i, s"a$i", i * 0.5)).toDF("id", "s", "v"),
      dir, segment = "123") // commit 2
    Manifest.upsert(Seq((15L, "u15", 7.5), (300L, "n300", 150.0))
      .toDF("id", "s", "v"), dir, "id", segment = "u1",
      retainFiles = true) // commit 3
    assertParity(dir)
    // duplicate live rows for one file — a crashed compaction's retry
    // window: the same file listed by the fold and by a surviving part
    val parts = new java.io.File(dir + "/_manifest/parts")
    val stash = new java.io.File(dir + "/../stash")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(parts, "seg=123"), stash)
    Manifest.compactManifest(spark, dir, "c1", keepLast = 1) // floor = 2
    assert(parts.listFiles().map(_.getName).toSet ==
      Set("seg=c1", "seg=u1", "seg=rw_u1"))
    org.apache.commons.io.FileUtils.copyDirectory(stash,
      new java.io.File(parts, "seg=123"))
    assert(Manifest.manifest(spark, dir).count() <
      spark.read.parquet(dir + "/_manifest/parts")
        .filter("rows is not null").count()) // duplicates are on disk
    assertParity(dir, from = 2L)
    // as-of below the recorded floor: the same loud refusal
    val e = intercept[IllegalArgumentException] {
      Manifest.manifestAsOf(spark, dir, 1L)
    }
    assert(e.getMessage == "requirement failed: " +
      "manifestAsOf(1): history before commit 2 was " +
      "compacted away (compactManifest collapses history) — available " +
      "commits: manifestCommits", e.getMessage)
    // keepLast = 1 kept the all-digit part's successor; fold again with
    // the all-digit part NEWEST so it is the kept segment
    Manifest.appendWithManifest(
      (400L until 420L).map(i => (i, s"b$i", i * 0.5)).toDF("id", "s", "v"),
      dir, segment = "0456") // commit 4
    Manifest.compactManifest(spark, dir, "c2", keepLast = 1)
    assert(parts.listFiles().map(_.getName).toSet == Set("seg=c2", "seg=0456"))
    assertParity(dir, from = 3L)
    val ids = Manifest.readSkipping(spark, dir, "id", 0L, 5000L)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == ((0L until 260L).filterNot(i => i >= 10 && i < 20) ++
      Seq(15L, 300L) ++ (400L until 420L)).sorted)
    // the distributed fold carries the recorded data schema too: a band
    // no file overlaps still reads back schema-true
    Manifest.compactManifest(spark, dir, "c3", driverFoldMaxBytes = 0L)
    assertParity(dir, from = 4L)
    assert(Manifest.readSkipping(spark, dir, "id", 9000L, 9100L)
      .schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("id" -> "bigint", "s" -> "string", "v" -> "double"))
  }

  test("a small manifest replays with zero Spark jobs: readSkipping " +
      "before its result is consumed, manifest / manifestAsOf collects, " +
      "vacuum; deleteKeys pays no metadata job") {
    val dir = tmp("graft_replay_jobs") + "/t"
    layout(dir)
    Manifest.appendWithManifest(
      (200L until 260L).map(i => (i, s"a$i", i * 0.5)).toDF("id", "s", "v"),
      dir, segment = "b1")
    var read: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring {
      read = Manifest.readSkipping(spark, dir, "id", 50L, 70L)
    } == 0)
    assert(read.columns.toSeq == Seq("id", "s", "v"))
    assert(read.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (50L to 70L))
    assert(jobsDuring { Manifest.manifest(spark, dir).collect() } == 0)
    assert(jobsDuring { Manifest.manifestAsOf(spark, dir, 0L).collect() } == 0)
    // a band no file overlaps: the schema-true empty frame opens nothing
    var none: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring {
      none = Manifest.readSkipping(spark, dir, "id", 9000L, 9100L)
      assert(none.collect().isEmpty)
    } == 0)
    assert(none.schema == read.schema)
    // deleteKeys: 5 jobs are the envelope join and the rewrite (a local
    // key frame re-evaluates identically, so it is not snapshotted);
    // reading the manifest or the affected files' schema would add more
    // (the distributed view added 4 here)
    val deleteJobs = jobsDuring {
      Manifest.deleteKeys(spark, dir, "id", Seq(55L, 56L).toDF("id"),
        segment = "d1")
    }
    assert(deleteJobs <= 5, s"deleteKeys ran $deleteJobs jobs")
    assert(jobsDuring { Manifest.vacuum(spark, dir) } == 0)
  }

  test("a file-less layout whose parts record no data schema (written " +
      "before parts recorded it) fails readSkipping with a named error") {
    val dir = tmp("graft_replay_legacy") + "/t"
    Seq(("legacy/f0", Option.empty[Long], 0L)).toDF("file", "rows", "__commit")
      .select(F.col("file"), F.col("rows"), F.col("rows").as("min_id"),
        F.col("rows").as("max_id"), F.col("__commit"))
      .coalesce(1).write.parquet(dir + "/_manifest/parts/seg=base")
    assert(Manifest.manifest(spark, dir).count() == 0L)
    val e = intercept[IllegalStateException] {
      Manifest.readSkipping(spark, dir, "id", 0L, 10L)
    }
    assert(e.getMessage.contains("record none"), e.getMessage)
  }
}
