package graft

import org.apache.spark.sql.{functions => F}
import graft.io.Manifest
import java.nio.file.Files

/** r17 optimization: manifest stats are harvested from parquet FOOTER
  * statistics (zero jobs, no post-write re-scan) with the column-pruned
  * scan as fallback. These tests pin the load-bearing parity facts:
  * footer-harvested parts must be byte-interchangeable with scan-harvested
  * ones — same file-identity strings (`input_file_name()` form), same
  * min/max/rows values — and every inexactness hazard (NaN doubles,
  * non-primitive types) must take the fallback and still match the scan. */
class ManifestFooterSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Scan-harvest ground truth, computed independently of Manifest. */
  private def scanStats(url: String, cols: Seq[String]) = {
    val aggs = F.count(F.lit(1)).as("rows") +: cols.flatMap(c =>
      Seq(F.min(F.col(c)).as(s"min_$c"), F.max(F.col(c)).as(s"max_$c")))
    spark.read.parquet(url)
      .select(F.input_file_name().as("file") +: cols.map(F.col): _*)
      .groupBy("file").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getString(0) ->
        (1 until r.length).map(i => r.get(i)).toVector).toMap
  }

  private def manifestStats(url: String, cols: Seq[String]) =
    Manifest.manifest(spark, url)
      .select(F.col("file") +: F.col("rows") +: cols.flatMap(c =>
        Seq(F.col(s"min_$c"), F.col(s"max_$c"))): _*)
      .collect().map(r => r.getString(0) ->
        (1 until r.length).map(i => r.get(i)).toVector).toMap

  /** Value equality with NaN == NaN (boxed-equals semantics): the scan
    * harvest legitimately records NaN bounds and the comparison must not
    * fail on IEEE NaN != NaN. */
  private def sameStats(a: Vector[Any], b: Vector[Any]): Boolean =
    a.size == b.size &&
      a.zip(b).forall { case (x, y) => java.util.Objects.equals(x, y) }

  test("footer harvest matches scan harvest byte-for-byte: numerics, " +
      "nulls, zero, negative, file identity strings") {
    val dir = tmp("graft_mfoot") + "/t"
    val df = Seq(
      (1L, 0.0, 7, "a"), (2L, -3.5, -2, "b"), (3L, 9.25, 0, "c"),
      (4L, Double.MinPositiveValue, 41, "d"), (5L, -0.0, 3, "e"),
      (6L, 2.0, 9, "f"), (7L, 1.0, 1, "g"), (8L, 4.0, 2, "h"))
      .toDF("id", "v", "k", "s")
      // null stripe in v: min/max must ignore nulls on both paths
      .withColumn("v", F.when(F.col("id") % 4 === 0,
        F.lit(null).cast("double")).otherwise(F.col("v")))
    val cols = Seq("id", "v", "k")
    Manifest.writeWithManifest(df, dir, statsCols = cols,
      clusterCols = Seq("id"), targetFiles = 3)
    val got = manifestStats(dir, cols)
    val want = scanStats(dir, cols)
    assert(got.keySet == want.keySet,
      s"file identity mismatch: ${got.keySet} vs ${want.keySet}")
    got.foreach { case (f, v) =>
      assert(v == want(f), s"stats mismatch at $f: $v vs ${want(f)}") }
  }

  test("footer harvest parity holds through append + upsert + delete " +
      "(mixed driver-written and scan-written parts read as one manifest)") {
    val dir = tmp("graft_mfoot_mut") + "/t"
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(F.col("id"), (F.col("id") % 5).cast("int").as("k"),
        (F.col("id") * 1.5).as("v"),
        F.concat(F.lit("x"), F.col("id")).as("s"))
    Manifest.writeWithManifest(mk(0, 40), dir, statsCols = Seq("id", "v"),
      clusterCols = Seq("id"), targetFiles = 2)
    Manifest.appendWithManifest(mk(40, 60), dir, segment = "b0",
      clusterCols = Seq("id"), targetFiles = 2)
    // upsert rewrites a stripe (drives writePartRows through upsert AND
    // deleteKeys); the read-back must be plain MERGE semantics
    Manifest.upsert(mk(30, 50).withColumn("v", F.col("v") + 100.0),
      dir, "id", segment = "u0")
    val got = Manifest.readSkipping(spark, dir, "id", 0L, 999L)
      .select("id", "v").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = (0L until 30L).map(i => (i, i * 1.5)) ++
      (30L until 50L).map(i => (i, i * 1.5 + 100.0)) ++
      (50L until 60L).map(i => (i, i * 1.5))
    assert(got == want)
    // manifest stats still agree with a fresh scan of the live files
    val live = manifestStats(dir, Seq("id", "v"))
    val scan = scanStats(dir, Seq("id", "v"))
    live.foreach { case (f, v) =>
      assert(scan.contains(f), s"manifest lists unknown file $f")
      assert(v == scan(f), s"stats mismatch at $f: $v vs ${scan(f)}")
    }
  }

  test("NaN double falls back to the scan harvest and keeps Spark's " +
      "NaN-greatest max semantics") {
    val dir = tmp("graft_mfoot_nan") + "/t"
    val df = Seq((1L, 1.0), (2L, Double.NaN), (3L, 0.5), (4L, 2.0))
      .toDF("id", "v")
    Manifest.writeWithManifest(df, dir, statsCols = Seq("id", "v"),
      clusterCols = Seq("id"), targetFiles = 1)
    val got = manifestStats(dir, Seq("id", "v"))
    val want = scanStats(dir, Seq("id", "v"))
    assert(got.keySet == want.keySet)
    got.foreach { case (f, v) => assert(sameStats(v, want(f)),
      s"stats mismatch at $f: $v vs ${want(f)}") }
    // Spark orders NaN greatest: the scan max IS NaN, and the manifest
    // must agree (a footer-stat max that silently skipped NaN would
    // under-report the envelope)
    val maxes = got.values.map(_.apply(4)).toSeq // max_v
    assert(maxes.exists(m => m != null &&
      m.asInstanceOf[Double].isNaN))
  }

  test("non-primitive stats column (string) takes the scan fallback and " +
      "still matches the scan exactly") {
    val dir = tmp("graft_mfoot_str") + "/t"
    val df = Seq((1L, "delta"), (2L, "alpha"), (3L, "omega"), (4L, "beta"))
      .toDF("id", "s")
    Manifest.writeWithManifest(df, dir, statsCols = Seq("id", "s"),
      clusterCols = Seq("id"), targetFiles = 2)
    val got = manifestStats(dir, Seq("id", "s"))
    val want = scanStats(dir, Seq("id", "s"))
    assert(got == want)
  }

  test("driver-written part survives an all-rows-deleted mutation " +
      "(tombstone-only part reads back as an empty live manifest)") {
    val dir = tmp("graft_mfoot_del") + "/t"
    val df = spark.range(0, 10).select(F.col("id"),
      (F.col("id") * 2.0).as("v"))
    Manifest.writeWithManifest(df, dir, statsCols = Seq("id"),
      clusterCols = Seq("id"), targetFiles = 2)
    val removed = Manifest.deleteKeys(spark, dir, "id",
      spark.range(0, 10).toDF("id"), segment = "d0")
    assert(removed == 2)
    // the delete's part is tombstones-only and driver-written: the live
    // manifest view must fold to zero rows (a part that vanished — the
    // zero-row dynamic-overwrite hazard writePart's doc records — would
    // instead resurrect the two base files).
    assert(Manifest.manifest(spark, dir).count() == 0L)
    // a range read over the now file-less layout: zero rows with the
    // table's columns (the parts record the data schema)
    val empty = Manifest.readSkipping(spark, dir, "id", 0L, 100L)
    assert(empty.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> org.apache.spark.sql.types.LongType,
        "v" -> org.apache.spark.sql.types.DoubleType))
    assert(empty.count() == 0L)
  }
}
