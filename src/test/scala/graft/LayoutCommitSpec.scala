package graft

import graft.io.Manifest
import graft.operators.Rollup
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{functions => F}

/** The layout commits outside the index folds: the manifest's one
  * part-commit rule (write the new part beside the old one, record the
  * floor, then delete the old one) at every crash prefix of a
  * same-label fold retry on both fold routes, the rollup fold's
  * whole-layout swap, and a source guard that keeps hand-rolled
  * filesystem renames out of `src/main`. Crash states are built on disk
  * from the uncrashed fold's own output, as in [[FullFoldSpec]]. */
class LayoutCommitSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fs = new Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def copy(src: String, dst: String): Unit =
    assert(FileUtil.copy(fs, new Path(src), fs, new Path(dst), false,
      spark.sparkContext.hadoopConfiguration), s"copy $src -> $dst")

  private def list(dir: String): Seq[Path] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .toSeq.map(_.getPath)
  }

  private def partFiles(t: String, seg: String): Seq[Path] =
    list(s"$t/_manifest/parts/seg=$seg").filter(p =>
      p.getName.endsWith(".parquet") && !p.getName.startsWith("."))

  private def partDirs(t: String): Set[String] =
    list(s"$t/_manifest/parts").map(_.getName).toSet

  private def floor(t: String): Long =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_manifest/floor")), "UTF-8").trim.toLong

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def asOf(t: String, c: Long): Option[Seq[String]] =
    try Some(rows(Manifest.manifestAsOf(spark, t, c)))
    catch { case _: IllegalArgumentException => None }

  private def ids(t: String): Seq[Long] =
    col1[Long](Manifest.readSkipping(spark, t, "id", 0L, 5000L), "id").sorted

  /** A replayed batch's state before its fold re-runs: the first fold
    * `c1` already swept commits 0-2 into one part (floor 2), and the
    * replay's mutations (commits 3, 4) sit beside it. */
  private def template(t: String): Unit = {
    def docs(r: Range) = r.map(i => (i.toLong, s"r$i")).toDF("id", "payload")
    Manifest.writeWithManifest(docs(0 until 200), t, statsCols = Seq("id"),
      clusterCols = Seq("id"), targetFiles = 4) // commit 0
    Manifest.appendWithManifest(docs(200 until 240), t, segment = "b1") // 1
    Manifest.deleteKeys(spark, t, "id", (10L until 20L).toDF("id"),
      segment = "d1", retainFiles = true) // 2
    Manifest.compactManifest(spark, t, "c1")
    Manifest.appendWithManifest(docs(240 until 260), t, segment = "b2") // 3
    Manifest.deleteKeys(spark, t, "id", (30L until 35L).toDF("id"),
      segment = "d2", retainFiles = true) // 4
  }

  test("manifest part commit: every crash prefix of a same-label fold " +
      "retry reads like the uncrashed fold, and the retry converges on " +
      "both routes") {
    val root = tmp("graft_partcommit")
    val tpl = s"$root/template"
    template(tpl)
    assert(partDirs(tpl) == Set("seg=c1", "seg=b2", "seg=d2"))
    assert(floor(tpl) == 2L)
    val oldPart = partFiles(tpl, "c1")
    assert(oldPart.size == 1)
    val expect = (0L until 260L)
      .filterNot(i => (i >= 10 && i < 20) || (i >= 30 && i < 35))
    for ((route, thr) <-
        Seq("distributed" -> 0L, "driver" -> Long.MaxValue)) {
      val uncrashed = s"$root/uncrashed_$route"
      copy(tpl, uncrashed)
      val live = Manifest.compactManifest(spark, uncrashed, "c1",
        driverFoldMaxBytes = thr)
      val newPart = partFiles(uncrashed, "c1")
      assert(newPart.size == 1 && newPart != oldPart, route)
      assert(partDirs(uncrashed) == Set("seg=c1"), route)
      assert(floor(uncrashed) == 4L, route)
      val want = rows(Manifest.manifest(spark, uncrashed))
      assert(want.size == live, route)
      assert(ids(uncrashed) == expect, route)
      val states: Seq[(String, String => Unit)] = Seq(
        "compact part beside the earlier attempt's" -> { d =>
          copy(newPart.head.toString, s"$d/_manifest/parts/seg=c1")
        },
        "floor written, earlier part not yet deleted" -> { d =>
          copy(newPart.head.toString, s"$d/_manifest/parts/seg=c1")
          copy(s"$uncrashed/_manifest/floor", s"$d/_manifest/floor")
        },
        "earlier part deleted, some folded segments left" -> { d =>
          copy(newPart.head.toString, s"$d/_manifest/parts/seg=c1")
          copy(s"$uncrashed/_manifest/floor", s"$d/_manifest/floor")
          oldPart.foreach(p => fs.delete(
            new Path(s"$d/_manifest/parts/seg=c1/${p.getName}"), false))
          fs.delete(new Path(s"$d/_manifest/parts/seg=b2"), true)
        })
      states.zipWithIndex.foreach { case ((name, crash), i) =>
        val d = s"$root/crash_${route}_$i"
        copy(tpl, d)
        crash(d)
        val what = s"$route / $name"
        assert(rows(Manifest.manifest(spark, d)) == want, what)
        assert(ids(d) == expect, what)
        assert(asOf(d, 4L) == asOf(uncrashed, 4L), what)
        // below the fold's stamp the uncrashed fold refuses; a crashed
        // state refuses too, or serves the true (pre-fold) history
        (0L until 4L).foreach { c =>
          assert(asOf(uncrashed, c).isEmpty, s"$what: as-of $c")
          val got = asOf(d, c)
          assert(got.isEmpty || got == asOf(tpl, c), s"$what: as-of $c")
        }
        // the same-label retry converges on the uncrashed fold
        assert(Manifest.compactManifest(spark, d, "c1",
          driverFoldMaxBytes = thr) == live, what)
        assert(partDirs(d) == Set("seg=c1"), what)
        assert(partFiles(d, "c1").size == 1, what)
        assert(floor(d) == 4L, what)
        assert(rows(Manifest.manifest(spark, d)) == want, what)
        assert(ids(d) == expect, what)
        assert(asOf(d, 4L) == asOf(uncrashed, 4L), what)
        assert(asOf(d, 3L).isEmpty, what)
      }
      // later folds under other labels read the same, on either route
      for ((label, t2, lo) <- Seq(("c2", 0L, 300L),
          ("c3", Long.MaxValue, 310L))) {
        Manifest.appendWithManifest(
          (lo until lo + 10L).map(i => (i, s"x$i")).toDF("id", "payload"),
          uncrashed, segment = s"b_$label")
        assert(Manifest.compactManifest(spark, uncrashed, label,
          driverFoldMaxBytes = t2) > 0)
        assert(partDirs(uncrashed) == Set(s"seg=$label"))
        assert(Manifest.manifest(spark, uncrashed).count() > 0)
      }
      assert(ids(uncrashed) == expect ++ (300L until 320L))
    }
  }

  test("a same-label fold retry that crashes as its part file lands " +
      "keeps the folded table readable, on both routes") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FailingPartFs].getName)
    val expect = (0L until 260L)
      .filterNot(i => (i >= 10 && i < 20) || (i >= 30 && i < 35))
    for ((route, thr) <-
        Seq("driver" -> Long.MaxValue, "distributed" -> 0L)) {
      val t = s"faulty://${tmp("graft_partcrash")}/t"
      template(t)
      val before = rows(Manifest.manifest(spark, t))
      FailingPartFs.failIn.set(Some("seg=c1"))
      try intercept[Exception] {
        Manifest.compactManifest(spark, t, "c1", driverFoldMaxBytes = thr)
      } finally FailingPartFs.failIn.set(None)
      // the earlier attempt's part is still there: nothing was dropped
      assert(rows(Manifest.manifest(spark, t)) == before, route)
      assert(ids(t) == expect, route)
      assert(Manifest.compactManifest(spark, t, "c1",
        driverFoldMaxBytes = thr) == before.size, route)
      assert(ids(t) == expect, route)
      assert(partDirs(t) == Set("seg=c1"), route)
    }
  }

  test("compactRollup commits through the whole-layout swap: a foreign " +
      "<path>__old or <path>__compact is refused and left intact") {
    val root = tmp("graft_rollup_swap")
    val r = s"$root/r"
    val dayNs = 86400L * 1000000000L
    val ev = Seq((1L, "a", 1.0, 5L), (2L, "a", 2.0, dayNs + 6L),
      (3L, "b", 3.0, dayNs + 7L)).toDF("id", "k", "v", "ts")
    Rollup.buildRollup(ev.filter(F.col("id") === 1L), "ts", Seq("k"), "v",
      r)
    Rollup.appendRollup(ev.filter(F.col("id") > 1L), "ts", Seq("k"), "v",
      r, "b0")
    def view = rows(Rollup.readRollup(spark, r))
    def subdirs(p: String) = new java.io.File(p).listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    val before = view
    assert(subdirs(r) == Set("seg=base", "seg=b0"))
    for (sibling <- Seq("__old", "__compact")) {
      val foreign = java.nio.file.Paths.get(s"$r$sibling/my_data.txt")
      java.nio.file.Files.createDirectories(foreign.getParent)
      java.nio.file.Files.write(foreign, "keep me".getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException] {
        Rollup.compactRollup(spark, r)
      }
      assert(e.getMessage.contains("my_data.txt"), e.getMessage)
      assert(new String(java.nio.file.Files.readAllBytes(foreign),
        "UTF-8") == "keep me", s"$sibling: foreign data touched")
      assert(subdirs(r) == Set("seg=base", "seg=b0"), sibling)
      assert(view == before, sibling)
      fs.delete(new Path(foreign.toString), false)
    }
    // a crashed fold's own leftovers at both names (the stage the
    // refused swap left, a moved-aside layout) are recognized and
    // cleared; the fold then commits
    assert(subdirs(s"${r}__compact") == Set("seg=base"))
    fs.delete(new Path(s"${r}__old"), true)
    copy(r, s"${r}__old")
    Rollup.compactRollup(spark, r)
    assert(view == before)
    assert(subdirs(r) == Set("seg=base"))
    assert(subdirs(root) == Set("r"))
  }

  test("no hand-rolled filesystem rename in src/main: only the fold and " +
      "layout commits, the driver-side file commit and the manifest floor") {
    val src = new java.io.File("src/main/scala")
    assert(src.isDirectory, s"no sources at ${src.getAbsolutePath}")
    // a column rename (Gdf.rename("a" -> "b")) starts with a string
    // literal; anything else is a filesystem rename
    val fsRename = """\.rename\(\s*(?!")""".r
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty)
    val found = scalaFiles(src).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")
      val n = fsRename.findAllMatchIn(text).size
      if (n == 0) None
      else Some(src.toPath.relativize(f.toPath).toString -> n)
    }.toMap
    assert(found == Map(
      // fold commit (rename in, promote) and swapLayout (aside, swap-in)
      "graft/operators/TierCompact.scala" -> 4,
      // writeParquetDriverSide's in-progress file -> part file
      "graft/functions/SparkBridge.scala" -> 1,
      // the compaction floor's temp file -> floor
      "graft/io/Manifest.scala" -> 1), found.toString)
  }
}

/** The local filesystem under the `faulty:` scheme, whose renames of a
  * part file into the directory named by [[FailingPartFs.failIn]] throw
  * while it is set: a crash at the moment a part file lands. */
class FailingPartFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def getScheme: String = "faulty"
  override def rename(src: Path, dst: Path): Boolean =
    if (FailingPartFs.failIn.get.contains(dst.getParent.getName) &&
        dst.getName.startsWith("part-"))
      throw new java.io.IOException(s"injected crash: $src -> $dst")
    else super.rename(src, dst)
}

object FailingPartFs {
  val failIn = new java.util.concurrent.atomic.AtomicReference(
    Option.empty[String])
}
