package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import graft.exprs._

/** DataFrame verbs: select/mutate/filter/sort/distinct/slice/group/summarise
  * (reference data_frame.ex; grouped translation rules SURVEY §3.2). */
class GdfSpec extends SparkSpec {
  import spark.implicits._

  private def base = Gdf(Seq(
    ("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0),
    ("b", 4L, 40.0), ("b", 5L, 50.0)).toDF("g", "id", "v"))

  test("select / discard / rename / relocate keep schema order") {
    assert(base.select("v", "g").names == Seq("v", "g"))
    assert(base.discard("v").names == Seq("g", "id"))
    assert(base.rename("v" -> "value").names == Seq("g", "id", "value"))
    assert(base.relocate(Seq("v"), before = Some("g")).names ==
      Seq("v", "g", "id"))
  }

  test("selectRe and selectWhere") {
    assert(base.selectRe("^[gv]$").names == Seq("g", "v"))
    assert(base.selectWhere(_ == DType.F(64)).names == Seq("v"))
  }

  test("mutate sees earlier columns (reference mutate chaining)") {
    val d = base.mutate(
      "double_v" -> (_ => Series(F.col("v") * 2)),
      "quad_v" -> (_ => Series(F.col("double_v") * 2)))
    assert(col1[Double](d.sdf.orderBy("id"), "quad_v") ==
      Seq(40.0, 80.0, 120.0, 160.0, 200.0))
  }

  test("grouped summarise consumes groups; global summarise one row") {
    val g = base.groupBy("g").summarise(
      "total" -> (implicit c => sum(gcol("v"))),
      "n" -> (implicit c => size))
    assert(g.groups.isEmpty)
    val rows = g.sdf.orderBy("g").collect()
    assert(rows.map(_.getDouble(1)).toSeq == Seq(30.0, 120.0))
    assert(rows.map(_.getLong(2)).toSeq == Seq(2L, 3L))
    assert(base.summarise("n" -> (implicit c => size)).sdf.count() == 1)
  }

  test("sortBy nils last by default, nils first on request (Explorer default)") {
    // reference sort doctests (series.ex:4779): nils go LAST in both
    // directions unless nils: :first
    val d = Gdf(Seq(("a", Some(2.0)), ("b", None), ("c", Some(1.0)),
      ("d", None), ("e", Some(3.0))).toDF("k", "v"))
    def ks(g: Gdf) = g.sdf.collect().map(_.getString(0)).toSeq
    assert(ks(d.sortBy(Seq(F.col("v")))) == Seq("c", "a", "e", "b", "d") ||
           ks(d.sortBy(Seq(F.col("v")))) == Seq("c", "a", "e", "d", "b"))
    assert(ks(d.sortBy(Seq(F.col("v").desc))).take(3) == Seq("e", "a", "c"))
    assert(ks(d.sortBy(Seq(F.col("v")), nilsLast = false)).drop(2) ==
      Seq("c", "a", "e"))
    assert(ks(d.sortBy(Seq(F.col("v").desc), nilsLast = false)).drop(2) ==
      Seq("e", "a", "c"))
  }

  test("logical dtypes survive select/filter/rename/sort/join; mutate clears") {
    val d = base.castLogical("id", DType.U(32))
      .withLogical("g" -> DType.Category)
    assert(d.dtypes("id") == DType.U(32) && d.schema("id").dataType == LongType)
    val piped = d.select("g", "id", "v").filterCol(F.col("v") > 15.0)
      .rename("id" -> "uid").sortBy(Seq(F.col("uid")))
    assert(piped.dtypes("uid") == DType.U(32))
    assert(piped.dtypes("g") == DType.Category)
    val dim = Gdf(Seq(("a", 1L), ("b", 2L)).toDF("g", "code"))
      .castLogical("code", DType.U(16))
    val joined = Joins.join(piped, dim, Seq("g" -> "g"), "inner")
    assert(joined.dtypes("uid") == DType.U(32))
    assert(joined.dtypes("code") == DType.U(16))
    assert(joined.dtypes("g") == DType.Category)
    // mutate recomputes → annotation drops back to physical truth
    assert(joined.mutateCol("uid", F.col("uid") + 1).dtypes("uid") == DType.S(64))
    // summarise keeps only group-key annotations
    val summ = joined.groupBy("g").summarise(
      "n" -> (implicit c => graft.exprs.size))
    assert(summ.dtypes("g") == DType.Category)
    // annotation must match the physical backing type
    intercept[IllegalArgumentException] {
      base.withLogical("v" -> DType.U(32))
    }
  }

  test("summarise rejects non-aggregates") {
    intercept[IllegalArgumentException] {
      base.groupBy("g").summarise("bad" -> (_ => gcol("v")))
    }
  }

  test("grouped mutate windows the aggregation over groups (§3.2)") {
    val d = base.groupBy("g").mutate(
      "share" -> (implicit c => (gcol("v") / sum(gcol("v"))).round(4)))
    val got = d.sdf.orderBy("id").collect().map(_.getAs[Double]("share")).toSeq
    assert(got == Seq(0.3333, 0.6667, 0.25, 0.3333, 0.4167))
    assert(d.sdf.count() == 5) // row count preserved, unlike summarise
  }

  test("grouped filter with aggregate predicate") {
    val d = base.groupBy("g").filter(implicit c =>
      gcol("v") > mean(gcol("v")))
    assert(col1[Long](d.sdf.orderBy("id"), "id") == Seq(2L, 5L))
  }

  test("sortBy with stable tiebreak over declared order") {
    val d = Gdf(Seq(("x", 1), ("y", 2), ("x", 3), ("y", 4)).toDF("k", "i"))
      .ordered(F.col("i"))
    val s = d.sortBy(Seq(F.col("k")), stable = true)
    assert(col1[Int](s.sdf, "i") == Seq(1, 3, 2, 4))
  }

  test("distinct subset / keepAll first-per-key over order") {
    assert(base.distinct(Seq("g")).sdf.count() == 2)
    val keep = base.ordered(F.col("id").desc).distinct(Seq("g"), keepAll = true)
    assert(col1[Long](keep.sdf.orderBy("g"), "id") == Seq(2L, 5L))
  }

  test("slice positive, negative offset, and indices (positional §2.2)") {
    val d = base.ordered(F.col("id"))
    assert(col1[Long](d.slice(1, 2).sdf.orderBy("id"), "id") == Seq(2L, 3L))
    assert(col1[Long](d.slice(-2, 2).sdf.orderBy("id"), "id") == Seq(4L, 5L))
    assert(col1[Long](d.sliceIndices(Seq(0L, 4L)).sdf.orderBy("id"), "id") ==
      Seq(1L, 5L))
  }

  test("grouped head/tail over order") {
    val d = base.groupBy("g").ordered(F.col("id"))
    assert(col1[Long](d.head(1).sdf.orderBy("id"), "id") == Seq(1L, 3L))
    assert(col1[Long](d.tail(1).sdf.orderBy("id"), "id") == Seq(2L, 5L))
  }

  test("withRowIndex 0-based over declared order") {
    val d = base.ordered(F.col("id").desc).withRowIndex("ri")
    assert(col1[Int](d.sdf.orderBy("id"), "ri") == Seq(4, 3, 2, 1, 0))
  }

  test("dropNil") {
    val d = Gdf(df(schema("a" -> DoubleType, "b" -> DoubleType),
      Seq(1.0, null), Seq(2.0, 3.0), Seq(null, null)))
    assert(d.dropNil().sdf.count() == 1)
    assert(d.dropNil("a").sdf.count() == 2)
  }

  test("sampleN exact size, seeded deterministic; grouped = n per group") {
    val d = base.sampleN(3, seed = 7L)
    assert(d.sdf.count() == 3)
    assert(col1[Long](d.sdf, "id") == col1[Long](base.sampleN(3, 7L).sdf, "id"))
    val per = base.groupBy("g").sampleN(1, seed = 7L)
    assert(per.sdf.count() == 2)
    assert(per.sdf.select("g").distinct().count() == 2)
  }

  test("argsort returns sorting permutation over declared order") {
    val d = Gdf(Seq(("r1", 30.0), ("r2", 10.0), ("r3", 20.0)).toDF("k", "v"))
      .ordered(F.col("k"))
    assert(col1[Int](d.argsort(F.col("v")), "index") == Seq(1, 2, 0))
    // stable: equal keys keep original relative order; nils last
    val ties = Gdf(Seq(("r1", java.lang.Double.valueOf(2.0)),
      ("r2", java.lang.Double.valueOf(1.0)),
      ("r3", null.asInstanceOf[java.lang.Double]),
      ("r4", java.lang.Double.valueOf(2.0))).toDF("k", "v"))
      .ordered(F.col("k"))
    assert(col1[Int](ties.argsort(F.col("v"), stable = true), "index") ==
      Seq(1, 0, 3, 2))
  }

  test("sql passthrough via temp view") {
    val d = base.sql("SELECT g, sum(v) AS s FROM t GROUP BY g ORDER BY g", "t")
    assert(col1[Double](d.sdf, "s") == Seq(30.0, 120.0))
  }

  test("mask / at / atEvery / indexOf positional ops") {
    val d = base.ordered(F.col("id"))
    assert(d.mask(F.col("v") > 25.0).sdf.count() == 3)
    assert(col1[Long](d.at(2).sdf, "id") == Seq(3L))
    assert(col1[Long](d.atEvery(2).sdf.orderBy("id"), "id") ==
      Seq(1L, 3L, 5L))
    assert(d.indexOf("v", 30.0).collect()(0).getLong(0) == 2L)
  }

  test("grouped positional matrix: slice/at/atEvery/rowIndex/sort (§7.4.6)") {
    val d = base.ordered(F.col("id")).groupBy("g") // a→(1,2), b→(3,4,5)
    // grouped negative slice: last 2 per group
    assert(col1[Long](d.slice(-2, 2).sdf.orderBy("id"), "id") ==
      Seq(1L, 2L, 4L, 5L))
    // grouped at: 2nd row of each group
    assert(col1[Long](d.at(1).sdf.orderBy("id"), "id") == Seq(2L, 4L))
    // grouped atEvery(2): positions 0, 2, ... within each group
    assert(col1[Long](d.atEvery(2).sdf.orderBy("id"), "id") ==
      Seq(1L, 3L, 5L))
    // grouped rowIndex restarts per group
    val ri = d.withRowIndex("ri").sdf.orderBy("id")
    assert(ri.collect().map(_.getAs[Long]("ri")).toSeq ==
      Seq(0L, 1L, 0L, 1L, 2L))
    // grouped sort orders within contiguous group blocks
    val gs = base.groupBy("g").sortBy(Seq(F.col("v").desc))
    assert(col1[Long](gs.sdf, "id") == Seq(2L, 1L, 5L, 4L, 3L))
  }

  test("reverse flips the declared order for positional verbs") {
    val d = base.ordered(F.col("id"))
    assert(col1[Long](d.reverse.head(2).sdf.orderBy("id"), "id") ==
      Seq(4L, 5L))
    assert(col1[Long](d.reverse.at(0).sdf, "id") == Seq(5L))
    // double reverse restores the original order
    assert(col1[Long](d.reverse.reverse.at(0).sdf, "id") == Seq(1L))
    // null keys: reversed order puts nulls where a backwards read would
    val n = Gdf(Seq((Some(1L), "x"), (None, "y"), (Some(3L), "z"))
      .toDF("k", "s")).ordered(Gdf.withNils(F.col("k"), nilsLast = true))
    assert(col1[String](n.reverse.at(0).sdf, "s") == Seq("y"))
  }

  test("shape / nRows / nColumns / estimatedSize") {
    assert(base.shape == (5L, 3))
    assert(base.nRows == 5L && base.nColumns == 3)
    assert(base.estimatedSize > 0)
  }

  test("toTableString renders an ASCII table (print/2)") {
    val t = base.toTableString(limit = 2)
    assert(t.contains("g") && t.contains("id") && t.contains("v"))
    assert(t.contains("only showing top 2 rows") || t.linesIterator.size >= 4)
  }

  test("allEqual aggregate (series.ex all_equal, nil == nil)") {
    val d = Gdf(Seq((Some(1L), Some(1L)), (None, None), (Some(3L), Some(3L)))
      .toDF("a", "b"))
    val eq = d.summariseWith { implicit c => Seq(
      "eq" -> allEqual(Series(F.col("a")), Series(F.col("b")))) }
    assert(eq.sdf.head.getBoolean(0))
    val d2 = Gdf(Seq((Some(1L), Some(2L))).toDF("a", "b"))
    val eq2 = d2.summariseWith { implicit c => Seq(
      "eq" -> allEqual(Series(F.col("a")), Series(F.col("b")))) }
    assert(!eq2.sdf.head.getBoolean(0))
  }

  test("transformRows escape hatch runs host code per partition") {
    import org.apache.spark.sql.types._
    val out = StructType(Seq(StructField("g", StringType),
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("doubled", DoubleType)))
    val d = base.transformRows(out)(rows =>
      rows.map(r => org.apache.spark.sql.Row(
        r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(2) * 2)))
    assert(col1[Double](d.sdf.orderBy("id"), "doubled") ==
      Seq(20.0, 40.0, 60.0, 80.0, 100.0))
  }

  test("empty-frame robustness: verbs return empty, aggregates return null/0") {
    val empty = base.filterCol(F.lit(false))
    assert(empty.sdf.count() == 0)
    assert(empty.distinct(Seq("g")).sdf.count() == 0)
    assert(empty.ordered(F.col("id")).slice(0, 5).sdf.count() == 0)
    assert(Reshape.concatRows(Seq(empty, empty)).sdf.count() == 0)
    val agg = empty.summariseWith { implicit c => Seq(
      "s" -> exprs.sum(gcol("v")), "n" -> exprs.size) }.sdf.collect()(0)
    assert(agg.isNullAt(0) && agg.getLong(1) == 0L)
    // grouped summarise of empty input → zero groups
    assert(empty.groupBy("g").summariseWith { implicit c =>
      Seq("n" -> exprs.size) }.sdf.count() == 0)
  }

  test("pull returns usable column expression") {
    val b = base // pull and filter must come from the SAME frame instance
    assert(b.filterCol(b.pull("id").col > 3).sdf.count() == 2)
  }

  test("pop detaches columns (Access pop/2, data_frame.ex:419-429)") {
    val (popped, rest) = base.pop("id")
    assert(popped.names == Seq("id") && !rest.names.contains("id"))
    assert(popped.sdf.count() == base.sdf.count())
  }

  test("GraftSession recommended confs cover the engine's invariants") {
    val c = GraftSession.recommendedConfs(16)
    assert(c("spark.sql.shuffle.partitions") == "16")
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true")
    // unions concatenate, never zip: Spark 4's partitioning-aware union
    // would interleave a zipped self-union (breaking concat_rows frame
    // order) and collapse readShards' per-shard union to one partition
    assert(c("spark.sql.unionOutputPartitioning") == "false")
  }

  test("the spec session runs under every GraftSession recommended conf") {
    GraftSession.recommendedConfs(4).foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v),
        s"$k = ${spark.conf.getOption(k)}, recommended $v")
    }
  }

  test("GraftSession is the only session builder under src/") {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get("src")
    val self = "main/scala/graft/GraftSession.scala"
    assert(java.nio.file.Files.exists(src.resolve(self)),
      s"no $self under ${src.toAbsolutePath}")
    // split so this file does not match itself
    val call = "SparkSession" + ".builder"
    val hits = java.nio.file.Files.walk(src).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        java.nio.file.Files.readString(p).contains(call))
      .map(p => src.relativize(p).toString).toSeq.sorted
    assert(hits == Seq(self), hits)
  }

  test("concat_rows of SinglePartition frames keeps frame order and " +
      "partition concatenation (the Spark 4 union zip stays off)") {
    val a = Gdf(Seq(1L, 2L).toDF("v").coalesce(1))
    val b = Gdf(Seq(3L, 4L).toDF("v").coalesce(1))
    val u = Reshape.concatRows(Seq(a, b))
    assert(u.sdf.rdd.getNumPartitions == 2,
      u.sdf.queryExecution.executedPlan.toString)
    assert(u.sdf.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("sampleN(0) is empty in every variant — grouped with-replacement " +
      "used sequence(1, 0), whose inferred DESCENDING step drew [1, 0]") {
    val d = Gdf(Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "v"))
    assert(d.sampleN(0).sdf.count() == 0)
    assert(d.sampleN(0, replace = true).sdf.count() == 0)
    assert(d.groupBy("g").sampleN(0, replace = true).sdf.count() == 0)
  }

  test("edge guards fail loudly: at_every(0), empty summarise, relocate " +
      "to a missing anchor, unsorted cut breaks, qcut on all-null") {
    val d = Gdf(Seq((1L, "a"), (2L, "b")).toDF("v", "s"))
      .ordered(F.col("v"))
    intercept[IllegalArgumentException] { d.atEvery(0) } // was silently empty
    intercept[IllegalArgumentException] { d.summariseWith(_ => Nil) }
    intercept[IllegalArgumentException] { // was silently placed at FRONT
      d.relocate(Seq("v"), before = Some("nope"))
    }
    intercept[IllegalArgumentException] { // first-match binning needs order
      Stats.cut(F.col("v"), Seq(5.0, 1.0))
    }
    val allNull = Gdf(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        null.asInstanceOf[java.lang.Double]))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.DoubleType)))))
    intercept[IllegalArgumentException] { // was a bare NullPointerException
      Stats.qcut(allNull, "x", Seq(0.25, 0.5, 0.75))
    }
  }

  test("rename remaps rowOrder too — a stale name breaks every later " +
      "positional verb") {
    val d = Gdf(Seq((2L, "b"), (1L, "a")).toDF("ts", "v"))
      .ordered(F.col("ts"))
      .rename("ts" -> "time")
    // head resolves the renamed order column instead of failing on "ts"
    assert(d.head(1).sdf.collect()(0).getString(1) == "a")
  }

  test("rename preserves DIRECTION-bearing order keys (desc / withNils): " +
      "the catalyst round trip produced a smuggled SortOrder that " +
      "Dataset.sort double-wrapped and crashed on") {
    val d = Gdf(Seq((1L, "lo"), (3L, "hi"), (2L, "mid")).toDF("ts", "v"))
      .ordered(F.col("ts").desc)
      .rename("ts" -> "time")
    assert(d.head(1).sdf.collect()(0).getString(1) == "hi")
    // reverse after rename still flips the preserved direction
    assert(d.reverse.head(1).sdf.collect()(0).getString(1) == "lo")
    // sortBy-derived order keys (withNils wrappers) survive a rename too
    val s = Gdf(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      .ordered(F.col("k")).sortBy(Seq(F.col("k").desc))
      .rename("k" -> "kk")
    assert(s.head(1).sdf.collect()(0).getLong(0) == 2L)
  }

  test("sortBy preserves the stableGroups flag; sql/transformRows return " +
      "fresh metadata") {
    val d = Gdf(Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
      .toDF("id", "g", "v")).ordered(F.col("id"))
    val viaSort = d.groupByStable("g").sortBy(Seq(F.col("v")))
    assert(viaSort.stableGroups, "sortBy dropped stableGroups")
    // sql: stale groups pointing at aggregated-away columns broke the
    // next verb; the result is a fresh ungrouped frame
    val q = d.groupBy("g").sql("SELECT sum(v) AS s FROM df")
    assert(q.groups.isEmpty && q.rowOrder.isEmpty)
    assert(q.sdf.collect()(0).getDouble(0) == 6.0)
    val t = d.transformRows(StructType(Seq(StructField("n", LongType))))(
      it => it.map(r => org.apache.spark.sql.Row(r.getLong(0) * 10)))
    assert(t.groups.isEmpty && t.rowOrder.isEmpty && t.logical.isEmpty)
  }

  test("grouped slice survives offset+len Int overflow (rest-of-group " +
      "idiom)") {
    val d = Gdf(Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g"))
      .ordered(F.col("id")).groupBy("g")
    val rest = d.slice(1, Int.MaxValue)
    assert(col1[Long](rest.sdf.orderBy("id"), "id") == Seq(2L))
  }

  test("indexOf and argsort are series-level: GLOBAL positions over the " +
      "declared order even on a grouped frame") {
    val d = Gdf(Seq((0L, "a", 10L), (1L, "b", 99L), (2L, "b", 10L))
      .toDF("id", "g", "v")).ordered(F.col("id")).groupBy("g")
    // 99 first appears at global position 1 (it heads group b — the
    // per-group index would report 0)
    assert(d.indexOf("v", 99L).collect()(0).getLong(0) == 1L)
    // argsort yields a permutation of 0..n-1, not one 0 per group
    val idx = col1[Long](d.argsort(F.col("v"), stable = true), "index")
    assert(idx.sorted == Seq(0L, 1L, 2L))
  }

  test("ungrouped mutate/filter aggregates run as scalar subqueries, " +
      "never a single-partition window") {
    val d = Gdf(Seq(1.0, 2.0, 3.0, 4.0).toDF("v"))
    val out = d.filter(implicit c => Series(F.col("v")) >
      graft.exprs.mean(gcol("v")))
    assert(col1[Double](out.sdf.orderBy("v"), "v") == Seq(3.0, 4.0))
    // the subquery's 1-row final-agg merge keeps a (tiny) SinglePartition
    // exchange of PARTIAL rows — the banned shape was the whole-frame
    // Window over an empty partitionBy, which shipped every data row to
    // one task
    val plan = out.sdf.queryExecution.executedPlan.toString
    assert(plan.contains("Subquery") && !plan.contains("Window"), plan)
    // grouped position still windows over the groups
    val g = Gdf(Seq(("a", 1.0), ("a", 3.0), ("b", 5.0)).toDF("g", "v"))
      .groupBy("g")
      .mutate("m" -> (implicit c => graft.exprs.mean(gcol("v"))))
    assert(g.sdf.filter(F.col("g") === "a").collect()
      .forall(_.getDouble(2) == 2.0))
  }

  test("sampling guards: negative fraction loud on every path, " +
      "with-replacement draw from an empty population loud, grouped tail " +
      "names the missing order") {
    val d = Gdf(Seq((1L, "a")).toDF("id", "g"))
    intercept[IllegalArgumentException] {
      d.groupBy("g").sampleFrac(-0.5)
    }
    intercept[IllegalArgumentException] { d.sampleFrac(-0.5) }
    val empty = Gdf(Seq((1L, "a")).toDF("id", "g"))
      .filterCol(F.lit(false)).ordered(F.col("id"))
    val e = intercept[Throwable] {
      empty.sampleN(5, replace = true).sdf.collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        (if (x.getCause ne x) msgs(x.getCause) else Nil))
    assert(msgs(e).exists(_.contains("empty population")), e.toString)
    val e2 = intercept[IllegalArgumentException] {
      Gdf(Seq((1L, "a")).toDF("id", "g")).groupBy("g").tail(2)
    }
    assert(e2.getMessage.contains("row order"), e2.getMessage)
  }
}
