package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.io.GraftIO

/** Property-based round-trips and dtype-lattice laws, mirroring the
  * reference's StreamData property suites (SURVEY §5: dump/load round-trips
  * over generated dataframes; dtype-inference lattice property). Raw
  * ScalaCheck generators sampled with fixed seeds (the scalatest bridge
  * artifact is not in the offline cache). */
class PropertySpec extends SparkSpec {

  private def forAll[A](g: Gen[A], n: Int = 8)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      g.apply(Gen.Parameters.default.withSize(12), Seed(i.toLong))
        .foreach(f)
    }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    (1 to 8).foreach { i =>
      for {
        a <- ga.apply(Gen.Parameters.default.withSize(12), Seed(i.toLong))
        b <- gb.apply(Gen.Parameters.default.withSize(12), Seed(i + 100L))
      } f(a, b)
    }

  private val cell: Gen[(Any, Any, Any)] = for {
    l <- Gen.chooseNum(Long.MinValue + 1, Long.MaxValue)
    d <- Gen.oneOf(Gen.chooseNum(-1e9, 1e9).map(x => x: Any),
      Gen.const(null: Any))
    s <- Gen.oneOf(Gen.alphaNumStr.map(_.take(12): Any), Gen.const(null: Any))
  } yield (l, d, s)

  private val rowsGen: Gen[List[(Any, Any, Any)]] =
    Gen.nonEmptyListOf(cell).map(_.take(30))

  private val sch = schema("i" -> LongType, "v" -> DoubleType,
    "s" -> StringType)

  private def mk(rows: List[(Any, Any, Any)]) =
    Gdf(df(sch, rows.map(r => Seq(r._1, r._2, r._3)): _*))

  private def canon(g: Gdf): Seq[Row] =
    g.sdf.collect().toSeq.sortBy(_.toString)

  test("parquet dump/load round-trip is identity") {
    forAll(rowsGen) { rows =>
      val d = mk(rows)
      val dir = java.nio.file.Files.createTempDirectory("prop_parq")
        .toString + "/t"
      GraftIO.toParquet(d, dir)
      val back = GraftIO.fromParquet(spark, dir)
      assert(back.schema == d.schema && canon(back) == canon(d))
    }
  }

  test("arrow ipc dump/load round-trip is identity") {
    forAll(rowsGen) { rows =>
      val d = mk(rows)
      val p = java.nio.file.Files.createTempDirectory("prop_ipc")
        .toString + "/t.arrow"
      GraftIO.toIpc(d, p)
      val back = GraftIO.fromIpc(spark, p)
      assert(back.schema == d.schema && canon(back) == canon(d))
    }
  }

  test("csv dump/load with explicit schema round-trips values") {
    forAll(rowsGen) { rows =>
      // CSV cannot represent null vs empty string — restrict to non-null
      val clean = rows.map { case (l, d0, s) =>
        (l, if (d0 == null) 0.0 else d0,
          if (s == null) "x" else s.toString + "x") }
      val d = mk(clean.asInstanceOf[List[(Any, Any, Any)]])
      val dir = java.nio.file.Files.createTempDirectory("prop_csv")
        .toString + "/t"
      GraftIO.toCsv(d, dir)
      val back = GraftIO.fromCsv(spark, dir, dtypes = Some(sch))
      assert(canon(back) == canon(d))
    }
  }

  test("concat_rows row count and dtype promotion") {
    forAll(rowsGen, rowsGen) { (a, b) =>
      val out = Reshape.concatRows(Seq(mk(a), mk(b)))
      assert(out.sdf.count() == a.length + b.length)
      assert(out.schema == sch)
    }
  }

  import DType.{promote, S, U, F => DF, Null}
  private val numericDtype: Gen[DType] = Gen.oneOf(
    Seq(8, 16, 32, 64).map(S.apply) ++ Seq(8, 16, 32).map(U.apply) ++
      Seq(32, 64).map(DF.apply) :+ Null)

  test("dtype promotion: idempotent, commutative on numeric lattice") {
    forAll(numericDtype, numericDtype) { (a, b) =>
      assert(promote(a, a) == a)
      assert(promote(a, b) == promote(b, a))
    }
  }

  test("dtype promotion is monotone: result fits both inputs' widths") {
    forAll(numericDtype, numericDtype) { (a, b) =>
      val p = promote(a, b)
      def isFloat(t: DType) = t.isInstanceOf[DF]
      if (isFloat(a) || isFloat(b)) assert(isFloat(p))
    }
  }

  test("series binary round-trip is identity for s64/f64 buffers") {
    import org.apache.spark.sql.{functions => F}
    val longs = Gen.nonEmptyListOf(
      Gen.chooseNum(Long.MinValue + 1, Long.MaxValue)).map(_.take(40))
    forAll(longs) { vs =>
      val g = Gdf(df(schema("values" -> LongType), vs.map(Seq(_)): _*))
      val bin = graft.io.SeriesBinary.toBinary(g, "values")
      assert(bin.length == vs.size * 8)
      val back = graft.io.SeriesBinary
        .fromBinary(spark, bin, DType.S(64))
        .sdf.collect().map(_.getLong(0)).toSeq.sorted
      assert(back == vs.sorted)
    }
    val doubles = Gen.nonEmptyListOf(
      Gen.chooseNum(-1e12, 1e12)).map(_.take(40))
    forAll(doubles) { vs =>
      val g = Gdf(df(schema("values" -> DoubleType), vs.map(Seq(_)): _*))
      val back = graft.io.SeriesBinary.fromBinary(spark,
          graft.io.SeriesBinary.toBinary(g, "values"), DType.F(64))
        .sdf.collect().map(_.getDouble(0)).toSeq.sorted
      assert(back == vs.sorted)
    }
  }

  // ---- connected components: random pair graphs against a local
  // union-find, plus the fixed shapes below
  private val ccEdgesGen = Gen.nonEmptyListOf(for {
    a <- Gen.chooseNum(0L, 25L)
    d <- Gen.chooseNum(1L, 5L)
  } yield (a, a + d)).map(_.take(40))

  private def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  private def pairFrame(es: Seq[(Long, Long)]) =
    df(schema("id_a" -> LongType, "id_b" -> LongType),
      es.map(e => Seq(e._1, e._2)): _*)

  private def labels(clusters: org.apache.spark.sql.DataFrame) =
    clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** A 40-edge chain (diameter 40). */
  private val chain = (0L until 40L).map(i => (i, i + 1))

  test("duplicateClusters equals a local union-find on random pair graphs") {
    forAll(ccEdgesGen, n = 6) { es =>
      if (es.nonEmpty) {
        val got = labels(operators.Dedup.duplicateClusters(pairFrame(es)))
        val want = unionFind(es)
        assert(got == want, s"clusters $got vs $want for edges $es")
      }
    }
  }

  test("duplicateClustersStar equals union-find on random graphs and chains") {
    import org.apache.spark.sql.{functions => F}
    forAll(ccEdgesGen, n = 4) { es =>
      if (es.nonEmpty) {
        val got = labels(operators.Dedup.duplicateClustersStar(pairFrame(es)))
        assert(got == unionFind(es), s"star clusters differ for $es")
      }
    }
    // a 40-edge chain (diameter 40): star rounds collapse it in O(log² n),
    // well inside both names' default budgets (duplicateClusters' 20
    // rounds is half the diameter)...
    val chainDf = pairFrame(chain)
    val star = labels(
      operators.Dedup.duplicateClustersStar(chainDf, maxIterations = 8))
    assert(star == (0L to 40L).map(_ -> 0L).toMap)
    assert(labels(operators.Dedup.duplicateClusters(chainDf)) ==
      (0L to 40L).map(_ -> 0L).toMap)
    // ...and a budget too small to reach the fixed point throws rather
    // than return wrong labels
    intercept[IllegalStateException] {
      operators.Dedup.duplicateClusters(chainDf, maxIterations = 1)
    }
    // self-loops: a node appearing ONLY as a self-loop pair comes back
    // labeled to itself from both names, one that also has an edge keeps
    // its component's label (2); a pair with a null side is ignored (5 is
    // absent)
    val withSelf = df(schema("id_a" -> LongType, "id_b" -> LongType),
      Seq(1L, 2L), Seq(9L, 9L), Seq(2L, 2L), Seq(5L, null))
    val expect = Map(1L -> 1L, 2L -> 1L, 9L -> 9L)
    assert(labels(operators.Dedup.duplicateClustersStar(withSelf)) == expect)
    assert(labels(operators.Dedup.duplicateClusters(withSelf)) == expect)
    // no pairs (a corpus without near-dups): no clusters
    assert(operators.Dedup.duplicateClusters(
      withSelf.filter(F.col("id_a") < 0L)).collect().isEmpty)
  }

  // each route forced through the driver bound: 0 bytes sends every graph
  // through the distributed rounds, Long.MaxValue finishes every graph on
  // the driver
  for ((route, bound) <- Seq("distributed" -> 0L, "driver" -> Long.MaxValue))
    test(s"connected components on the $route route: union-find on random " +
        "graphs, the 40-edge chain and its budget, self-loops, null sides, " +
        "empty input") {
      import org.apache.spark.sql.{functions => F}
      def cc(pairs: org.apache.spark.sql.DataFrame, maxIterations: Int) =
        operators.Dedup.starClusters(pairs, maxIterations, bound)
      forAll(ccEdgesGen, n = 4) { es =>
        if (es.nonEmpty)
          assert(labels(cc(pairFrame(es), 30)) == unionFind(es),
            s"$route clusters differ for $es")
      }
      // the chain at both names' default budgets, and a budget of one
      // round throws on either route
      val chainDf = pairFrame(chain)
      val chainLabels = (0L to 40L).map(_ -> 0L).toMap
      assert(labels(cc(chainDf, 30)) == chainLabels)
      assert(labels(cc(chainDf, 20)) == chainLabels)
      val e = intercept[IllegalStateException](cc(chainDf, 1))
      assert(e.getMessage.contains("did not converge within 1 rounds"))
      val withSelf = df(schema("id_a" -> LongType, "id_b" -> LongType),
        Seq(1L, 2L), Seq(9L, 9L), Seq(2L, 2L), Seq(5L, null))
      assert(labels(cc(withSelf, 30)) == Map(1L -> 1L, 2L -> 1L, 9L -> 9L))
      assert(cc(withSelf.filter(F.col("id_a") < 0L), 30).collect().isEmpty)
    }

  test("connected components: both routes return the same schema and " +
      "labels, over non-null and nullable id columns, and need the same " +
      "number of rounds") {
    import spark.implicits._
    val inputs = Seq(
      Seq((2L, 1L), (1L, 2L), (2L, 3L), (9L, 7L), (4L, 4L))
        .toDF("id_a", "id_b"),
      df(schema("id_a" -> LongType, "id_b" -> LongType),
        Seq(2L, 1L), Seq(2L, 3L), Seq(9L, 7L), Seq(4L, 4L), Seq(5L, null)))
    inputs.foreach { pairs =>
      val Seq(dist, driver) = Seq(0L, Long.MaxValue)
        .map(operators.Dedup.starClusters(pairs, 30, _))
      assert(driver.schema == dist.schema)
      assert(labels(driver) == labels(dist))
      assert(labels(driver) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 7L -> 7L, 9L -> 7L))
    }
    // the fewest rounds the chain needs on the driver route is exactly
    // the distributed route's: one round less throws there too
    def converges(bound: Long, rounds: Int) =
      scala.util.Try(operators.Dedup.starClusters(pairFrame(chain), rounds,
        bound)).isSuccess
    val fewest = (1 to 30).find(converges(Long.MaxValue, _)).get
    assert(fewest > 1)
    assert(converges(0L, fewest) && !converges(0L, fewest - 1))
  }

  test("chunk invariants: full coverage, window sizes, overlap stitching") {
    import org.apache.spark.sql.{functions => F}
    val docGen = for {
      nTok <- Gen.chooseNum(0, 37)
      size <- Gen.chooseNum(1, 12)
      overlap <- Gen.chooseNum(0, 11).map(o => math.min(o, size - 1))
    } yield (nTok, size, overlap)
    forAll(docGen, n = 8) { case (nTok, size, overlap) =>
      val text = (0 until nTok).map(i => s"w$i").mkString(" ")
      val d = df(schema("id" -> LongType, "t" -> StringType),
        Seq(1L, text))
      val chunks = operators.TextAnalysis
        .chunk(d, F.col("id"), F.col("t"), size, overlap)
        .orderBy("chunk_id").collect()
        .map(r => (r.getInt(1), r.getString(2), r.getLong(3)))
      val stride = size - overlap
      if (nTok == 0) assert(chunks.isEmpty)
      else {
        // every chunk but the last is exactly `size` tokens; sizes agree
        // with the reported n_tokens; stitching drops `overlap` tokens
        // from each successor and reproduces the token stream exactly
        val toks = chunks.map(_._2.split(" ").toSeq)
        toks.init.foreach(t => assert(t.size == size))
        chunks.zip(toks).foreach { case ((_, _, n), t) =>
          assert(t.size == n, s"n_tokens $n vs ${t.size}") }
        val stitched = toks.head ++ toks.tail.flatMap(_.drop(overlap))
        assert(stitched == (0 until nTok).map(i => s"w$i"),
          s"stitch mismatch: nTok=$nTok size=$size overlap=$overlap")
        // chunk count: 1 + ceil(max(n - size, 0) / stride)
        val want = 1 + math.ceil(math.max(nTok - size, 0).toDouble / stride).toInt
        assert(chunks.length == want)
      }
    }
  }

  test("spearman equals pearson over explicitly computed average ranks") {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.expressions.Window
    val pairs = Gen.nonEmptyListOf(for {
      a <- Gen.chooseNum(0, 20)
      b <- Gen.chooseNum(-50, 50)
    } yield (a.toDouble, b.toDouble)).map(_.take(60).tail) // >= 2 rows below
    forAll(pairs) { vs =>
      if (vs.size >= 3 && vs.map(_._1).distinct.size > 1 &&
          vs.map(_._2).distinct.size > 1) {
        val d = df(schema("a" -> DoubleType, "b" -> DoubleType),
          vs.map(v => Seq(v._1, v._2)): _*)
        val got = Stats.spearman(Gdf(d), "a", "b").sdf.head.getDouble(0)
        // single-node reference: rank() + (ties-1)/2 via plain windows
        val ra = F.rank().over(Window.orderBy("a")) +
          (F.count(F.lit(1)).over(Window.partitionBy("a")) - 1) / 2.0
        val rb = F.rank().over(Window.orderBy("b")) +
          (F.count(F.lit(1)).over(Window.partitionBy("b")) - 1) / 2.0
        val want = d.withColumn("ra", ra).withColumn("rb", rb)
          .agg(F.corr(F.col("ra"), F.col("rb"))).head.getDouble(0)
        assert(approx(got, want, 1e-9), s"spearman $got vs $want")
      }
    }
  }

  test("psi contributions are nonnegative and identical snapshots score 0") {
    import graft.operators.Drift
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    val valsGen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 1000L)).map(_.take(60))
    forAll(valsGen, valsGen) { (as, bs) =>
      val a = as.toDF("v")
      val b = bs.toDF("v")
      val out = Drift.psi(a, b, F.col("v"), Seq(100.0, 400.0, 700.0))
        .collect()
      // (pa-pb)·ln(pa/pb) ≥ 0 pointwise: both factors share sign
      assert(out.forall(_.getDouble(5) >= 0.0), out.mkString(";"))
      val same = Drift.psi(a, a, F.col("v"), Seq(100.0, 400.0, 700.0))
        .collect()
      assert(same.forall(_.getDouble(5) == 0.0))
    }
  }

  test("weightedSample returns min(k, n) distinct input rows; grouped " +
      "variant respects the per-group cap") {
    import graft.operators.Sampling
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    val rowsG = Gen.nonEmptyListOf(for {
      id <- Gen.chooseNum(1L, 10000L)
      w <- Gen.chooseNum(1, 50)
    } yield (id, w.toDouble)).map(_.take(40).distinctBy(_._1))
    forAll(rowsG, Gen.chooseNum(1, 12)) { (rows, k) =>
      val d = rows.toDF("id", "w")
      val got = Sampling.weightedSample(d, F.col("id"), F.col("w"), k)
        .collect().map(_.getLong(0)).toSeq
      assert(got.size == math.min(k, rows.size))
      assert(got.distinct.size == got.size)
      assert(got.forall(rows.map(_._1).toSet))
      val grouped = Sampling.weightedSampleByGroup(
        d.withColumn("g", F.pmod(F.col("id"), F.lit(3L))),
        F.col("g"), F.col("id"), F.col("w"), k)
      val sizes = grouped.groupBy("g").count().collect()
        .map(_.getLong(1))
      assert(sizes.forall(_ <= k))
    }
  }

  test("snapshotDiff statuses partition both id universes") {
    import graft.operators.Drift
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    val idsG = Gen.nonEmptyListOf(Gen.chooseNum(1L, 40L)).map(_.take(30))
    forAll(idsG, idsG) { (pIds, cIds) =>
      val p = pIds.distinct.map(i => (i, s"t$i")).toDF("id", "t")
      val c = cIds.distinct.map(i => (i,
        if (i % 3 == 0) s"t$i!" else s"t$i")).toDF("id", "t")
      val out = Drift.snapshotDiff(p, c, F.col("id"), F.col("t"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val ps = pIds.distinct.toSet; val cs = cIds.distinct.toSet
      assert(out.keySet == (ps ++ cs))
      assert(out.filter(_._2 == "added").keySet == (cs -- ps))
      assert(out.filter(_._2 == "removed").keySet == (ps -- cs))
      assert(out.filter(_._2 == "changed").keySet ==
        (ps & cs).filter(_ % 3 == 0))
      assert(out.filter(_._2 == "unchanged").keySet ==
        (ps & cs).filterNot(_ % 3 == 0))
    }
  }

  test("manifest skipping equals the plain filter on random data and bands") {
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    val rowsG = Gen.nonEmptyListOf(for {
      id <- Gen.chooseNum(0L, 100000L)
      v <- Gen.chooseNum(-500L, 500L)
    } yield (id, v)).map(_.take(50).distinctBy(_._1))
    val bandG = for {
      lo <- Gen.chooseNum(-600L, 600L)
      w <- Gen.chooseNum(0L, 400L)
    } yield (lo, lo + w)
    forAll(rowsG, bandG) { (rows, band) =>
      val (lo, hi) = band
      val dir = java.nio.file.Files
        .createTempDirectory("prop_manifest").toString + "/t"
      graft.io.Manifest.writeWithManifest(rows.toDF("id", "v"), dir,
        statsCols = Seq("v"), clusterCols = Seq("v"), targetFiles = 4)
      val got = graft.io.Manifest.readSkipping(spark, dir, "v", lo, hi)
        .collect().map(_.getLong(0)).toSet
      val want = rows.filter(r => r._2 >= lo && r._2 <= hi).map(_._1).toSet
      assert(got == want, s"band [$lo,$hi]")
    }
  }

  test("lake mutation state machine: random upsert/delete sequences " +
      "equal a model map") {
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    import graft.io.Manifest
    // ops: Left(batch of (id, v) upserts — unique ids), Right(ids to delete)
    val upsertG: Gen[Either[List[(Long, Long)], List[Long]]] =
      Gen.nonEmptyListOf(for {
        id <- Gen.chooseNum(0L, 40L)
        v <- Gen.chooseNum(0L, 1000L)
      } yield (id, v)).map(l => Left(l.take(8).distinctBy(_._1)))
    val deleteG: Gen[Either[List[(Long, Long)], List[Long]]] =
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 40L))
        .map(l => Right(l.take(8).distinct))
    val opsG = Gen.listOfN(5, Gen.oneOf(upsertG, deleteG).flatMap(g => g))
    forAll(opsG, n = 4) { ops =>
      val dir = java.nio.file.Files
        .createTempDirectory("prop_lakemut").toString + "/t"
      val base = (0L until 10L).map(i => (i, i * 100L))
      Manifest.writeWithManifest(base.toDF("id", "v"), dir,
        statsCols = Seq("id"), clusterCols = Seq("id"), targetFiles = 2)
      var model = base.toMap
      ops.zipWithIndex.foreach {
        case (Left(batch), i) =>
          Manifest.upsert(batch.toDF("id", "v"), dir, "id", s"u$i",
            clusterCols = Seq("id"), targetFiles = 1)
          model = model ++ batch
        case (Right(dels), i) =>
          Manifest.deleteKeys(spark, dir, "id", dels.toDF("id"), s"d$i")
          model = model -- dels
      }
      val got = Manifest.readSkipping(spark, dir, "id", 0L, 1000L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == model, s"ops: $ops")
      // the manifest's row accounting matches too
      val manRows = Manifest.manifest(spark, dir)
        .selectExpr("sum(rows) as s").collect().head
      assert((if (manRows.isNullAt(0)) 0L else manRows.getLong(0))
        == model.size, "manifest row count")
    }
  }

  test("driver and distributed manifest folds agree over random " +
      "mutation sequences on twin tables") {
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    import graft.io.Manifest
    // the distributed fold (r14) must be observationally identical to
    // the collect-based fold: same live count, same data reads, same
    // as-of behavior at the fold stamp and kept commits. File paths
    // differ between the twins, so equality is checked on everything
    // EXCEPT paths: data, counts, stats multisets, commit windows.
    val upsertG: Gen[Either[List[(Long, Long)], List[Long]]] =
      Gen.nonEmptyListOf(for {
        id <- Gen.chooseNum(0L, 40L)
        v <- Gen.chooseNum(0L, 1000L)
      } yield (id, v)).map(l => Left(l.take(8).distinctBy(_._1)))
    val deleteG: Gen[Either[List[(Long, Long)], List[Long]]] =
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 40L))
        .map(l => Right(l.take(8).distinct))
    val caseG = for {
      ops <- Gen.listOfN(4, Gen.oneOf(upsertG, deleteG).flatMap(g => g))
      keep <- Gen.chooseNum(0, 2)
    } yield (ops, keep)
    forAll(caseG, n = 3) { case (ops, keep) =>
      val roots = Seq("a", "b").map { tag =>
        java.nio.file.Files
          .createTempDirectory(s"prop_foldtwin_$tag").toString + "/t"
      }
      val base = (0L until 10L).map(i => (i, i * 100L))
      roots.foreach { dir =>
        Manifest.writeWithManifest(base.toDF("id", "v"), dir,
          statsCols = Seq("id"), clusterCols = Seq("id"), targetFiles = 2)
        // retainFiles: as-of reads at KEPT commits must stay physically
        // servable after later mutations retire files (the time-travel
        // contract's own requirement, not a fold artifact)
        ops.zipWithIndex.foreach {
          case (Left(batch), i) =>
            Manifest.upsert(batch.toDF("id", "v"), dir, "id", s"u$i",
              clusterCols = Seq("id"), targetFiles = 1,
              retainFiles = true)
          case (Right(dels), i) =>
            Manifest.deleteKeys(spark, dir, "id", dels.toDF("id"), s"d$i",
              retainFiles = true)
        }
      }
      val Seq(nA, nB) = roots.zip(Seq(Long.MaxValue, 0L)).map {
        case (dir, thresh) => Manifest.compactManifest(spark, dir, "c",
          keepLast = keep, driverFoldMaxBytes = thresh)
      }
      assert(nA == nB, s"live counts: $nA != $nB; ops $ops keep $keep")
      def data(dir: String, asOf: Option[Long]): Seq[(Long, Long)] =
        Manifest.readSkipping(spark, dir, "id", 0L, 1000L, asOf = asOf)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(data(roots(0), None) == data(roots(1), None))
      // path-free manifest comparison: stats multiset + tombstone count
      def statsOf(dir: String) = Manifest.manifest(spark, dir)
        .select("rows", "min_id", "max_id")
        .collect().map(_.toSeq).toSeq
        .sortBy(_.mkString(","))
      assert(statsOf(roots(0)) == statsOf(roots(1)))
      // both folds expose the same commit window
      def commitsOf(dir: String) =
        Manifest.manifestCommits(spark, dir).select("commit")
          .collect().map(_.getLong(0)).toSet
      assert(commitsOf(roots(0)) == commitsOf(roots(1)),
        s"${commitsOf(roots(0))} != ${commitsOf(roots(1))}")
      // as-of at every surviving commit agrees
      commitsOf(roots(0)).foreach { c =>
        assert(data(roots(0), Some(c)) == data(roots(1), Some(c)),
          s"as-of $c; ops $ops keep $keep")
      }
    }
  }

  test("rollup combined view equals direct aggregation on random splits") {
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    import graft.operators.Rollup
    val dayNs = 86400L * 1000000000L
    val rowsG = Gen.nonEmptyListOf(for {
      id <- Gen.chooseNum(0L, 10000L)
      day <- Gen.chooseNum(0L, 3L)
      k <- Gen.oneOf("a", "b")
      v <- Gen.chooseNum(-100, 100)
    } yield (id, day * dayNs + id % 1000L, k, v.toDouble))
      .map(_.take(40).distinctBy(_._1))
    forAll(rowsG, Gen.chooseNum(1L, 5L)) { (rows, mod) =>
      val df = rows.toDF("id", "ts", "k", "v")
      val path = java.nio.file.Files
        .createTempDirectory("prop_rollup").toString + "/r"
      Rollup.buildRollup(df.filter(F.col("id") % (mod + 1) === 0),
        "ts", Seq("k"), "v", path)
      (1L to mod).foreach { m =>
        Rollup.appendRollup(df.filter(F.col("id") % (mod + 1) === m),
          "ts", Seq("k"), "v", path, s"b$m")
      }
      val got = Rollup.readRollup(spark, path)
        .select(F.col("day").cast("string"), F.col("k"), F.col("n"),
          F.col("nv"), F.col("sum"), F.col("min"), F.col("max"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6))).toMap
      val want = rows.groupBy(r =>
        (java.time.LocalDate.ofEpochDay(r._2 / dayNs).toString, r._3))
        .view.mapValues { rs =>
          val vs = rs.map(_._4)
          (rs.size.toLong, vs.size.toLong, vs.sum, vs.min, vs.max)
        }.toMap
      assert(got == want)
    }
  }

  test("SQ8 rescore at a covering factor equals float brute force " +
      "bit-for-bit on random corpora (exhaustive probe: candidates = " +
      "everything, so the refine must reproduce the exact ranking)") {
    import org.apache.spark.sql.{functions => F}
    import graft.operators.Similarity
    import spark.implicits._
    // random small corpora: n vectors of width d, values in [-1, 1];
    // ids 0..n-1, queries = 2 held-out random vectors
    val corpusGen = for {
      n <- Gen.chooseNum(12, 40)
      d <- Gen.chooseNum(3, 8)
      vals <- Gen.listOfN((n + 2) * d, Gen.chooseNum(-1.0, 1.0))
    } yield (n, d, vals)
    forAll(corpusGen, n = 5) { case (n, d, vals) =>
      val vecs = vals.grouped(d).toSeq
      val corpus = vecs.take(n).zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val queries = vecs.slice(n, n + 2).zipWithIndex
        .map { case (v, i) => (1000L + i, v) }.toDF("id", "v")
      val truth = Similarity.bruteForceTopK(corpus, F.col("id"),
        F.col("v"), queries, F.col("id"), F.col("v"), k = 3)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val idx = Similarity.ivfIndex(corpus, F.col("id"), F.col("v"),
        nlist = 4, trainSample = 100)
      // factor covers the whole corpus: ceil(n/k) so k·factor >= n —
      // the quantized ranking's candidate set is EVERYTHING and the
      // refine must reproduce the float ranking exactly, whatever the
      // quantization did to the intermediate order
      val factor = (n + 2) / 3
      val got = Similarity.ivfSearchQuantized(idx.centroids,
        Similarity.ivfIndexQuantized(idx), queries, F.col("id"),
        F.col("v"), k = 3, nprobe = 4,
        rescore = Some(Similarity.RescoreSource(corpus, F.col("id"),
          F.col("v"), factor)))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(got == truth, s"n=$n d=$d:\n$got\nvs\n$truth")
    }
  }
}
