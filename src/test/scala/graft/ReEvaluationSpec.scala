package graft

import graft.io.Manifest
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.graftbridge.Bridge

/** A frame that feeds two evaluations is snapshotted only when the two
  * could disagree (`Bridge.reEvaluatesIdentically`). These specs pin the
  * rule's verdicts, that its sites take no snapshot of a frame that
  * passes, and that a frame that fails still gets one consistent set of
  * rows. */
class ReEvaluationSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** (jobs started, RDDs created and unpersisted) while `body` runs,
    * bracketed by sentinel jobs so queued events of earlier work are not
    * counted; the session's cleaner releasing older RDDs is ignored. */
  private def jobsAndReleases(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler._
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val floor = spark.sparkContext.emptyRDD[Int].id
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull))
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        if (e.rddId > floor) events.add("__unpersist")
    }
    def sentinel(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.range(1).collect()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!events.contains(name) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(events.contains(name), "listener events never arrived")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      sentinel("__before")
      body
      sentinel("__after")
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = events.asScala.toSeq
    val during = seen.slice(seen.indexOf("__before") + 1,
      seen.indexOf("__after"))
    (during.count(_ != "__unpersist"), during.count(_ == "__unpersist"))
  }

  test("snapshotManaged releases by exact handle; snapshot content exact") {
    val src = (1 to 7).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    val before = persistedIds
    val (snap, release) = Bridge.snapshotManaged(src)
    assert(snap.orderBy("id").collect().toSeq ===
      src.orderBy("id").collect().toSeq)
    val mine = persistedIds -- before
    assert(mine.nonEmpty)
    assert(Bridge.reEvaluatesIdentically(snap), "a checkpointed frame")
    release()
    assert((persistedIds & mine).isEmpty, "release must free the snapshot")
    release() // idempotent
  }

  test("reEvaluatesIdentically: parquet reads, local relations, ranges " +
      "and a file-source trigger's batch pass") {
    val d = tmp("graft_reeval")
    val local = (1 to 20).map(i => (i.toLong, s"t$i")).toDF("id", "t")
    local.write.parquet(s"$d/t")
    val parquet = spark.read.parquet(s"$d/t")
    assert(Bridge.reEvaluatesIdentically(parquet))
    assert(Bridge.reEvaluatesIdentically(
      parquet.filter(F.col("id") > 3).groupBy("t").count()))
    assert(Bridge.reEvaluatesIdentically(local))
    assert(Bridge.reEvaluatesIdentically(spark.range(10).toDF()))
    assert(Bridge.reEvaluatesIdentically(parquet.orderBy("id").limit(5)))
    val feed = new java.io.File(s"$d/feed"); feed.mkdirs()
    shipFeed(local, feed, 0, s"$d/tmp0")
    val stream = graft.streaming.Streams.readParquetStream(spark,
      feed.toString, local.schema)
    assert(Bridge.reEvaluatesIdentically(stream))
    val verdicts = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val q = stream.writeStream
      .foreachBatch((b: DataFrame, _: Long) => {
        verdicts.add(Bridge.reEvaluatesIdentically(b)); ()
      })
      .option("checkpointLocation", s"$d/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(verdicts.size == 1 && verdicts.peek(), verdicts.toString)
  }

  test("reEvaluatesIdentically: rand(), sample, an unordered limit and " +
      "an RDD-built frame fail") {
    val d = tmp("graft_reeval_no")
    (1 to 20).map(i => (i.toLong, s"t$i")).toDF("id", "t")
      .write.parquet(s"$d/t")
    val parquet = spark.read.parquet(s"$d/t")
    assert(!Bridge.reEvaluatesIdentically(
      parquet.withColumn("r", F.rand(7))))
    assert(!Bridge.reEvaluatesIdentically(parquet.sample(0.5, 7L)))
    assert(!Bridge.reEvaluatesIdentically(parquet.limit(5)))
    assert(!Bridge.reEvaluatesIdentically(spark.createDataFrame(
      parquet.repartition(3).rdd, parquet.schema)))
    // a subquery counts too
    assert(!Bridge.reEvaluatesIdentically(parquet.filter(F.col("id") >
      Bridge.scalarSubquery(parquet.limit(1).select("id")))))
  }

  test("deleteKeys over a stable key frame takes no snapshot and runs " +
      "fewer jobs") {
    val dir = tmp("graft_reeval_del") + "/t"
    Manifest.writeWithManifest(
      (0L until 200L).map(i => (i, s"r$i")).toDF("id", "s"),
      dir, statsCols = Seq("id"), clusterCols = Seq("id"), targetFiles = 4)
    val before = persistedIds
    val (jobs, released) = jobsAndReleases {
      assert(Manifest.deleteKeys(spark, dir, "id",
        Seq(55L, 56L, 56L).toDF("id"), segment = "d1") == 1)
    }
    assert(released == 0, "deleteKeys snapshotted a stable key frame")
    assert((persistedIds -- before).isEmpty)
    // the envelope join and the rewrite; snapshotting the key frame
    // (distinct + localCheckpoint) added 2 jobs to these 5
    assert(jobs <= 5, s"deleteKeys ran $jobs jobs")
    assert(Manifest.manifest(spark, dir).select(F.sum("rows")).head()
      .getLong(0) == 198L)
    // a key frame that fails the rule is still read once: one snapshot,
    // released when the call returns
    val (_, nondet) = jobsAndReleases {
      Manifest.deleteKeys(spark, dir, "id",
        Seq(10L, 11L).toDF("id").withColumn("r", F.rand(3))
          .filter(F.col("r") >= 0.0).select("id"), segment = "d2")
    }
    assert(nondet == 1)
    assert((persistedIds -- before).isEmpty)
    assert(Manifest.manifest(spark, dir).select(F.sum("rows")).head()
      .getLong(0) == 196L)
  }

  /** Four axis-aligned clusters of 10 unit-ish vectors each. */
  private def corpus: DataFrame =
    (for { cl <- 0 until 4; i <- 0 until 10 } yield {
      val v = Array.tabulate(8)(d =>
        (if (d == cl * 2) 10.0 else 0.0) + ((i * 7 + d * 3) % 5) * 0.1)
      (cl * 100L + i, v.toSeq)
    }).toDF("id", "v")

  private def rows(df: DataFrame): Seq[(Long, Long, Int, Double)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq

  test("distributed searchIvfIndex over parquet queries, with and without " +
      "rescore, takes no snapshot and equals the localized result") {
    val root = tmp("graft_reeval_ivf")
    corpus.write.parquet(root + "/source")
    val source = spark.read.parquet(root + "/source")
    Similarity.writeIvfIndex(corpus, F.col("id"), F.col("v"),
      root + "/float", nlist = 4, trainSample = 100)
    Similarity.writeIvfIndex(corpus, F.col("id"), F.col("v"),
      root + "/sq8", nlist = 4, trainSample = 100, sq8 = true)
    corpus.filter(F.col("id") % 3 === 0).write.parquet(root + "/queries")
    val queries = spark.read.parquet(root + "/queries")
    def search(path: String, localize: Boolean,
        rescore: Option[Similarity.RescoreSource]) =
      Similarity.searchIvfIndex(spark, path, queries, F.col("id"),
        F.col("v"), k = 5, nprobe = 2, localizeQueries = localize,
        rescore = rescore)
    val rs = Some(Similarity.RescoreSource(source, F.col("id"), F.col("v")))
    for ((path, r) <- Seq((root + "/float", None), (root + "/sq8", rs))) {
      val before = persistedIds
      var dist: Seq[(Long, Long, Int, Double)] = Nil
      val (_, released) = jobsAndReleases {
        dist = rows(search(path, localize = false, r))
      }
      assert((persistedIds -- before).isEmpty && released == 0,
        s"$path: the distributed search snapshotted a stable frame")
      assert(dist.nonEmpty)
      assert(dist == rows(search(path, localize = true, r)), path)
    }
  }

  test("a rand()-derived query frame still gets k rows per query on the " +
      "distributed probe and rescore") {
    val root = tmp("graft_reeval_rand")
    corpus.write.parquet(root + "/source")
    Similarity.writeIvfIndex(corpus, F.col("id"), F.col("v"),
      root + "/sq8", nlist = 4, trainSample = 100, sq8 = true)
    // fresh random directions on every evaluation: two evaluations would
    // probe different cells
    val queries = spark.range(30).select(F.col("id"),
      F.array((0 until 8).map(i => F.rand(i.toLong) - 0.5): _*).as("v"))
    assert(!Bridge.reEvaluatesIdentically(queries))
    for (rescore <- Seq(None, Some(Similarity.RescoreSource(
        spark.read.parquet(root + "/source"), F.col("id"), F.col("v"))))) {
      val got = Similarity.searchIvfIndex(spark, root + "/sq8", queries,
        F.col("id"), F.col("v"), k = 3, nprobe = 1, localizeQueries = false,
        rescore = rescore)
        .groupBy("query_id").agg(F.count(F.lit(1)).as("n"),
          F.max("rank").as("r")).collect()
      assert(got.length == 30, s"rescore=${rescore.isDefined}")
      assert(got.forall(r => r.getLong(1) == 3L && r.getInt(2) == 3),
        s"rescore=${rescore.isDefined}: ${got.toSeq}")
    }
  }

  test("ingestEmbedStream over a stream with a rand() column matches the " +
      "plain stream and releases its batch snapshots") {
    def axis(i: Int): Seq[Double] =
      Seq.tabulate(8)(j => if (j == i) 1.0 else 0.01 * (j + 1))
    val batches = (0 until 3).map(k =>
      Seq((2L * k, axis(0).map(_ * 2.0)), (2L * k + 1, axis(k + 1)))
        .toDF("vec_id", "embedding"))
    def run(name: String, noisy: Boolean): Seq[Long] = {
      val d = tmp(s"graft_reeval_$name")
      val idx = s"$d/idx"
      Similarity.writeIvfIndex(Seq((100L, axis(0))).toDF("vec_id", "embedding"),
        F.col("vec_id"), F.col("embedding"), idx, nlist = 2, trainSample = 10)
      val feed = new java.io.File(s"$d/feed"); feed.mkdirs()
      batches.zipWithIndex.foreach { case (b, k) =>
        shipFeed(b, feed, k, s"$d/tmp$k") }
      val stream = graft.streaming.Streams.readParquetStream(spark,
        feed.toString, batches.head.schema)
      graft.streaming.Streams.ingestEmbedStream(
        if (noisy) stream.withColumn("noise", F.rand(5)) else stream,
        F.col("vec_id"), F.col("embedding"), idx, s"$d/out",
        threshold = 0.999, name = name)
      col1[Long](spark.read.parquet(s"$d/out").orderBy("vec_id"), "vec_id")
    }
    val plain = run("reeval_plain", noisy = false)
    assert(plain === Seq(1L, 3L, 5L))
    val before = persistedIds
    assert(run("reeval_noisy", noisy = true) === plain)
    assert((persistedIds -- before).isEmpty)
  }
}
