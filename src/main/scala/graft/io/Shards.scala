package graft.io

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import org.apache.spark.sql.{functions => F}

/** Training-shard export — the LAST step of a curation pipeline: a
  * deterministic global shuffle of the corpus into a fixed number of
  * shard files, reproducible bit-for-bit across runs, cluster sizes, and
  * engines.
  *
  * Trainers need (a) an order that is uncorrelated with the corpus's
  * ingest/source order (sequential reads must look i.i.d.), (b) fixed
  * shard boundaries so a run can be resumed/distributed by shard id, and
  * (c) reproducibility — re-exporting the same corpus yields byte-equal
  * shards. A `rand()`-based shuffle gives none of these. Here both the
  * shard id and the in-shard position derive from one md5-based
  * exact-integer hash of the document key (the same deterministic
  * uniform the sampling family replays verbatim in DuckDB): shard =
  * hash(key) mod numShards, position = rank of the full hash within the
  * shard. No RNG state, no partition-order dependence.
  *
  * Scale shape: ONE hash shuffle (`repartition(numShards, shard)`), then
  * the rank is a window over the SAME clustering — EnsureRequirements
  * sees the distribution already satisfied, so the window adds only the
  * in-partition sort the partitioned write needs anyway. No global sort,
  * no driver funnel; shard sizes are Binomial(n, 1/numShards) — even to
  * ~±3σ for any realistic shard count. Size `numShards` so one shard ≈
  * 100 MB–1 GB: each shard is exactly one task and one output file.
  */
object Shards {

  /** The 32-bit exact-integer hash both shard id and order derive from:
    * first 8 md5 hex chars of `key || salt`, as a long in [0, 2^32).
    * Null keys fail loud in-plan — a null has no deterministic shard. */
  private def hash32(key: Column, salt: String): Column = {
    val ks = key.cast(StringType)
    val hex = F.substring(
      F.md5(F.concat(ks, F.lit(salt)).cast(BinaryType)), 1, 8)
    F.when(F.assert_true(ks.isNotNull, F.lit(
      "shard key is null — a null key has no deterministic shard; " +
        "filter or coalesce explicitly first")).isNull,
      F.conv(hex, 16, 10).cast(LongType))
  }

  /** Full md5 hex of `key || salt` — the in-shard order key (128 bits, so
    * order collisions require an md5 collision; ties broken by key). */
  private def orderHex(key: Column, salt: String): Column =
    F.md5(F.concat(key.cast(StringType), F.lit(salt)).cast(BinaryType))

  /** Deterministic shard id and 1-based in-shard position for every row:
    * adds `shard` (long in [0, numShards)) and `pos`. One hash shuffle +
    * one in-partition sort; see the object doc for why the window costs
    * no second exchange. The key must uniquely identify rows — rows
    * SHARING a key land in the same shard at adjacent positions, but
    * which duplicate takes which position is engine-arbitrary (they tie
    * on the full order key). Dedup or disambiguate the key first. */
  def assignShards(df: DataFrame, key: Column, numShards: Int,
      salt: String = ""): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    // guard HERE, not only in writeShards: withColumn would silently
    // replace a pre-existing shard/pos (or the internal order column)
    // on either entry point
    val clash = df.columns.filter(c => Set("shard", "pos", "__sh_hex")
      .contains(c.toLowerCase(java.util.Locale.ROOT)))
    require(clash.isEmpty,
      s"assignShards reserves column name(s) ${clash.mkString(", ")} — " +
        "rename before sharding")
    val w = Window.partitionBy("shard")
      .orderBy(F.col("__sh_hex").asc, key.cast(StringType).asc)
    df.withColumn("shard", hash32(key, salt) % numShards)
      .withColumn("__sh_hex", orderHex(key, salt))
      .repartition(numShards, F.col("shard"))
      .withColumn("pos", F.row_number().over(w).cast(LongType))
      .drop("__sh_hex")
  }

  /** Export the corpus as `numShards` shard files under
    * `path/shard=N/`: every shard is written by exactly one task as
    * exactly one file, rows inside ordered by the deterministic hash
    * (the `pos` column persists the order — parquet readers that split a
    * shard across row groups can restore it with one in-shard sort).
    * Re-running the export over the same corpus reproduces identical
    * shard membership and order. */
  def writeShards(df: DataFrame, key: Column, numShards: Int, path: String,
      salt: String = "", compression: String = "snappy"): Unit = {
    assignShards(df, key, numShards, salt)
      .sortWithinPartitions(F.col("shard"), F.col("pos"))
      .write.mode("overwrite")
      .option("compression", GraftIO.parquetCodec(compression))
      .partitionBy("shard")
      .parquet(GraftIO.resolveWriteUrl(path))
  }

  /** Read an exported shard layout back in per-shard `pos` order — the
    * trainer-side iterator contract: one partition per shard, rows inside
    * each partition in `pos` order, partitions in `shard` order (a
    * trainer iterating partitions 0..N-1 sees the full deterministic
    * sequence).
    *
    * Exchange-free by construction: the directory layout ALREADY encodes
    * the shard clustering, so a global `orderBy(shard, pos)` — a
    * range-partitioning shuffle plus full sort of the entire corpus —
    * would re-buy what the write side paid for. Instead each task reads
    * exactly one `shard=N` directory (a file-list union of per-shard
    * single-directory scans, so no shuffle can be introduced) and sorts
    * only within it; at 100 TB that is a scan plus in-partition sorts,
    * zero exchange. [[ShardsSpec]] pins the no-Exchange plan shape the
    * same way the write side pins its one-Exchange shape. */
  def readShards(spark: SparkSession, path: String): DataFrame = {
    val url = GraftIO.resolveUrl(path)
    val root = new org.apache.hadoop.fs.Path(url)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(hconf)
    // a CRASHED export leaves shard dirs without the committer's
    // _SUCCESS marker: such a layout lists fine but is silently partial
    // (missing shards, half-written shard files) — exactly the kind of
    // wrong-but-plausible input a trainer must never consume. Fail loud;
    // re-run the export (it is deterministic, a rerun reproduces the
    // layout bit-for-bit).
    require(fs.exists(new org.apache.hadoop.fs.Path(root, "_SUCCESS")),
      s"readShards: no _SUCCESS marker under $path — the export did not " +
        "commit (crashed or still running); a partial shard layout " +
        "reads as silently wrong training data. Re-run writeShards " +
        "(deterministic — a rerun reproduces the layout exactly)")
    // ONE recursive listing enumerates every shard file — no per-shard
    // listStatus round trips (at object-storage latencies numShards
    // sequential LISTs are the planning cost) and the per-shard reads
    // below get explicit FILE paths, so their FileIndex never re-lists a
    // directory
    val byShard = scala.collection.mutable.SortedMap
      .empty[Long, Vector[FileStatus]]
    val iter = fs.listFiles(root, true)
    while (iter.hasNext) {
      val st = iter.next()
      val p = st.getPath
      val dir = p.getParent.getName
      if (st.isFile && !p.getName.startsWith("_") &&
          !p.getName.startsWith(".") && dir.startsWith("shard="))
        byShard.updateWith(dir.stripPrefix("shard=").toLong)(
          v => Some(v.getOrElse(Vector.empty) :+ st))
    }
    require(byShard.nonEmpty,
      s"readShards: no shard=N directories under $path — not a " +
        "writeShards layout")
    // schema read ONCE, from the first file's footer
    val schema = Bridge.parquetSchema(spark, byShard.head._2.head)
    // one explicit-file read per shard: coalesce(1) fuses any
    // maxPartitionBytes splits of the shard file back into ONE partition
    // (a shuffle-free concatenation — the unit of trainer consumption is
    // the shard, so one task per shard is the contract, and the pos sort
    // then restores full-shard order regardless of split concat order);
    // the union preserves child order, so partition order IS shard
    // order. The shard partition column is re-attached as a literal
    // (file-level reads don't surface it). The plan is O(numShards)
    // union children, folded as a BALANCED tree: a left-deep
    // `reduce(_ unionAll _)` re-analyzes the growing prefix at every
    // step — O(n²) driver analysis, measured bending the per-shard plan
    // cost 20 ms → 35 ms between 256 and 1024 shards
    // (scaling/shard_plan.json) — while pairing neighbors re-analyzes
    // each leaf only O(log n) times and Catalyst's CombineUnions flattens
    // the tree back to one n-ary Union before execution, so the physical
    // plan (and partition order:
    // union concatenates children left-to-right at every level) is
    // identical. The remaining plan cost is the linear per-shard
    // relation build (~20 ms/shard local; measured in
    // scaling/shard_plan.json) — beyond tens of thousands of shards,
    // trainers read their own `shard=N` directories directly (the
    // layout is the contract, this helper is the reference iterator).
    @annotation.tailrec
    def fold(dfs: Seq[DataFrame]): DataFrame =
      if (dfs.lengthCompare(1) == 0) dfs.head
      else fold(dfs.grouped(2).map {
        case Seq(a, b) => a.unionAll(b)
        case Seq(a) => a
      }.toSeq)
    fold(byShard.toSeq.map { case (sid, files) =>
      spark.read.schema(schema).parquet(files.map(_.getPath.toString): _*)
        .coalesce(1)
        .withColumn("shard", F.lit(sid))
        .sortWithinPartitions(F.col("pos"))
    })
  }

  /** Read ONE shard of an exported layout — the production path past
    * [[readShards]]' measured plan envelope (scaling/shard_plan.json:
    * ~14-20 ms/shard of driver planning; fine into the low thousands of
    * shards, wrong at the 100k-1M shards a 100 TB export lands). The
    * layout is the contract: a distributed trainer assigns shard ids to
    * workers and each worker pays ONLY its own shard's LIST + plan —
    * this helper is that worker-side read, with the same per-shard
    * contracts as the full iterator (one partition, rows in `pos`
    * order, the `shard` column re-attached) and the same committed
    * (`_SUCCESS`) and existence guards, so a mistyped or out-of-range
    * shard id fails loud instead of reading as an empty shard.
    *
    * MEASURED constant in the layout's total size (r14 verdict #7,
    * scaling/shard_worker.json): the full verb — guards + single-dir
    * LIST + plan + a consume of the shard — holds a flat ~0.13-0.22 s
    * median from 1k through 131k sibling `shard=N` dirs on a local
    * fs; nothing in the path enumerates siblings, so dir count only
    * enters through the filesystem's own name-lookup cost. */
  def readShard(spark: SparkSession, path: String, shardId: Long): DataFrame = {
    require(shardId >= 0, s"readShard: shard id must be >= 0, got $shardId")
    val url = GraftIO.resolveUrl(path)
    val root = new org.apache.hadoop.fs.Path(url)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(root, "_SUCCESS")),
      s"readShard: no _SUCCESS marker under $path — the export did not " +
        "commit (crashed or still running); re-run writeShards " +
        "(deterministic — a rerun reproduces the layout exactly)")
    val dir = new org.apache.hadoop.fs.Path(root, s"shard=$shardId")
    require(fs.exists(dir),
      s"readShard: no shard=$shardId under $path — shard ids run " +
        "0..numShards-1 of the export")
    val files = fs.listStatus(dir)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.toString)
    require(files.nonEmpty, s"readShard: shard=$shardId is empty on disk")
    // the schema from the first file's footer: no inference job
    spark.read.schema(Bridge.parquetSchema(spark, files.head))
      .parquet(files.map(_.getPath.toString).toIndexedSeq: _*)
      .coalesce(1)
      .withColumn("shard", F.lit(shardId))
      .sortWithinPartitions(F.col("pos"))
  }
}
