package graft.io

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** File-level min/max manifest — data skipping for columns the directory
  * layout does NOT partition by (the Delta/Iceberg zone-map posture,
  * re-expressed as plain parquet + a sidecar stats table).
  *
  * [[GraftIO.writeTimePartitioned]] prunes by DIRECTORY on one derived
  * date; at 100 TB a second selective column (a numeric score band, an id
  * range, a size bucket) still costs a full file LISTING plus a footer
  * read per file before parquet's row-group stats can reject anything —
  * on object storage that is 100k+ GET-footer round trips for a query
  * that touches three files. A manifest inverts that: a small parquet
  * side table (one row PER DATA FILE: row count + min/max of the declared
  * stats columns) is consulted first, and only surviving files are handed
  * to the scan. The manifest itself is SEGMENTED (see the layout note
  * below): each mutation appends a part covering only its own files, so
  * per-mutation manifest cost tracks the batch, never the table; reads
  * compose parts minus tombstones, and [[compactManifest]] periodically
  * folds them (driver-side, file-count-bound — the Delta-checkpoint
  * posture, the only full-manifest materialization left).
  *
  * Small manifests are REPLAYED on the driver, as Delta replays a small
  * transaction log: when the parts total at most 8 MiB of parquet
  * ([[graft.DriverMaxBytes]], the bound connected components shares;
  * [[compactManifest]]'s `driverFoldMaxBytes` defaults to it),
  * every reader — [[manifest]], [[manifestAsOf]], [[readSkipping]],
  * [[deleteKeys]], [[vacuum]], the compaction fold — reads the parts
  * with the driver-side parquet reader and composes them in memory, with
  * zero Spark jobs. Larger manifests keep the distributed view. Each part
  * also records the layout's data schema, so a range read opens its
  * surviving files with an explicit schema (no inference job) and a read
  * that keeps no file returns a schema-true empty frame.
  *
  * Skipping is only as good as the layout is clustered: `clusterCols`
  * range-repartitions + in-file sorts the write so per-file [min,max]
  * envelopes are tight and disjoint (the one-time layout-build shuffle,
  * same economics as the lake's repartition-by-day). An unclustered write
  * still gets a correct manifest — every file's envelope just overlaps
  * every bound, and skipping degrades to a full scan, never to a wrong
  * answer.
  */
object Manifest {

  // ---- segmented manifest layout ------------------------------------------
  // The manifest itself is an LSM, not a single rewritten file (the same
  // pattern as the engine's index segments and rollups, third
  // application): `_manifest/parts/seg=<op>/` holds one append-only
  // parquet PART per mutation. A part row is either LIVE (`rows`
  // non-null: file, rows, min_*, max_* — a data file this mutation
  // wrote) or a TOMBSTONE (`rows` null: a data file this mutation
  // retired). The live manifest = live rows of all parts, deduplicated
  // by file, minus every tombstoned file. Dedup is safe because a file
  // path is content-immutable (Spark part names carry a fresh job UUID
  // per write), so duplicate live rows for one file are identical and
  // any survivor is correct; duplicates only exist inside a crashed
  // compaction's retry window.
  //
  // Why: the previous design collected and rewrote the FULL manifest on
  // every mutation — file-count-bound driver state and a whole-table
  // manifest write per batch. At ~1M files (a 100 TB table) that is tens
  // of MB of driver traffic per micro-batch. With parts, a mutation
  // writes rows for ITS OWN files only; cost tracks the batch, not the
  // table. Parts accrete per mutation (exactly like data segments) and
  // [[compactManifest]] folds them back to one, the same economics as
  // every compactor here.
  //
  // Crash safety: ONE part-commit rule ([[commitPart]]) for every part
  // write — mutations and both compaction folds. List the files already
  // in `seg=<segment>`, write the new part file beside them, then delete
  // only the listed files (a fold records its floor between the two). No
  // part is deleted before its replacement is in place, and the view
  // needs nothing more: live rows dedup by file and every tombstone
  // applies, so old and new parts may coexist at any crash prefix. A
  // mutation's part (live rows AND tombstones in one file — they commit
  // atomically) lands BEFORE its retired data files are deleted: a crash
  // before the part leaves the mutation invisible (orphans for
  // [[vacuum]]); after it, only not-yet-deleted retired files linger as
  // orphans. The manifest is readable at every prefix and never loses a
  // row.
  private def partsPath(url: String) = url + "/_manifest/parts"

  // ---- recorded data schema -------------------------------------------------
  // Every part's `__commit` field carries the layout's DATA schema (the
  // columns of its data files) as JSON in its field metadata, which
  // ParquetWriteSupport serializes into the part footer with the rest of
  // the Spark schema. Mutations carry the recorded schema forward, so all
  // parts agree; parts written before the schema was recorded carry none
  // (readers then infer it from the data files, as they used to).
  private val DataSchemaKey = "graft.dataSchema"

  private def commitMetadata(dataSchema: Option[StructType])
      : org.apache.spark.sql.types.Metadata = {
    val b = new org.apache.spark.sql.types.MetadataBuilder
    dataSchema.foreach(s => b.putString(DataSchemaKey, s.json))
    b.build()
  }

  private def recordedDataSchema(partSchema: StructType): Option[StructType] =
    partSchema.find(_.name == "__commit").map(_.metadata)
      .filter(_.contains(DataSchemaKey))
      .map(m => DataType.fromJson(m.getString(DataSchemaKey))
        .asInstanceOf[StructType])

  /** Data files and parts only: Spark's `_`/`.` bookkeeping and temp
    * files are skipped, as a Spark listing skips them. */
  private def isDataFile(st: FileStatus): Boolean =
    st.isFile && !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith(".")

  /** `f` over `items` in a BOUNDED thread pool (at most 16 threads),
    * results in input order. Footer and part reads are independent
    * metadata round trips, and on object storage a serial loop pays them
    * back to back (r14 verdict #4: measured locally ~10× over serial at
    * 64-1024 parts, scaling/manifest_harvest.json). A task's own
    * exception (corrupt file, missing permission) surfaces unwrapped. */
  private def inPool[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.isEmpty) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, items.size))
      try pool.invokeAll(items.map(a => new java.util.concurrent.Callable[B] {
          def call(): B = f(a) }).asJava).asScala.map(fu =>
          try fu.get()
          catch {
            case e: java.util.concurrent.ExecutionException => throw e.getCause
          }).toSeq
      finally pool.shutdown()
    }

  /** THE part-commit rule (see the layout note above): list the part
    * files already in `seg=<segment>` — an earlier attempt of a retried
    * mutation or fold — let `write` land the new part file beside them
    * in that directory, then delete only the listed files. A retried
    * mutation or fold thereby REPLACES its earlier part (the contract of
    * every data-segment appender) without a window in which the segment
    * holds neither. A compaction fold passes its stamp as `floor`: the
    * floor lands between the write and the delete, so no part is deleted
    * before the floor refuses the history that part held. */
  private def commitPart(spark: SparkSession, url: String, segment: String,
      floor: Option[Long])(write: String => Unit): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"${partsPath(url)}/seg=$segment")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val older =
      if (fs.exists(dir)) fs.listStatus(dir).filter(isDataFile).toSeq
      else Seq.empty
    write(dir.toString)
    floor.foreach(writeFloor(spark, url, _))
    older.foreach(st => fs.delete(st.getPath, false))
  }

  /** Write one manifest part for `segment` through [[commitPart]], as a
    * Spark append of one file. `rows` is (file, rows, min_*, max_*), with
    * null `rows` marking tombstones; every row is stamped with the
    * mutation's `commit` number (the time-travel axis — see
    * [[manifestAsOf]]), and `__commit` records `dataSchema` (see above).
    * The append lands a schema-only parquet file even at zero rows, so an
    * all-rows-deleted table keeps a readable, empty manifest. */
  private def writePart(rows: DataFrame, url: String,
      segment: String, commit: Long, dataSchema: Option[StructType],
      floor: Option[Long] = None): Unit =
    commitPart(rows.sparkSession, url, segment, floor) { dir =>
      rows.coalesce(1)
        .withColumn("__commit", F.lit(commit))
        .withMetadata("__commit", commitMetadata(dataSchema))
        .write.mode("append").parquet(dir)
    }

  /** The next commit number: max stamped commit + 1 (0 for a fresh
    * layout). Race-free under the single-writer contract; a crash-retry
    * may consume numbers (its replacement part gets a fresh one) — as-of
    * reads pinned to EARLIER commits are unaffected, which is all the
    * monotonicity the contract needs.
    *
    * Read DRIVER-SIDE from the part files' parquet footer statistics
    * ([[harvestFooterCommits]], the pooled footer reader, over the
    * listing [[parts]] makes) — `__commit` is constant per part, so every
    * footer's column max IS the part's commit; ZERO Spark jobs (a naive
    * `agg(max)` measured 3-4 driver-scheduled jobs per call —
    * per-mutation floor the r12 job trim just paid down). A footer
    * without statistics, or a part holding several commits (foreign
    * writers), falls back to the replayed or aggregated parts. */
  private def nextCommit(spark: SparkSession, url: String): Long = {
    val files = partFiles(spark, url)
    if (files.isEmpty) return 0L
    val (segCommits, fallback) =
      harvestFooterCommits(spark.sparkContext.hadoopConfiguration, files)
    val top =
      if (!fallback) segCommits.map(_._2).maxOption.getOrElse(-1L)
      else parts(spark, url).replayed match {
        case Some(r) =>
          val i = r.schema.fieldIndex("__commit")
          r.rows.map(_.getLong(i)).maxOption.getOrElse(-1L)
        case None =>
          val r = rawParts(spark, url).agg(F.max("__commit")).collect().head
          if (r.isNullAt(0)) -1L else r.getLong(0)
      }
    // the compaction floor participates: an ALL-ROWS-DELETED compaction
    // leaves a zero-row compact part whose footer carries no stats, and
    // without the floor the next mutation would restart numbering at 0 —
    // colliding with compacted-away history
    math.max(top, readFloor(spark, url).getOrElse(-1L)) + 1L
  }

  // ---- compaction floor --------------------------------------------------
  // `_manifest/floor` records the oldest still-addressable commit — the
  // compact part's stamp — and is written durably BEFORE any old part
  // directory is deleted. Without it, a crash mid-compaction (some old
  // parts deleted, some surviving) leaves manifestAsOf silently WRONG: a
  // surviving old part keeps min(__commit) low enough to pass the
  // "compacted away" guard, but the as-of view reconstructs from only the
  // surviving subset and lists a partial file set. With the floor, every
  // commit below the compaction is refused loudly at every crash prefix
  // (the floor lands before the first deletion; a crash before it leaves
  // all parts intact, so the min-commit fallback still answers correctly).

  private def floorPath(url: String) =
    new org.apache.hadoop.fs.Path(url + "/_manifest/floor")

  /** The compaction floor, if one was ever recorded. Unparseable content
    * fails LOUD — a truncated floor means a compaction was interrupted
    * mid-marker (only possible by foreign interference: the writer goes
    * through a temp file + atomic rename), and guessing would re-open the
    * silent-partial-history hole the marker exists to close. */
  private def readFloor(spark: SparkSession, url: String): Option[Long] = {
    val p = floorPath(url)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(try txt.trim.toLong catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"corrupt compaction floor at $p ('${txt.take(40)}') — " +
            "restore or remove the marker before reading history") })
    }
  }

  /** Durably record the compaction floor: temp file + rename, so no
    * reader ever sees a partially-written marker (a crash between the
    * delete and the rename leaves the floor absent with every part still
    * intact — the min-commit fallback covers that window). */
  private def writeFloor(spark: SparkSession, url: String,
      commit: Long): Unit = {
    val p = floorPath(url)
    val tmp = new org.apache.hadoop.fs.Path(url + "/_manifest/.floor_tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(commit.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    require(fs.rename(tmp, p), s"failed to commit compaction floor at $p")
  }

  /** Drop a segment's manifest part (an empty retried batch must clear
    * its earlier attempt's rows — a zero-row dynamic overwrite would
    * leave the old files listed). */
  private def dropPart(spark: SparkSession, url: String,
      segment: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"${partsPath(url)}/seg=$segment")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Tombstone rows in the part schema of `live`: file set, everything
    * else null (the `rows IS NULL` marker). */
  private def tombRows(live: DataFrame, files: Seq[String]): DataFrame = {
    val spark = live.sparkSession
    import spark.implicits._
    val byName = live.schema.fields.map(f => f.name -> f.dataType).toMap
    files.toDF("file").select(F.col("file") +:
      live.schema.fieldNames.filter(_ != "file").map(n =>
        F.lit(null).cast(byName(n)).as(n)): _*)
  }

  /** Child `seg=` directories of the parts root — one bounded listing. */
  private def segDirs(spark: SparkSession, root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("seg="))
      .map(_.getPath.toString)
  }

  /** All part rows (live + tombstones) as a distributed read — the view
    * of manifests too big to replay (see [[parts]]); `seg` (the part's
    * segment id, from the partition directory) dropped unless asked for. */
  private def rawParts(spark: SparkSession, url: String,
      keepSeg: Boolean = false): DataFrame = {
    require(segDirs(spark, partsPath(url)).nonEmpty,
      s"no manifest at $url — write the layout with writeWithManifest")
    val all = spark.read.parquet(partsPath(url))
    if (keepSeg) all else all.drop("seg")
  }

  /** Every part row on the driver: the parts' shared schema plus `seg`
    * (a string, taken from the directory name — never a partition value
    * Spark could type as a number), and the data schema the parts
    * record. */
  private final case class Replayed(schema: StructType, rows: IndexedSeq[Row],
      dataSchema: Option[StructType])

  /** The part files of the manifest at `url` per segment (sorted by
    * segment), listed once, and — when they replay — their rows. */
  private final class Parts(spark: SparkSession, url: String,
      val files: Seq[(String, Array[FileStatus])],
      val replayed: Option[Replayed]) {
    /** The parts' schema: replayed, or inferred by the distributed read. */
    lazy val schema: StructType =
      replayed.fold(rawParts(spark, url).schema)(_.schema)

    /** The recorded data schema (see [[recordedDataSchema]]). */
    lazy val dataSchema: Option[StructType] =
      replayed.fold(recordedDataSchema(schema))(_.dataSchema)
  }

  /** THE route between driver replay and the distributed view, shared by
    * every manifest reader and [[compactManifest]]: one bounded listing
    * of the `seg=` part directories; when the part files total at most
    * `driverMaxBytes`, each is read with the driver-side parquet reader
    * (zero Spark jobs) and all rows are returned. `replayed` is None when
    * the parts exceed the bound, or when a part footer carries no Spark
    * schema or the parts disagree on their columns (a foreign writer) —
    * the distributed read keeps today's inference there. Loud when no
    * manifest exists. */
  private def parts(spark: SparkSession, url: String,
      driverMaxBytes: Long = graft.DriverMaxBytes): Parts = {
    val files = partFiles(spark, url)
    require(files.nonEmpty,
      s"no manifest at $url — write the layout with writeWithManifest")
    val bytes = files.iterator.flatMap(_._2).map(_.getLen).sum
    new Parts(spark, url, files,
      if (bytes > driverMaxBytes) None else replay(spark, files))
  }

  /** The part files per `seg=` directory of the manifest at `url`,
    * sorted by segment; empty when there is no manifest. */
  private def partFiles(spark: SparkSession,
      url: String): Seq[(String, Array[FileStatus])] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    segDirs(spark, partsPath(url)).map { d =>
      val dp = new org.apache.hadoop.fs.Path(d)
      (dp.getName.stripPrefix("seg="),
        dp.getFileSystem(hconf).listStatus(dp).filter(isDataFile))
    }.sortBy(_._1)
  }

  private def replay(spark: SparkSession,
      files: Seq[(String, Array[FileStatus])]): Option[Replayed] = {
    val read = inPool(files.flatMap { case (seg, sts) => sts.map(seg -> _) }) {
      case (seg, st) => Bridge.readParquetDriverSide(spark, st).map(seg -> _)
    }
    if (read.isEmpty || read.contains(None)) return None
    val got = read.flatten
    val schemas = got.map(_._2._1)
    def columns(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
    if (schemas.exists(s => columns(s) != columns(schemas.head))) return None
    Some(Replayed(schemas.head.add("seg", StringType),
      got.flatMap { case (seg, (_, rows)) =>
        rows.map(r => Row.fromSeq(r.toSeq :+ seg)) }.toIndexedSeq,
      schemas.iterator.flatMap(recordedDataSchema).nextOption()))
  }

  /** Column names of one existing data file (first file of the first
    * `seg=` dir), read from the Spark schema in its footer — one bounded
    * listing + one driver-side footer read, no job — or None for a table
    * with no data yet. The cheap witness the schema-drift guard below
    * compares against. */
  private def existingDataColumns(spark: SparkSession,
      url: String): Option[Seq[String]] = {
    val root = new org.apache.hadoop.fs.Path(url)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return None
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("seg="))
      .sortBy(_.getPath.getName)
      .iterator
      .flatMap(d => fs.listStatus(d.getPath).toSeq.filter(isDataFile)
        .sortBy(_.getPath.getName).headOption)
      .nextOption()
      .map(st => Bridge.parquetSchema(spark, st).fieldNames.toSeq)
  }

  /** A batch whose COLUMN SET drifted from the table's (renamed, missing,
    * extra — a schema-migrated CDC feed) would durably land, and
    * single-schema parquet reads would then silently NULL or DROP the
    * drifted columns depending on which file's footer wins inference.
    * Refuse loudly before anything commits. Order-insensitive; type
    * drift within a name surfaces through parquet's own read errors. */
  private def requireSchemaMatch(spark: SparkSession, url: String,
      df: DataFrame, who: String): Unit =
    existingDataColumns(spark, url).foreach { existing =>
      val want = existing.sorted
      val have = df.columns.toSeq.sorted
      require(have == want,
        s"$who: batch columns [${have.mkString(", ")}] != table columns " +
          s"[${want.mkString(", ")}] — a drifted batch would silently " +
          "null or drop columns on later reads; align the schema first")
    }

  /** The layout owns `seg` (its partition directory — a data column of
    * that name would be silently REPLACED by `withColumn("seg", ...)` and
    * partition-encoded away, lost on the round trip) and the manifest
    * schema owns `file`; refuse both up front, same posture as the
    * statsCols clash check. */
  private def requireNoReservedCols(df: DataFrame, who: String): Unit = {
    // case-INSENSITIVE: Spark resolves columns case-insensitively by
    // default, so a data column named "Seg" would be replaced by
    // withColumn("seg", ...) exactly like an exact-case clash
    val clash = df.columns.filter(c =>
      Set("seg", "file").contains(c.toLowerCase(java.util.Locale.ROOT)))
    require(clash.isEmpty,
      s"$who: data column(s) ${clash.mkString(", ")} collide with the " +
        "manifested layout's reserved names (seg = segment partition " +
        "dir, file = manifest key) — rename before writing")
  }

  /** Segment ids live in partition DIRECTORY names and are matched by
    * path substring (`/seg=<id>/`) in the retry-replace and
    * self-exclusion logic. A character Spark percent-escapes in
    * partition paths (`:`, `%`, whitespace, ...) would make the escaped
    * directory (`seg=b%3A1`) invisible to the unescaped matcher — in
    * deleteKeys that turns self-exclusion off and DESTROYS the batch, so
    * the charset is enforced loudly everywhere a segment id enters. */
  private def requireSafeSegment(segment: String, who: String): Unit =
    require(segment.nonEmpty && segment != "base" &&
        segment.forall(c => c.isLetterOrDigit || c == '_' || c == '-' ||
          c == '.'),
      s"$who: segment id '$segment' must be non-empty, not 'base', and " +
        "use only letters, digits, '_', '-', '.' — other characters are " +
        "percent-escaped in partition paths and break the path-substring " +
        "segment matching")

  /** The data files of ONE segment partition, via a directory-scoped
    * listing — never a full-table listing (on a 100k-file table that is
    * 100k object-store round trips to find the 2 files of one segment). */
  private def segmentFiles(spark: SparkSession, url: String,
      segment: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(s"$url/seg=$segment")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(isDataFile).map(_.getPath.toString)
  }

  /** Range-cluster a batch on `clusterCols` (no-op when empty). */
  private def clustered(df: DataFrame, clusterCols: Seq[String],
      targetFiles: Int): DataFrame =
    if (clusterCols.isEmpty) df
    else {
      val keys = clusterCols.map(GraftIO.qcol)
      val ranged =
        if (targetFiles > 0) df.repartitionByRange(targetFiles, keys: _*)
        else df.repartitionByRange(keys: _*)
      ranged.sortWithinPartitions(keys: _*)
    }

  /** Per-file stats rows for the given parquet file set. */
  private def harvest(spark: SparkSession, files: Seq[String],
      statsCols: Seq[String]): DataFrame = {
    val aggs = F.count(F.lit(1)).as("rows") +: statsCols.flatMap(c =>
      Seq(F.min(GraftIO.qcol(c)).as(s"min_$c"),
        F.max(GraftIO.qcol(c)).as(s"max_$c")))
    spark.read.parquet(files: _*)
      .select(F.input_file_name().as("file") +:
        statsCols.map(GraftIO.qcol): _*)
      .groupBy("file").agg(aggs.head, aggs.tail: _*)
  }

  /** The part-row schema [[harvest]] produces, built without a scan:
    * (file, rows, then min/max pairs at the data columns' types). */
  private def partSchema(statsCols: Seq[String],
      types: Map[String, org.apache.spark.sql.types.DataType])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType, nullable = false) +:
      // nullable: a deleteKeys part carries tombstones (rows IS NULL)
      org.apache.spark.sql.types.StructField("rows",
        org.apache.spark.sql.types.LongType, nullable = true) +:
      statsCols.flatMap(c => Seq(
        org.apache.spark.sql.types.StructField(s"min_$c", types(c)),
        org.apache.spark.sql.types.StructField(s"max_$c", types(c)))))

  /** [[harvest]] from parquet FOOTER statistics — zero Spark jobs, zero
    * data reads (guide §6: stats the write already computed must not cost
    * a second scan; at 100 TB the post-write harvest scan re-reads the
    * entire appended batch, while footers are O(files) metadata round
    * trips). Returns None — caller falls back to the scan harvest —
    * whenever exactness cannot be GUARANTEED from footers alone:
    * a stats column of any type but the integral/floating primitives
    * (binary min/max may be truncated by the writer), a chunk with
    * absent/indeterminate statistics, a float/double chunk whose
    * recorded bounds carry NaN (parquet writers disagree on NaN
    * handling, and Spark's own max() orders NaN greatest — only a scan
    * reproduces that), or a physical type that does not match the
    * declared Spark type. File identities use the same url-encoded form
    * `input_file_name()` yields (pinned by ManifestSpec), so footer- and
    * scan-harvested parts are interchangeable rows of one manifest.
    * Row counts come from block metadata and are always exact; an
    * all-null chunk (numNulls == valueCount) contributes no bounds,
    * matching min()/max() null semantics. Footer opens run in the same
    * bounded pool as [[harvestFooterCommits]] (r14 verdict #4: serial
    * footer RTTs dominate on object storage). */
  private def harvestFromFooters(spark: SparkSession, files: Seq[String],
      statsCols: Seq[String],
      types: Map[String, org.apache.spark.sql.types.DataType])
      : Option[Seq[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.types._
    val supported = statsCols.forall(c => types(c) match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType | BooleanType => true
      case _ => false
    })
    if (!supported || files.isEmpty) return None
    val expectedPhysical: Map[String,
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName] = {
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      statsCols.map(c => c -> (types(c) match {
        case LongType => INT64
        case IntegerType | ShortType | ByteType => INT32
        case DoubleType => DOUBLE
        case FloatType => FLOAT
        case BooleanType => BOOLEAN
        case t => throw new IllegalStateException(s"unreachable: $t")
      })).toMap
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    final case class FileStats(file: String, rows: Long,
      mins: Array[Any], maxs: Array[Any], exact: Boolean)
    val stats: Seq[FileStats] = inPool(files) { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val fs = p.getFileSystem(hconf)
      val st = fs.getFileStatus(p)
      val url = org.apache.spark.sql.graftbridge.Bridge.fileUrl(st)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        var rows = 0L
        val mins = new Array[Any](statsCols.length)
        val maxs = new Array[Any](statsCols.length)
        var exact = true
        r.getFooter.getBlocks.forEach { b =>
          rows += b.getRowCount
          b.getColumns.forEach { c =>
            // single-segment paths only: a nested field a.b and a
            // top-level column literally named "a.b" share a dotted
            // string — stats columns are top-level by construction
            val segs = c.getPath.toArray
            val dotted = if (segs.length == 1) segs(0) else ""
            val i = statsCols.indexOf(dotted)
            if (i >= 0 && exact) {
              val cs = c.getStatistics
              if (cs == null ||
                  c.getPrimitiveType.getPrimitiveTypeName !=
                    expectedPhysical(dotted)) exact = false
              else if (!cs.hasNonNullValue) {
                // distinguish "all null" (contributes no bounds,
                // like min()/max() over nulls) from "no stats"
                if (!(cs.isNumNullsSet &&
                    cs.getNumNulls == c.getValueCount)) exact = false
              } else {
                val (lo, hi) = (cs.genericGetMin, cs.genericGetMax)
                val nan = (v: Any) => v match {
                  case d: java.lang.Double => d.isNaN
                  case fl: java.lang.Float => fl.isNaN
                  case _ => false
                }
                if (nan(lo) || nan(hi)) exact = false
                else {
                  def cmp(a: Any, b: Any): Int =
                    a.asInstanceOf[Comparable[Any]].compareTo(b)
                  if (mins(i) == null || cmp(lo, mins(i)) < 0)
                    mins(i) = lo
                  if (maxs(i) == null || cmp(hi, maxs(i)) > 0)
                    maxs(i) = hi
                }
              }
            }
          }
        }
        FileStats(url, rows, mins, maxs, exact)
      } finally r.close()
    }
    if (stats.exists(!_.exact)) return None
    // INT32-backed narrow types surface from parquet as Integer — cast
    // back to the declared Spark type so part rows match the scan harvest
    def narrow(c: String, v: Any): Any =
      if (v == null) null
      else types(c) match {
        case ShortType => v.asInstanceOf[java.lang.Integer].shortValue()
        case ByteType => v.asInstanceOf[java.lang.Integer].byteValue()
        case _ => v
      }
    Some(stats.map { fsx =>
      org.apache.spark.sql.Row.fromSeq(
        fsx.file +: fsx.rows +: statsCols.zipWithIndex.flatMap {
          case (c, i) => Seq(narrow(c, fsx.mins(i)), narrow(c, fsx.maxs(i)))
        })
    })
  }

  /** [[writePart]] for DRIVER-LOCAL part rows (mutation-scale metadata:
    * per-file stats, tombstones, the driver fold) — written through
    * Spark's own parquet write support with zero Spark jobs and no
    * committer round
    * ([[org.apache.spark.sql.graftbridge.Bridge.writeParquetDriverSide]]).
    * Same contract as [[writePart]]: one file committed by
    * [[commitPart]], readable even at zero rows, `__commit` recording
    * `dataSchema`. */
  private def writePartRows(spark: SparkSession, rows: Seq[Row],
      schema: StructType, url: String, segment: String, commit: Long,
      dataSchema: Option[StructType], floor: Option[Long] = None): Unit = {
    val full = schema.add("__commit", org.apache.spark.sql.types.LongType,
      nullable = false, commitMetadata(dataSchema))
    val stamped = rows.map(r => Row.fromSeq(r.toSeq :+ commit))
    commitPart(spark, url, segment, floor) { dir =>
      Bridge.writeParquetDriverSide(spark, full, stamped, dir,
        overwriteDir = false)
    }
  }

  /** Write `df` at `path` (overwrite), optionally range-clustered by
    * `clusterCols` into `targetFiles` files, then record the per-file
    * manifest for `statsCols` under `path/_manifest` (an underscore path
    * — parquet data reads ignore it). Stats are harvested with a
    * column-pruned scan of exactly `statsCols` (the portable route; a
    * format-native impl would lift them from footers, same numbers).
    * The manifest is written AFTER the data: a crash between the two
    * leaves a readable un-manifested table, and [[readSkipping]] fails
    * loud rather than silently full-scanning. */
  def writeWithManifest(df: DataFrame, path: String,
      statsCols: Seq[String], clusterCols: Seq[String] = Nil,
      targetFiles: Int = 0, compression: String = "snappy"): Unit = {
    require(statsCols.nonEmpty, "declare at least one stats column")
    val clash = statsCols.filter(Set("file", "rows", "seg"))
    require(clash.isEmpty,
      s"stats column(s) ${clash.mkString(", ")} collide with the " +
        "manifest's own schema (file/rows/seg) — rename before manifesting")
    requireNoReservedCols(df, "writeWithManifest")
    val url = GraftIO.resolveUrl(path)
    // seg=base partition dir: the same segment layout every appender in
    // this engine uses, so [[appendWithManifest]] can be retry-exactly-once
    // (a batch's dynamic overwrite replaces its own segment)
    clustered(df, clusterCols, targetFiles)
      .withColumn("seg", F.lit("base"))
      .write.mode("overwrite")
      .option("compression", GraftIO.parquetCodec(compression))
      .partitionBy("seg")
      .parquet(url)
    val spark = df.sparkSession
    val files = segmentFiles(spark, url, "base")
    // the data overwrite above wiped any previous _manifest with the rest
    // of the directory; the fresh layout starts from one base part.
    // Stats come from the written files' parquet FOOTERS when the column
    // types allow exactness (zero jobs, no re-scan of the data just
    // written — the r17 optimization); the column-pruned scan stays the
    // fallback for types whose footer stats can be inexact.
    val types = statsCols.map(c => c -> df.schema(c).dataType).toMap
    harvestFromFooters(spark, files, statsCols, types) match {
      case Some(rows) => writePartRows(spark, rows,
        partSchema(statsCols, types), url, "base", commit = 0L,
        Some(df.schema))
      case None => writePart(harvest(spark, files, statsCols), url, "base",
        commit = 0L, Some(df.schema))
    }
  }

  /** Append a batch to an existing manifested layout incrementally,
    * EXACTLY-ONCE under retry: the batch lands under its own `seg=`
    * partition via dynamic partition overwrite (the contract every
    * segment appender in this engine pins — a retried batch REPLACES its
    * previous, possibly partial, attempt instead of double-writing), and
    * the manifest gains ONE PART holding stats harvested from THIS
    * segment's files (a partition-pruned scan; neither history's data
    * nor history's manifest rows are ever re-read or re-written — the
    * mutation cost tracks the batch, not the table). A crash between the
    * data write and the part write leaves the segment invisible to
    * skipping reads until the at-least-once driver retries the batch,
    * which heals both — distinct batches MUST use distinct segment ids,
    * as with [[graft.operators.Rollup.appendRollup]].
    *
    * Batch-local clustering keeps each batch's envelopes tight; across
    * batches, envelopes may overlap (several files survive a band
    * instead of one), which degrades pruning gracefully, never
    * correctness — the LSM posture, with the same companion: rewrite via
    * [[writeWithManifest]] when file-count economics say so. */
  def appendWithManifest(df: DataFrame, path: String, segment: String,
      clusterCols: Seq[String] = Nil, targetFiles: Int = 0,
      compression: String = "snappy"): Unit = {
    requireSafeSegment(segment, "appendWithManifest")
    requireNoReservedCols(df, "appendWithManifest")
    val spark = df.sparkSession
    val url = GraftIO.resolveUrl(path)
    requireSchemaMatch(spark, url, df, "appendWithManifest")
    val existing = parts(spark, url)
    val statsCols = statsColsOf(existing.schema)
    val dataSchema = existing.dataSchema.orElse(Some(df.schema))
    clustered(df, clusterCols, targetFiles)
      .withColumn("seg", F.lit(segment))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", GraftIO.parquetCodec(compression))
      .partitionBy("seg")
      .parquet(url)
    val segFiles = segmentFiles(spark, url, segment)
    // this segment's part replaces any earlier attempt's (retry heal);
    // an EMPTY retried batch must clear its earlier rows explicitly — a
    // zero-row dynamic overwrite would leave them listed
    if (segFiles.isEmpty) dropPart(spark, url, segment)
    else {
      val types = statsCols.map(c => c -> df.schema(c).dataType).toMap
      val commit = nextCommit(spark, url)
      harvestFromFooters(spark, segFiles, statsCols, types) match {
        case Some(rows) => writePartRows(spark, rows,
          partSchema(statsCols, types), url, segment, commit, dataSchema)
        case None => writePart(harvest(spark, segFiles, statsCols), url,
          segment, commit, dataSchema)
      }
    }
  }

  /** The declared stats columns of a manifested layout, from the parts'
    * schema. */
  private def statsColsOf(partSchema: StructType): Seq[String] =
    partSchema.fieldNames.toSeq
      .filter(_.startsWith("min_")).map(_.stripPrefix("min_"))

  /** Time-partitioned layout WITH an in-day secondary clustering column
    * and a per-file manifest — the production composition of the two
    * pruning stories, and the "second in-day clustering column" the
    * [[GraftIO.writeTimePartitioned]] scaladoc anticipates: rows land
    * under `__pdate=` day directories; WITHIN the global range partition
    * each file covers a contiguous (day, secondary) range; files stay
    * ts-sorted for row-group pruning; and the manifest records per-file
    * min/max of BOTH ts and the secondary column.
    *
    * One layout, two readers: [[GraftIO.readTimeSlice]] works unchanged
    * (directory pruning + in-file ts row groups), and
    * [[readSkippingBands]] with bands on (ts, secondary) prunes FILES on
    * both axes at once — the day band falls out of the ts envelopes, so
    * a "yesterday, score ≥ 0.9" query opens only yesterday's
    * high-score files. Rewrite wholesale to refresh (day-granular
    * append maintenance belongs to the lake's compaction family). */
  def writeTimeClustered(df: DataFrame, tsNsCol: String, secondary: String,
      path: String, targetFiles: Int,
      compression: String = "snappy"): Unit = {
    require(targetFiles > 0, "writeTimeClustered needs explicit targetFiles")
    val url = GraftIO.resolveUrl(path)
    df.withColumn("__pdate", GraftIO.utcDay(tsNsCol))
      .repartitionByRange(targetFiles, F.col("__pdate"),
        GraftIO.qcol(secondary))
      .sortWithinPartitions(GraftIO.qcol(tsNsCol))
      .write.mode("overwrite")
      .option("compression", GraftIO.parquetCodec(compression))
      .partitionBy("__pdate")
      .parquet(url)
    val spark = df.sparkSession
    val files = spark.read.parquet(url).inputFiles.toSeq
    val statsCols = Seq(tsNsCol, secondary)
    val types = statsCols.map(c => c -> df.schema(c).dataType).toMap
    harvestFromFooters(spark, files, statsCols, types) match {
      case Some(rows) => writePartRows(spark, rows,
        partSchema(statsCols, types), url, "base", commit = 0L,
        Some(df.schema))
      case None => writePart(harvest(spark, files, statsCols), url,
        "base", commit = 0L, Some(df.schema))
    }
  }

  /** Z-ORDERED manifested write — multi-column data skipping done right:
    * single-column range clustering makes ONE column's envelopes tight
    * and leaves every other column's spanning the whole domain, so
    * [[readSkippingBands]] prunes on the clustered column only. Morton
    * (bit-interleaved) ordering spreads locality across ALL `zCols`: a
    * band on ANY of them maps to a bounded set of z-contiguous files.
    *
    * Construction: each z-column is quantized to an 8-bit bucket id by
    * its own approximate quantiles (256 cut points per column, harvested
    * once driver-side with `approxQuantile` — the same bounded planning
    * cost as qcut, and rank-based quantization is what makes skew
    * harmless: a hot value occupies many buckets of the OTHER columns'
    * bits instead of one giant z-range); the ids' bits are interleaved
    * into a z-value (pure Column bit arithmetic, no UDF), and the write
    * range-partitions + sorts on it. The z-value never lands in the
    * data — it exists only during the shuffle.
    *
    * The price, stated honestly: per-column envelopes are wider than a
    * dedicated single-column sort would give (each file covers a Morton
    * box, not a stripe), so a workload that only ever bands ONE column
    * should use [[writeWithManifest]] with that column — z-order is for
    * the mixed-predicate workload where every dimension deserves pruning.
    * Appends: use [[appendWithManifest]] (batch-local clustering; correct
    * immediately, envelopes loosen as batches accrete) and re-run
    * [[writeZOrdered]] over cold data periodically — the OPTIMIZE
    * posture, same economics as every compactor in this engine. */
  def writeZOrdered(df: DataFrame, path: String, statsCols: Seq[String],
      zCols: Seq[String], targetFiles: Int,
      compression: String = "snappy"): Unit = {
    require(zCols.size >= 2 && zCols.size <= 4,
      s"z-order needs 2-4 columns, got ${zCols.size} — one column is " +
        "plain range clustering (writeWithManifest), more than four " +
        "dilutes every dimension's bits past usefulness")
    require(targetFiles > 0, "z-order write needs an explicit targetFiles")
    val n = zCols.size
    // 64 quantile buckets (6 bits) per column: 64^2..64^4 Morton boxes —
    // far beyond any realistic file count — while keeping the bucket
    // expression codegen-small (a 256-cut variant needs a 255-term
    // comparison per column per row for no extra file-level selectivity,
    // and its generated code dominated the whole write)
    val bits = 6
    val probs = (1 until (1 << bits)).map(_ / (1 << bits).toDouble).toArray
    // per-column quantile breaks in ONE bounded driver-side plan step —
    // the multi-column approxQuantile scans df once for all z columns
    // (nulls ignored per column), not once per column
    val casted = df.select(zCols.map(c =>
      GraftIO.qcol(c).cast("double").as(c)): _*)
    val breaks: Seq[Array[Double]] = casted.stat
      .approxQuantile(zCols.toArray, probs, 0.001).toSeq
    zCols.zip(breaks).foreach { case (c, bs) =>
      require(bs.nonEmpty, s"z-order column $c has no non-null values")
    }
    def bucketOf(c: String, bs: Array[Double]): Column = {
      val v = GraftIO.qcol(c).cast("double")
      // count of breaks <= v via one literal-array filter (one compact
      // expression vs a breaks-length when-chain), nulls to bucket 0
      val distinctBs = bs.distinct.sorted
      F.when(v.isNull, 0L).otherwise(
        F.size(F.filter(F.array(distinctBs.map(F.lit(_)): _*),
          b => v >= b)).cast("long"))
    }
    // spread the bucket bits of column i to positions b*n + i, in LONG
    // arithmetic (Int's sign bit would break z monotonicity at 4 columns)
    def spread(bucket: Column, i: Int): Column =
      (0 until bits).map { b =>
        F.shiftleft(F.shiftright(bucket, b)
          .bitwiseAND(F.lit(1L)), b * n + i)
      }.reduce(_ bitwiseOR _)
    val z = zCols.zip(breaks).zipWithIndex.map { case ((c, bs), i) =>
      spread(bucketOf(c, bs), i)
    }.reduce(_ bitwiseOR _)
    val ordered = df.withColumn("__zv", z)
      .repartitionByRange(targetFiles, F.col("__zv"))
      .sortWithinPartitions("__zv")
      .drop("__zv")
    writeWithManifest(ordered, path, statsCols, clusterCols = Nil,
      targetFiles = 0, compression = compression)
  }

  /** The live manifest table (one row per data file): union of parts,
    * minus tombstoned files, deduplicated by file (see the layout note at
    * the top). Fails loud when absent — an un-manifested path silently
    * full-scanning would defeat the whole point of declaring the read
    * pruned. A small manifest is replayed on the driver and comes back
    * as a local relation: filtering and collecting it runs no Spark job. */
  def manifest(spark: SparkSession, path: String): DataFrame =
    manifestView(spark, GraftIO.resolveUrl(path), None)._1

  /** The manifest AS OF `commit` — time travel over the segmented
    * layout, the Delta `versionAsOf` posture: only parts stamped
    * ≤ `commit` contribute (live rows AND tombstones), so the view is
    * exactly the table after that mutation. Commit numbers come from
    * [[manifestCommits]]. The history window is honest and bounded the
    * same way Delta's is: [[compactManifest]] collapses history up to
    * its recorded floor (as-of below the floor fails loud — the parts
    * are gone; `keepLast = n` retains the newest n commits servable),
    * and [[vacuum]] reclaims retired data files (run mutations with
    * `retainFiles = true` to keep as-of readable until vacuum). Replayed
    * on the driver when small, like [[manifest]]. */
  def manifestAsOf(spark: SparkSession, path: String,
      commit: Long): DataFrame =
    manifestView(spark, GraftIO.resolveUrl(path), Some(commit))._1

  /** The live manifest as of `asOf`, and the layout's recorded data
    * schema. Small manifests ([[parts]] replays them) compose in memory
    * into a local relation; larger ones compose as a Spark plan over the
    * distributed parts read. Both apply the same rules: `asOf` and its
    * floor / min-commit guard, live rows deduplicated by file, minus
    * every tombstoned file, with the same columns (`file` first). */
  private def manifestView(spark: SparkSession, url: String,
      asOf: Option[Long]): (DataFrame, Option[StructType]) = {
    // the floor is the AUTHORITY once a compaction ever ran: a crash
    // mid-compaction can leave old parts with commits BELOW the floor
    // still on disk, and reconstructing from that surviving subset
    // would be silently partial — refuse everything below the floor
    // instead. The min-commit check remains as the fallback for
    // layouts that were never compacted (no marker).
    def requireServable(c: Long, minCommit: => Option[Long]): Unit =
      readFloor(spark, url) match {
        case Some(fl) => require(c >= fl,
          s"manifestAsOf($c): history before commit $fl was " +
            "compacted away (compactManifest collapses history) — " +
            "available commits: manifestCommits")
        case None =>
          val min = minCommit
          require(min.exists(_ <= c),
            s"manifestAsOf($c): history before commit " +
              s"${min.fold("?")(_.toString)} was " +
              "compacted away (compactManifest collapses history) — " +
              "available commits: manifestCommits")
      }
    parts(spark, url).replayed match {
      case Some(r) =>
        val commitIdx = r.schema.fieldIndex("__commit")
        val fileIdx = r.schema.fieldIndex("file")
        val rowsIdx = r.schema.fieldIndex("rows")
        val all = asOf match {
          case None => r.rows
          case Some(c) =>
            requireServable(c, r.rows.map(_.getLong(commitIdx)).minOption)
            r.rows.filter(_.getLong(commitIdx) <= c)
        }
        val dead = all.filter(_.isNullAt(rowsIdx))
          .map(_.getString(fileIdx)).toSet
        val seen = scala.collection.mutable.Set.empty[String]
        val live = all.filter(row => !row.isNullAt(rowsIdx) && {
          val f = row.getString(fileIdx)
          !dead.contains(f) && seen.add(f)
        })
        val outIdx = ("file" +: r.schema.fieldNames.toSeq
          .filterNot(Set("file", "__commit", "seg"))).map(r.schema.fieldIndex)
        import scala.jdk.CollectionConverters._
        (spark.createDataFrame(
          live.map(row => Row.fromSeq(outIdx.map(row.get))).asJava,
          StructType(outIdx.map(i => r.schema.fields(i)))), r.dataSchema)
      case None =>
        val all0 = rawParts(spark, url)
        val all = asOf match {
          case None => all0
          case Some(c) =>
            requireServable(c, {
              val min = all0.agg(F.min("__commit")).collect().head
              if (min.isNullAt(0)) None else Some(min.getLong(0))
            })
            all0.filter(F.col("__commit") <= c)
        }
        (all.filter(F.col("rows").isNotNull).dropDuplicates("file")
          .join(all.filter(F.col("rows").isNull).select("file"),
            Seq("file"), "left_anti")
          .drop("__commit"), recordedDataSchema(all0.schema))
    }
  }

  /** The layout's commit history: one row per commit — (commit, segment,
    * live file count, tombstone count, rows added). Discovery surface
    * for [[manifestAsOf]]. */
  def manifestCommits(spark: SparkSession, path: String): DataFrame = {
    val url = GraftIO.resolveUrl(path)
    // through rawParts for its loud require: a missing layout must say
    // "no manifest at … write the layout with writeWithManifest" here
    // like every other entry point, not a raw PATH_NOT_FOUND
    rawParts(spark, url, keepSeg = true)
      .groupBy(F.col("__commit").as("commit"), F.col("seg").as("segment"))
      .agg(F.count_if(F.col("rows").isNotNull).as("files"),
        F.count_if(F.col("rows").isNull).as("tombstones"),
        F.sum("rows").as("rows_listed"))
      .orderBy("commit")
  }

  /** Inclusive-range read `col ∈ [lo, hi]` over a manifested layout:
    * files whose [min,max] envelope misses the range are never opened
    * (not even their footers); survivors get the residual filter, which
    * parquet then narrows further by row-group stats. Rows with a null
    * `col` never satisfy the range predicate, and a file of only nulls
    * has null envelope bounds — both sides agree it contributes nothing,
    * so skipping can never drop a row the filter would keep.
    *
    * On a small manifest the pruning is replayed on the driver (see the
    * object doc) and the survivors open under the recorded data schema,
    * so building the frame runs no Spark job; the scan is the first job,
    * and a band no file overlaps yields a schema-true empty frame that
    * never opens a file. */
  def readSkipping(spark: SparkSession, path: String, col: String,
      lo: Any, hi: Any, asOf: Option[Long] = None): DataFrame =
    readSkippingBands(spark, path, Seq((col, lo, hi)), asOf)

  /** AND-composed inclusive bands over several manifested columns — the
    * composite-predicate form of [[readSkipping]]: a file is opened only
    * if EVERY band overlaps its envelope, so each extra selective band
    * multiplies the skip rate (with independent clustering the envelope
    * of the non-clustered column is wide — composite pruning is only as
    * good as the weakest band's layout, same caveat as single-band). */
  def readSkippingBands(spark: SparkSession, path: String,
      bands: Seq[(String, Any, Any)],
      asOf: Option[Long] = None): DataFrame = {
    require(bands.nonEmpty, "declare at least one band")
    val url = GraftIO.resolveUrl(path)
    // asOf pins the FILE SET to the as-of manifest (time travel —
    // mutations since then used retainFiles, or the files are gone and
    // the scan fails loud on the missing path, never silently reads the
    // current version)
    val (man, dataSchema) = manifestView(spark, url, asOf)
    bands.foreach { case (c, _, _) =>
      require(man.columns.contains(s"min_$c"),
        s"column $c has no manifest stats (have: " +
          man.columns.filter(_.startsWith("min_"))
            .map(_.stripPrefix("min_")).mkString(", ") + ")")
    }
    // overlap test per band: NOT (file entirely above or below the range)
    val keep = bands.map { case (c, lo, hi) =>
      GraftIO.qcol(s"min_$c") <= F.lit(hi) &&
        GraftIO.qcol(s"max_$c") >= F.lit(lo)
    }.reduce(_ && _)
    val files = man.filter(keep).select("file").collect().map(_.getString(0))
    val residual = bands.map { case (c, lo, hi) =>
      GraftIO.qcol(c) >= F.lit(lo) && GraftIO.qcol(c) <= F.lit(hi)
    }.reduce(_ && _)
    // the recorded data schema opens the survivors without an inference
    // job, and makes the no-survivor frame schema-true without a file
    if (files.nonEmpty)
      dataSchema.fold(spark.read)(s => spark.read.schema(s))
        .parquet(files: _*).filter(residual)
    else dataSchema match {
      case Some(s) => spark.createDataFrame(
        java.util.Collections.emptyList[Row](), Bridge.asNullable(s))
        .filter(residual)
      case None =>
        // parts written before the data schema was recorded: infer it
        // from the layout's files (minus its seg / __pdate partition
        // dirs, which leaf-file reads never surface)
        try spark.read.parquet(url).drop("seg", "__pdate")
          .filter(residual).limit(0)
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
            throw new IllegalStateException(
              s"readSkipping: the layout at $url holds no data file to " +
                "infer its schema from, and its manifest parts record " +
                "none (written before parts recorded the data schema) — " +
                "rewrite it with writeWithManifest", e)
        }
    }
  }

  // ======== keyed mutation (delete / upsert) ===============================
  // The Delta/Iceberg MERGE posture re-expressed over the manifested
  // layout: the manifest's per-file [min,max] envelopes prune which files
  // a keyed mutation can possibly touch, so a GDPR delete of a thousand
  // ids against a 100k-file table rewrites the handful of files whose key
  // envelope overlaps — not the table. Single-writer discipline, like
  // every maintenance op in this engine (no optimistic concurrency): run
  // mutations from one driver, never concurrently with another writer.

  /** Fold the manifest's accreted parts and tombstones back into one
    * base part — the compaction companion every LSM in this engine has.
    * Run between mutations (single-writer discipline); `segment` names
    * the compacted part and must be FRESH (a retried compaction reuses
    * its id and replaces its own output). Returns the number of live
    * manifest rows.
    *
    * `keepLast` is the time-travel retention knob: the newest `keepLast`
    * DISTINCT commits' parts are left untouched, only the older prefix
    * folds — so [[manifestAsOf]] keeps serving the last `keepLast`
    * mutations (plus the fold's own stamp) after every compaction, while
    * part count stays bounded at keepLast + 1 in the steady state. With
    * the default 0 the whole history folds (the Delta-checkpoint
    * posture). The compact part is stamped with the max FOLDED commit —
    * the oldest still-servable version — and that stamp is durably
    * recorded in `_manifest/floor` BEFORE any old part is deleted, so a
    * crash that deletes only SOME old parts can never serve a silently
    * partial as-of view: everything below the floor is refused loud.
    *
    * Both folds commit through [[commitPart]]: the compact part lands
    * beside any earlier attempt's part in `seg=<segment>`, then the floor,
    * then that earlier part is deleted, then the folded segments' parts
    * are swept. A crash leaves duplicates (the same file in the compact
    * part and a not-yet-deleted old part: healed by [[manifest]]'s
    * dedup-by-file, since manifest rows for one immutable file path are
    * identical) or still-applied tombstones naming already-unlisted
    * files (a no-op) — never absence (no part is deleted before its
    * replacement is in place), never resurrection (the compact part
    * carries every still-lethal folded tombstone, so old parts delete in
    * any order) and never a partial as-of (the floor refuses commits the
    * surviving parts can no longer faithfully reconstruct). A retry under
    * the same `segment` folds whatever the crash left and converges on
    * the same view. An ALL-ROWS-DELETED table compacts to an
    * empty-but-present part (see [[writePart]]) — the layout stays
    * readable and appendable, never "no manifest".
    *
    * The fold is size-routed by [[parts]], the route every manifest
    * reader shares: manifests up to `driverFoldMaxBytes` of parquet
    * (default: [[graft.DriverMaxBytes]], 8 MiB) fold on the driver over the
    * replayed rows ([[compactDriverFold]] — zero read jobs, measured flat
    * to 300k rows), bigger ones fold distributed
    * ([[compactDistributedFold]] — never materialized on the driver; the
    * 1M-row driver fold measured 4-5.5 GB of peak heap,
    * scaling/manifest_fold.json). Identical semantics either side of
    * the threshold; specs pin equality. */
  def compactManifest(spark: SparkSession, path: String,
      segment: String, keepLast: Int = 0,
      driverFoldMaxBytes: Long = graft.DriverMaxBytes): Long = {
    requireSafeSegment(segment, "compactManifest")
    require(keepLast >= 0, s"keepLast must be >= 0, got $keepLast")
    val url = GraftIO.resolveUrl(path)
    // big manifests fold DISTRIBUTED — scaling/manifest_fold.json at 1M
    // rows: driver fold ~9 s at ~2 GB of collect-inflated heap vs
    // distributed ~3.9 s with the driver doing only O(parts) footer
    // reads. ONE listing feeds both the route decision and (on
    // the distributed path) the footer commit reads — object-storage
    // LIST economics, the module's own discipline
    val p = parts(spark, url, driverFoldMaxBytes)
    p.replayed match {
      case Some(r) => compactDriverFold(spark, url, r, segment, keepLast)
      case None =>
        val raw = rawParts(spark, url, keepSeg = true)
        compactDistributedFold(spark, url, raw, segment, keepLast, p.files,
          recordedDataSchema(raw.schema))
    }
  }

  /** The small-manifest fold over the replayed part rows: file-count-
    * bound driver work with ZERO Spark jobs (replayed rows in, a
    * driver-side part write out — the in-line streaming compaction path
    * s10 pays every `compactEvery` batches), measured flat to 300k rows
    * (scaling/manifest_fold.json). */
  private def compactDriverFold(spark: SparkSession, url: String,
      replayed: Replayed, segment: String, keepLast: Int): Long = {
    val schema = replayed.schema
    val all = replayed.rows
    val fileIdx = schema.fieldIndex("file")
    val rowsIdx = schema.fieldIndex("rows")
    val commitIdx = schema.fieldIndex("__commit")
    val segIdx = schema.fieldIndex("seg")
    val allTombFiles = all.filter(_.isNullAt(rowsIdx))
      .map(_.getString(fileIdx)).toSet
    val liveCount = all.filter(!_.isNullAt(rowsIdx))
      .map(_.getString(fileIdx)).distinct
      .count(f => !allTombFiles.contains(f)).toLong
    val keptCommits = all.map(_.getLong(commitIdx)).distinct
      .sorted.takeRight(keepLast).toSet
    val folded = all.filterNot(r => keptCommits.contains(r.getLong(commitIdx)))
    if (folded.isEmpty) return liveCount // nothing older than the window
    val keptSegs = all.filter(r => keptCommits.contains(r.getLong(commitIdx)))
      .map(_.getString(segIdx)).toSet
    // live rows of the FOLDED prefix minus the prefix's own tombstones:
    // this is exactly the table as of the fold's stamp — a KEPT part's
    // tombstone must NOT apply here (as-of reads between the stamp and
    // that tombstone's commit still need the row) and applies at read
    // time instead, like any other part composition
    val foldedTombFiles = folded.filter(_.isNullAt(rowsIdx))
      .map(_.getString(fileIdx)).toSet
    val listedAll = all.filter(!_.isNullAt(rowsIdx))
      .map(_.getString(fileIdx)).toSet
    val seenLive = scala.collection.mutable.Set.empty[String]
    val liveOut = folded.filter { r =>
      !r.isNullAt(rowsIdx) && {
        val f = r.getString(fileIdx)
        !foldedTombFiles.contains(f) && seenLive.add(f)
      }
    }
    // carry every folded tombstone that still kills a row listed in the
    // current parts: old part dirs can then be deleted in ANY order
    // without a resurrection window (a crash-surviving old part's dead
    // row stays tombstoned by the compact part). Once the old parts are
    // gone those carried tombstones reference nothing and the NEXT
    // compaction drops them — self-cleaning.
    val seenTomb = scala.collection.mutable.Set.empty[String]
    val carried = folded.filter { r =>
      r.isNullAt(rowsIdx) && listedAll.contains(r.getString(fileIdx)) &&
        seenTomb.add(r.getString(fileIdx))
    }
    // the compact part keeps the max FOLDED commit (not +1): the fold
    // changes no state, and as-of reads at that commit must keep working;
    // history BEFORE it is gone — manifestAsOf fails loud on older asks
    val stamp = folded.map(_.getLong(commitIdx)).max
    val outSchema = StructType(
      schema.filterNot(f => f.name == "__commit" || f.name == "seg"))
    val outIdx = outSchema.fieldNames.toSeq.map(schema.fieldIndex)
    val outRows = (liveOut ++ carried).map(r => Row.fromSeq(outIdx.map(r.get)))
    // rows are already driver-local — the fold's write job (and its
    // committer round) was pure overhead; the in-line streaming
    // compaction (s10's compactEvery) pays this per cadence
    writePartRows(spark, outRows, outSchema, url, segment, commit = stamp,
      replayed.dataSchema, floor = Some(stamp))
    sweepFoldedSegs(spark, url, segment, keptSegs)
    liveCount
  }

  /** The last step of both folds: delete every folded-away `seg=` part
    * dir — all but the fold's own and the kept ones. Any order is safe:
    * the compact part carries every still-lethal folded tombstone. */
  private def sweepFoldedSegs(spark: SparkSession, url: String,
      segment: String, keptSegs: Set[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(url)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    segDirs(spark, partsPath(url)).foreach { d =>
      val sg = d.substring(d.lastIndexOf("/seg=") + 5)
      if (sg != segment && !keptSegs.contains(sg))
        fs.delete(new org.apache.hadoop.fs.Path(d), true)
    }
  }

  /** (segment, commit) per part from parquet footer stats — zero Spark
    * jobs, over the FileStatuses the routing pass already listed. The
    * per-file footer opens run in a BOUNDED thread pool (r14 verdict
    * #4): each open is an independent metadata round trip, and at the
    * ~1M-file posture's thousands of parts a serial loop is thousands
    * of sequential RTTs — on object storage the whole harvest's wall
    * clock (measured locally: ~10× over serial at every size 64-1024
    * parts, 7.1 s → 0.73 s at 1024 — scaling/manifest_harvest.json).
    * Results fold back deterministically by part order, so parallelism
    * changes no outcome.
    *
    * Each file yields its __commit (min, max) — BOTH stats, because the
    * fold's commit windowing addresses whole SEGMENTS: a foreign-written
    * part holding several __commit values in one part (min != max) has
    * per-ROW fold semantics the footer max alone would silently mangle
    * (r14 ADVICE), so the returned flag trips the caller's
    * distributed-distinct per-row fallback. Also true when any file
    * lacks statistics. Zero-row parts are omitted (no commit to
    * address, no rows to fold — same invisibility as the driver fold). */
  private[graft] def harvestFooterCommits(
      hconf: org.apache.hadoop.conf.Configuration,
      partFiles: Seq[(String, Array[FileStatus])])
      : (Seq[(String, Long)], Boolean) = {
    val filePairs = partFiles.flatMap { case (segName, statuses) =>
      statuses.map(st => (segName, st)) }
    // (segName, min, max, statsPresent) per file
    final case class Foot(seg: String, min: Long, max: Long, ok: Boolean)
    val foots: Seq[Foot] = inPool(filePairs) { case (segName, st) =>
      var lo = Long.MaxValue
      var hi = Long.MinValue
      var ok = true
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        r.getFooter.getBlocks.forEach { b =>
          b.getColumns.forEach { c =>
            if (c.getPath.toDotString == "__commit") {
              val stats = c.getStatistics
              if (stats == null || !stats.hasNonNullValue) ok = false
              else {
                lo = math.min(lo, stats.genericGetMin
                  .asInstanceOf[java.lang.Long])
                hi = math.max(hi, stats.genericGetMax
                  .asInstanceOf[java.lang.Long])
              }
            }
          }
        }
      } finally r.close()
      // a zero-row file has no commit to address (min/max keep
      // their sentinels, filtered by min <= max downstream)
      Foot(segName, lo, hi, ok)
    }
    // per-SEGMENT fold of the per-file stats: the segment's commit is
    // max(max); a segment whose min(min) disagrees is multi-commit.
    // Grouped once — a filter-per-part scan would be O(parts·files)
    val bySeg = foots.filter(f => f.min <= f.max).groupBy(_.seg)
    var fallback = foots.exists(!_.ok)
    val segCommits = partFiles.flatMap { case (segName, _) =>
      bySeg.get(segName).map { fs =>
        if (fs.map(_.min).min != fs.map(_.max).max) fallback = true
        (segName, fs.map(_.max).max)
      }
    }
    (segCommits, fallback)
  }

  /** The big-manifest fold: same semantics as [[compactDriverFold]]
    * (same live/tombstone/carry/stamp rules, same commit through
    * [[commitPart]]) with the manifest never materialized on the driver —
    * the fold is a dedup + two anti/semi joins over the parts DataFrame,
    * appended as one part file beside any earlier attempt's part (the
    * parts read's file listing is pinned before the write, so the new
    * file never feeds its own fold). Per-part commit stamps come from the
    * parts' parquet footer statistics (the [[nextCommit]] discipline —
    * zero Spark jobs; `__commit` is constant per part), falling back to
    * one distributed DISTINCT for parts holding several commits (foreign
    * writers, or an earlier attempt's part beside its replacement) or
    * without statistics. The keep-first duplicate choice of the driver
    * fold degrades to dropDuplicates' arbitrary winner here, which is
    * already the read path's contract — manifest rows for one immutable
    * file path are identical (see [[manifest]]). Live count is read from
    * the written part's own footer (row count minus the carried
    * tombstones' null count) on the full-fold path; a retention fold
    * pays one count job. scaling/manifest_fold.json at 1M rows: ~3.9 s
    * here vs the driver fold's ~9 s, with no row-bound driver
    * materialization. */
  private def compactDistributedFold(spark: SparkSession, url: String,
      raw: DataFrame, segment: String, keepLast: Int,
      partFiles: Seq[(String, Array[FileStatus])],
      dataSchema: Option[StructType]): Long = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val (segCommits0, footerFallback) = harvestFooterCommits(hconf, partFiles)
    val segCommits =
      if (!footerFallback) segCommits0
      else raw.select("seg", "__commit").distinct().collect()
        .map(r => (String.valueOf(r.get(0)), r.getLong(1))).toSeq
    val commits = segCommits.map(_._2).distinct.sorted
    val liveAll = raw.filter(F.col("rows").isNotNull).select("file").distinct()
    def liveCountNow(): Long = liveAll
      .join(raw.filter(F.col("rows").isNull).select("file").distinct(),
        Seq("file"), "left_anti").count()
    if (commits.size <= keepLast) return liveCountNow() // nothing to fold
    // max folded commit = the fold's stamp (as-of reads at it keep working)
    val stamp = commits(commits.size - keepLast - 1)
    val keptSegs = segCommits.filter(_._2 > stamp).map(_._1).toSet
    val folded = raw.filter(F.col("__commit") <= stamp)
    // same carry rule as the driver fold: live rows of the folded prefix
    // minus the prefix's own tombstones, plus every folded tombstone that
    // still kills a row listed ANYWHERE in the current parts
    val foldedTomb = folded.filter(F.col("rows").isNull)
      .select("file").distinct()
    val liveOut = folded.filter(F.col("rows").isNotNull)
      .join(foldedTomb, Seq("file"), "left_anti")
      .dropDuplicates("file")
    val carried = folded.filter(F.col("rows").isNull)
      .join(liveAll, Seq("file"), "left_semi")
      .dropDuplicates("file")
    // qcol, not F.col: stats columns inherit the data column's name
    // (min_doc.id for statsCols = Seq("doc.id")) and a bare F.col would
    // parse the dot as struct-field access — the same contract every
    // other manifest read honors
    val outCols = raw.schema.fieldNames
      .filterNot(n => n == "__commit" || n == "seg").toSeq
    val out = liveOut.select(outCols.map(GraftIO.qcol): _*)
      .unionAll(carried.select(outCols.map(GraftIO.qcol): _*))
    // the retention fold's live count needs the kept parts too — one
    // distributed count, taken BEFORE the commit (raw's file listing is
    // pinned; re-executing it later would read the earlier attempt's
    // part the commit deletes)
    val liveCountKept = if (keepLast > 0) liveCountNow() else -1L
    writePart(out, url, segment, stamp, dataSchema, floor = Some(stamp))
    val target = new org.apache.hadoop.fs.Path(
      s"${partsPath(url)}/seg=$segment")
    val fs = target.getFileSystem(hconf)
    // live count on the full-fold path: from the written part's footer
    // (its live rows ARE the table; carried tombstones are the null-rows
    // rows) — zero jobs
    val liveCount =
      if (keepLast > 0) liveCountKept
      else {
        var total = 0L
        var nulls = 0L
        var haveNulls = true
        fs.listStatus(target).filter(isDataFile).foreach { st =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, hconf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            r.getFooter.getBlocks.forEach { b =>
              total += b.getRowCount
              b.getColumns.forEach { c =>
                if (c.getPath.toDotString == "rows") {
                  val stats = c.getStatistics
                  // parquet-mr returns an EMPTY Statistics (numNulls
                  // == -1) when the count is unset — not null; both
                  // shapes must take the recount fallback or the
                  // count silently inflates by -1 per block
                  if (stats == null || !stats.isNumNullsSet)
                    haveNulls = false
                  else nulls += stats.getNumNulls
                }
              }
            }
          } finally r.close()
        }
        if (haveNulls) total - nulls
        else {
          // stat-less footer (shouldn't happen for our own writer): a
          // FRESH parts read — the old parts still coexist with the
          // compact part here and dedup-by-file heals the duplicates
          val fresh = rawParts(spark, url)
          fresh.filter(F.col("rows").isNotNull).select("file").distinct()
            .join(fresh.filter(F.col("rows").isNull).select("file")
              .distinct(), Seq("file"), "left_anti").count()
        }
      }
    sweepFoldedSegs(spark, url, segment, keptSegs)
    liveCount
  }

  /** Delete every row whose `keyCol` appears in `keys` (a one-column
    * frame), rewriting ONLY the files whose manifest envelope overlaps a
    * key — the pruned-rewrite economics the manifest exists for. Returns
    * the number of files rewritten.
    *
    * Mechanics: envelope-surviving files are re-read, anti-joined against
    * the key set, and their survivors land under this operation's own
    * `seg=` partition (dynamic overwrite — a RETRY of the same segment id
    * replaces its earlier, possibly partial, attempt); the manifest then
    * gains this operation's PART (the rewrite files' stats) followed by
    * its TOMBSTONE (the affected files), and only after both are the
    * replaced data files deleted — the segmented layout's crash order,
    * whose every prefix leaves a readable manifest of existing files
    * (mid-window: duplicates healed by retry, or orphans for [[vacuum]]
    * — never absence). Retry idempotency comes from self-exclusion:
    * the candidate set never includes this operation's own segment, so a
    * completed delete retried is a no-op — distinct delete operations
    * MUST use distinct segment ids, the same contract as every appender.
    *
    * The key frame feeds two evaluations (the envelope prune and the
    * anti-join): one that re-evaluates identically
    * (`Bridge.reEvaluatesIdentically`: a parquet read, a local relation)
    * is used directly, any other is deduplicated and snapshotted first.
    * Null keys fail loud — a null has no deletion semantics. `keyCol`
    * must be a manifested stats column (without envelopes there is
    * nothing to prune — declare it in `statsCols` at write time).
    *
    * Economics, measured (scaling/lake_upsert_{2m,8m}.json): a narrow
    * band on the clustered key rewrites 1-2 of 64 files and beats the
    * maintained full rewrite ~2× at 2M rows, ~2.5× at 8M with the gap
    * widening in table size (the pruned cost tracks the AFFECTED bytes).
    * When the key set is spread across most envelopes, pruning buys
    * nothing and this path's per-file machinery costs MORE than a
    * wholesale [[writeWithManifest]] rewrite — prefer that when
    * envelope-overlap says most files are affected anyway. */
  def deleteKeys(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame, segment: String,
      excludeSegments: Set[String] = Set.empty,
      retainFiles: Boolean = false,
      commitOverride: Option[Long] = None): Int = {
    requireSafeSegment(segment, "deleteKeys")
    val url = GraftIO.resolveUrl(path)
    val (man, recorded) = manifestView(spark, url, None)
    require(man.columns.contains(s"min_$keyCol"),
      s"deleteKeys: $keyCol has no manifest stats — keyed mutation needs " +
        "the per-file envelope; declare it in statsCols at write time " +
        s"(have: ${man.columns.filter(_.startsWith("min_"))
          .map(_.stripPrefix("min_")).mkString(", ")})")
    require(keys.columns.length == 1,
      s"keys must be a one-column frame, got ${keys.columns.mkString(", ")}")
    val keyType = man.schema(s"min_$keyCol").dataType
    // assert AFTER the cast: a null input key has no deletion semantics,
    // and an uncastable one (string "abc" against a long column) would
    // otherwise become a silent null that deletes nothing
    val casted = GraftIO.qcol(keys.columns.head).cast(keyType)
    val kBase = keys
      .select(F.when(F.assert_true(casted.isNotNull,
          F.lit("deleteKeys: null or uncastable key (target type " +
            s"$keyType) — nulls have no deletion semantics; filter or " +
            "coalesce explicitly first")).isNull,
        casted).as("__k"))
    // handle-exact release at method end (every consumer below executes
    // eagerly inside this call): a streaming upsert runs this per batch,
    // and without the release each trigger would accrete one key-set
    // block for the session's lifetime
    val (k, releaseK) =
      if (Bridge.reEvaluatesIdentically(keys)) (kBase, () => ())
      else Bridge.snapshotManaged(kBase.distinct())
    try {
    // candidate files: envelope overlaps some key, and never this
    // operation's own rewrite segment (retry self-exclusion) or a
    // caller-excluded one (upsert's just-appended batch)
    val self = excludeSegments + segment
    val cand = man.filter(!self.map(sg =>
      F.col("file").contains(s"/seg=$sg/")).reduce(_ || _))
    // the envelope columns are literally named "min_<keyCol>", so a key
    // column with a dot/space needs backtick quoting (qcol's contract)
    val affected = F.broadcast(cand).join(k,
        F.col("__k") >= GraftIO.qcol(s"min_$keyCol") &&
          F.col("__k") <= GraftIO.qcol(s"max_$keyCol"))
      .select("file").distinct().collect().map(_.getString(0)).sorted
    if (affected.isEmpty) return 0
    val statsCols = man.columns.filter(_.startsWith("min_"))
      .map(_.stripPrefix("min_")).toSeq
    // clear this operation's rewrite partition up front: a crashed earlier
    // attempt may have left partial files there, and a dynamic overwrite
    // that writes ZERO rows (every row of every affected file deleted)
    // would not replace them — nothing reads the segment (self-excluded),
    // so the pre-delete is race-free under the single-writer contract
    val fs = new org.apache.hadoop.fs.Path(url)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$url/seg=$segment"), true)
    // the recorded data schema opens the affected files without an
    // inference job (and is what the rewrite's part records)
    val affectedRows = recorded.fold(spark.read)(s => spark.read.schema(s))
      .parquet(affected: _*)
    val dataSchema = recorded.orElse(Some(affectedRows.schema))
    affectedRows
      .join(k, GraftIO.qcol(keyCol) === F.col("__k"), "left_anti")
      .withColumn("seg", F.lit(segment))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("seg")
      .parquet(url)
    val rwFiles = segmentFiles(spark, url, segment)
    // manifest commit: ONE part carrying both the rewrite files' live
    // rows and the affected files' tombstones — they land in one
    // dynamic-overwrite commit, so a reader sees the delete entirely or
    // not at all; the data-file deletes follow (from there on a crash
    // only leaves orphans for vacuum). Nothing here reads, collects, or
    // rewrites the rest of the manifest — cost tracks the affected
    // files, not the table.
    // commitOverride: upsert stamps its delete part with the SAME commit
    // as its batch part, so the MERGE is ONE addressable version — no
    // as-of commit exposes the mid-merge duplicate state (Delta exposes
    // one version per MERGE; so does this)
    val commit = commitOverride.getOrElse(nextCommit(spark, url))
    val types = statsCols.map(c => c -> man.schema(s"min_$c").dataType).toMap
    val sch = partSchema(statsCols, types)
    val harvested =
      if (rwFiles.isEmpty) Some(Seq.empty[org.apache.spark.sql.Row])
      else harvestFromFooters(spark, rwFiles, statsCols, types)
    harvested match {
      case Some(live) =>
        // tombstones as driver rows: file + all-null stats, the same
        // `rows IS NULL` marker tombRows emits — with the footer harvest
        // the whole part is driver-local and writes with zero jobs
        val tombsLocal = affected.toSeq.map(f => org.apache.spark.sql.Row
          .fromSeq(f +: Seq.fill(sch.length - 1)(null)))
        writePartRows(spark, live ++ tombsLocal, sch, url, segment, commit,
          dataSchema)
      case None => writePart(
        harvest(spark, rwFiles, statsCols)
          .unionByName(tombRows(man, affected.toSeq)),
        url, segment, commit, dataSchema)
    }
    // retainFiles = true keeps the retired (tombstoned, invisible) files
    // on disk so manifestAsOf reads of earlier commits stay servable —
    // the Delta posture: history lives until vacuum reclaims it
    if (!retainFiles)
      affected.foreach(f =>
        fs.delete(new org.apache.hadoop.fs.Path(f), false))
    affected.length
    } finally releaseK()
  }

  /** Keyed upsert — the MERGE shape: `batch` replaces any existing rows
    * sharing its keys and inserts the rest. Step 1 writes the batch
    * under its own `seg=` partition (dynamic overwrite — retry
    * replaces) and commits its manifest PART only after validating the
    * durable files; step 2 deletes the batch's keys from every OTHER
    * segment via [[deleteKeys]] (rewrite segment `rw_<segment>`, the
    * batch's own segment excluded), with the key set read back from the
    * batch's just-written files — durable and deterministic even when
    * `batch`'s own plan is not. Both parts carry ONE commit number, so
    * the MERGE is a single addressable [[manifestAsOf]] version (the
    * Delta posture — no as-of commit exposes the mid-merge duplicate
    * state); between the two part WRITES a reader can transiently
    * observe both versions of an updated key (duplicates, never
    * absence), and a crash there is healed by the at-least-once retry,
    * both steps being idempotent under the same segment id. Returns the
    * number of files the delete rewrote.
    *
    * Validation (`keyCol` manifested; exactly one non-null row per key
    * — MERGE semantics; dedup e.g. keep-latest first) runs over the
    * batch's DURABLE files, fused into the same single aggregation that
    * harvests the manifest part's per-file stats (grouping sets: one
    * scan, one job). The batch plan itself is therefore evaluated
    * exactly ONCE (the write) — a nondeterministic batch can no longer
    * pass a plan-side pre-check and then durably write different rows.
    * A batch that fails validation stays INVISIBLE: its part is never
    * written, so readers see the pre-upsert table, [[vacuum]] reclaims
    * the orphaned files, and the retried (fixed) batch replaces them. */
  def upsert(batch: DataFrame, path: String, keyCol: String,
      segment: String, clusterCols: Seq[String] = Nil,
      targetFiles: Int = 0, compression: String = "snappy",
      retainFiles: Boolean = false): Int = {
    requireSafeSegment(segment, "upsert")
    require(!segment.startsWith("rw_"),
      "upsert segment ids must not start with rw_ — that prefix is the " +
        "delete step's rewrite namespace")
    requireNoReservedCols(batch, "upsert")
    val spark = batch.sparkSession
    val url = GraftIO.resolveUrl(path)
    requireSchemaMatch(spark, url, batch, "upsert")
    val existing = parts(spark, url)
    val statsCols = statsColsOf(existing.schema)
    val dataSchema = existing.dataSchema.orElse(Some(batch.schema))
    require(statsCols.contains(keyCol),
      s"upsert: $keyCol has no manifest stats — the delete step needs " +
        "the per-file envelope; declare it in statsCols at write time " +
        s"(have: ${statsCols.mkString(", ")})")
    clustered(batch, clusterCols, targetFiles)
      .withColumn("seg", F.lit(segment))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", GraftIO.parquetCodec(compression))
      .partitionBy("seg")
      .parquet(url)
    val appended = segmentFiles(spark, url, segment)
    if (appended.isEmpty) {
      // an empty batch wrote no files; an earlier non-empty attempt's
      // part (impossible for the SAME batch, defensive anyway) cleared
      dropPart(spark, url, segment)
      return 0
    }
    val kc = GraftIO.qcol(keyCol)
    // ONE aggregation over the appended files serves both masters:
    // per-file groups are the manifest part's stats rows, the global
    // grouping-set row carries the MERGE validation counts
    val segRead = spark.read.parquet(appended: _*)
      .select(F.input_file_name().as("__file") +:
        statsCols.map(c => GraftIO.qcol(c).as(c)): _*)
    val aggs = (F.count(F.lit(1)).as("rows") +:
      statsCols.flatMap(c => Seq(F.min(GraftIO.qcol(c)).as(s"min_$c"),
        F.max(GraftIO.qcol(c)).as(s"max_$c")))) ++
      Seq(F.count(kc).as("__nk"), F.count_distinct(kc).as("__nd"),
        F.grouping(F.col("__file")).cast("int").as("__g"))
    val aggDf = segRead
      .groupingSets(Seq(Seq(F.col("__file")), Seq.empty), F.col("__file"))
      .agg(aggs.head, aggs.tail: _*)
    val schema = aggDf.schema
    val collected = aggDf.collect()
    val gIdx = schema.fieldIndex("__g")
    val global = collected.find(_.getInt(gIdx) == 1).get
    val n = global.getLong(schema.fieldIndex("rows"))
    val nk = global.getLong(schema.fieldIndex("__nk"))
    val nd = global.getLong(schema.fieldIndex("__nd"))
    require(nk == n,
      s"upsert: ${n - nk} null key(s) in the batch — a null key has no " +
        "replacement semantics (the batch stays uncommitted: no manifest " +
        "part was written; vacuum reclaims its files)")
    require(nd == n,
      s"upsert: batch holds $n rows but only $nd distinct keys — MERGE " +
        "semantics need one row per key; dedup the batch (e.g. " +
        "keep-latest) first (the batch stays uncommitted: no manifest " +
        "part was written; vacuum reclaims its files)")
    // part rows = the per-file groups, in harvest's (file, rows, min_*,
    // max_*) shape — driver-local (batch-file-count bound), no second
    // scan of the appended files
    val partFields = "__file" +: "rows" +:
      statsCols.flatMap(c => Seq(s"min_$c", s"max_$c"))
    val partIdx = partFields.map(schema.fieldIndex)
    val partRows = collected.filter(_.getInt(gIdx) == 0).toSeq
      .map(r => org.apache.spark.sql.Row.fromSeq(partIdx.map(r.get)))
    val partSchema = org.apache.spark.sql.types.StructType(
      partFields.map(schema.apply).zipWithIndex.map { case (f, i) =>
        if (i == 0) f.copy(name = "file") else f
      })
    // ONE commit number for the whole MERGE: the batch part and the
    // delete's rewrite/tombstone part share it, so manifestAsOf(commit)
    // is exactly the post-merge table and no addressable version carries
    // the mid-merge duplicate state (a crash between the two parts still
    // shows duplicates at this commit until the at-least-once retry
    // heals it — transient, like the current view)
    val commit = nextCommit(spark, url)
    // partRows are driver-local (batch-file-count bound) — write the part
    // directly (zero jobs, no committer round): a streaming CDC upsert
    // pays this per trigger
    writePartRows(spark, partRows, partSchema, url, segment, commit,
      dataSchema)
    deleteKeys(spark, path, keyCol,
      spark.read.parquet(appended: _*).select(kc), s"rw_$segment",
      excludeSegments = Set(segment),
      retainFiles = retainFiles,
      commitOverride = Some(commit))
  }

  /** Reclaim data files the manifest does not list — the debris of
    * crashed mutations (replaced files whose delete step never ran,
    * rewrite or batch segments written before their manifest part
    * landed) and any foreign stray. Compares scheme-independent path
    * components, deletes only `seg=*`-resident DATA files — everything
    * under `_manifest/` (whose parts/tombs also live in `seg=` dirs) is
    * never touched. Single-writer discipline: run it only when no
    * mutation is in-flight — an in-progress operation's freshly-written
    * files are exactly "unlisted data files" until its part lands.
    * Returns the number of files deleted. */
  def vacuum(spark: SparkSession, path: String): Int = {
    val url = GraftIO.resolveUrl(path)
    val listed = manifest(spark, path).select("file").collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath)
      .toSet
    val root = new org.apache.hadoop.fs.Path(url)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var removed = 0
    val it = fs.listFiles(root, true)
    val strays = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.Path]
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val rel = p.toUri.getPath
      // the manifest's own parts/tombs live under seg= dirs too — they
      // are bookkeeping, not data, and must never look like strays
      val underSeg = rel.contains("/seg=") && !rel.contains("/_manifest/")
      val isData = underSeg && !p.getName.startsWith("_") &&
        !p.getName.startsWith(".")
      if (isData && !listed.contains(rel)) strays += p
    }
    strays.foreach { p => if (fs.delete(p, false)) removed += 1 }
    removed
  }
}
