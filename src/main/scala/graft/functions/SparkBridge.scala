package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge. `ExpressionUtils` is private[sql]
  * in Spark 4 (the Column API was decoupled from catalyst for Connect), so
  * custom native expressions need this one-hop accessor inside the sql
  * package tree. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from an InternalRow RDD — `internalCreateDataFrame` is
    * private[sql], so distributed-scan operators living outside the sql
    * package tree (e.g. [[graft.Ewm]]'s seeded-scan path) bridge through
    * here. */
  def createFromInternalRows(session: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** RDD-level zipWithIndex over an already sorted/partitioned plan: appends
    * a LongType `name` column holding the global 0-based row position. Works
    * on the plan's `toRdd` (InternalRow, no encoder round-trip); the
    * per-partition count job and the downstream consumers share the SAME
    * RDD, so the sort's shuffle is executed once and reused by identity —
    * the property the SQL-level self-join formulation could not guarantee
    * (see [[graft.plans.RowId]]). Needs private[sql]
    * `internalCreateDataFrame`, hence lives in the bridge. */
  def zipWithRowIndex(df: org.apache.spark.sql.DataFrame, name: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    import org.apache.spark.sql.types.LongType
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = df.queryExecution.toRdd
    val counts = rdd
      .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.size.toLong)))
      .collect().toMap
    val nParts = rdd.getNumPartitions
    val offsets = new Array[Long](math.max(nParts, 1))
    var acc = 0L
    var p = 0
    while (p < nParts) { offsets(p) = acc; acc += counts.getOrElse(p, 0L); p += 1 }
    val indexed = rdd.mapPartitionsWithIndex { (pid, it) =>
      val extra = new GenericInternalRow(1)
      val joined = new JoinedRow
      var i = offsets(pid)
      it.map { row =>
        extra.setLong(0, i); i += 1
        joined(row, extra): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    session.internalCreateDataFrame(indexed, df.schema.add(name, LongType, nullable = false))
  }

  /** Average-rank (`rank() + (ties-1)/2`) over an already range-partitioned,
    * partition-sorted single-column order, computed by a per-partition
    * run-length scan — no Window, no second shuffle. Sound because Spark's
    * `RangePartitioner` routes EQUAL keys to the SAME partition (binary
    * search over the bounds), so after `sortWithinPartitions` every tie run
    * is contiguous inside one partition: for a run starting at global
    * position s with length L, every member's average rank is
    * `s + 1 + (L-1)/2`. One count job (same shuffle-reuse contract as
    * [[zipWithRowIndex]]) supplies the partition offsets. Rows of a run are
    * buffered (copied) until the run closes — the same per-key memory
    * exposure the Window formulation has, without its extra hash shuffle. */
  def zipWithAvgRank(df: org.apache.spark.sql.DataFrame, colName: String,
      out: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    import org.apache.spark.sql.types.DoubleType
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ord = df.schema.fieldIndex(colName)
    val dt = df.schema(colName).dataType
    val rdd = df.queryExecution.toRdd
    val counts = rdd
      .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.size.toLong)))
      .collect().toMap
    val nParts = rdd.getNumPartitions
    val offsets = new Array[Long](math.max(nParts, 1))
    var acc = 0L
    var p = 0
    while (p < nParts) { offsets(p) = acc; acc += counts.getOrElse(p, 0L); p += 1 }
    val ranked = rdd.mapPartitionsWithIndex { (pid, it) =>
      new Iterator[InternalRow] {
        private val extra = new GenericInternalRow(1)
        private val joined = new JoinedRow
        private var pos = offsets(pid) // global index of next unread row
        private val run = new scala.collection.mutable.Queue[InternalRow]
        private var avg = 0.0
        private var pending: InternalRow = null // first row of the next run
        private def fillRun(): Unit = {
          val first =
            if (pending != null) pending
            else if (it.hasNext) it.next().copy()
            else return
          pending = null
          val v = first.get(ord, dt)
          run += first
          var open = true
          while (open && it.hasNext) {
            val r = it.next()
            val w = r.get(ord, dt)
            if (java.util.Objects.equals(v, w)) run += r.copy()
            else { pending = r.copy(); open = false }
          }
          avg = pos + 1 + (run.size - 1) / 2.0
          pos += run.size
        }
        def hasNext: Boolean = run.nonEmpty || { fillRun(); run.nonEmpty }
        def next(): InternalRow = {
          if (run.isEmpty) fillRun()
          extra.update(0, avg)
          joined(run.dequeue(), extra)
        }
      }
    }
    session.internalCreateDataFrame(ranked,
      df.schema.add(out, DoubleType, nullable = false))
  }

  /** Exclusive prefix sum of a LongType column over an already
    * range-partitioned, partition-sorted plan: appends `out` = the sum of
    * `colName` over all PRECEDING rows in the global order (0 for the first
    * row). Same two-job shape as [[zipWithRowIndex]] — one tiny pass sums
    * each partition (shuffle output reused by RDD identity, never
    * recomputed), offsets are the scan of those partials, then a
    * per-partition running sum with zero data movement. The distributed
    * replacement for `sum().over(Window.orderBy(...).rowsBetween(...))`,
    * which funnels everything through one task. */
  def zipWithPrefixSum(df: org.apache.spark.sql.DataFrame, colName: String,
      out: String, requireNonNegative: Boolean = false,
      what: String = "zipWithPrefixSum"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    import org.apache.spark.sql.types.LongType
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ord = df.schema.fieldIndex(colName)
    require(df.schema(colName).dataType == LongType,
      s"zipWithPrefixSum needs a LongType column, got ${df.schema(colName).dataType}")
    val rdd = df.queryExecution.toRdd
    // the non-negativity guard rides the partial-sum loop that already
    // touches every row — a separate per-row assert FILTER in the plan
    // measured ~1.7x on the packing bench (d25), this is free
    val partials = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L
        it.foreach { r =>
          if (!r.isNullAt(ord)) {
            val v = r.getLong(ord)
            if (requireNonNegative && v < 0) throw new IllegalArgumentException(
              s"$what: negative value $v in '$colName'")
            s += v
          }
        }
        Iterator((pid, s))
      }
      .collect().toMap
    val nParts = rdd.getNumPartitions
    val offsets = new Array[Long](math.max(nParts, 1))
    var acc = 0L
    var p = 0
    while (p < nParts) { offsets(p) = acc; acc += partials.getOrElse(p, 0L); p += 1 }
    val summed = rdd.mapPartitionsWithIndex { (pid, it) =>
      val extra = new GenericInternalRow(1)
      val joined = new JoinedRow
      var run = offsets(pid)
      it.map { row =>
        extra.setLong(0, run)
        if (!row.isNullAt(ord)) run += row.getLong(ord)
        joined(row, extra): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    session.internalCreateDataFrame(summed,
      df.schema.add(out, LongType, nullable = false))
  }

  /** Does every evaluation of `df` yield the same rows? A frame that
    * feeds two evaluations needs a snapshot only when this is false.
    * True when the analyzed plan (subqueries included) is
    * `deterministic`, holds no `Sample` and no `Limit`/`Offset`/`Tail`
    * over an unsorted child, and every leaf is a file scan, a
    * `LocalRelation` or `Range`, a `StreamingRelation` over a file
    * format, a `LogicalRDD` whose RDD is checkpointed, or a `LogicalRDD`
    * over a `SQLExecutionRDD` with only narrow dependencies down to
    * `FileScanRDD`s (the frame `foreachBatch` hands a file-source
    * trigger). Every other leaf fails (`createDataFrame(rdd)`, shuffled
    * lineage, v2 sources): Spark calls them deterministic, but a
    * re-evaluation can differ. A `LogicalRDD` hides the expressions of
    * the plan it came from — a `foreachBatch` frame over `rand()` passes
    * — so a stream asks this of its own plan, once per run. */
  def reEvaluatesIdentically(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.{LogicalRDD, SQLExecutionRDD}
    import org.apache.spark.sql.execution.datasources._
    def sorted(p: LogicalPlan): Boolean = p match {
      case s: Sort => s.global
      case _: Project | _: Filter | _: LocalLimit | _: SubqueryAlias =>
        sorted(p.children.head)
      case _ => false
    }
    def narrowToFileScans(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
      rdd.isInstanceOf[FileScanRDD] || rdd.dependencies.nonEmpty &&
        rdd.dependencies.forall {
          case n: org.apache.spark.NarrowDependency[_] => narrowToFileScans(n.rdd)
          case _ => false
        }
    val plan = df.queryExecution.analyzed
    plan.deterministic && plan.collectWithSubqueries { case p => p }.forall {
      case _: Sample => false
      case p @ (_: GlobalLimit | _: LocalLimit | _: Offset | _: Tail) =>
        sorted(p.children.head)
      case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
      case _: LocalRelation | _: Range => true
      case s: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
        classOf[FileFormat].isAssignableFrom(s.dataSource.providingClass)
      case r: LogicalRDD => r.rdd.isCheckpointed ||
        r.rdd.isInstanceOf[SQLExecutionRDD] && narrowToFileScans(r.rdd)
      case _: LeafNode => false
      case _ => true
    }
  }

  /** Eager executor-side snapshot (`Dataset.localCheckpoint`) plus an
    * idempotent thunk that releases ONLY its blocks — never a
    * session-global sweep, which would free a concurrent caller's blocks
    * (fatal for a victim's localCheckpoint, whose truncated lineage
    * cannot recompute). For a frame that fails [[reEvaluatesIdentically]]
    * but feeds two evaluations inside one call. */
  def snapshotManaged(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    val ck = df.localCheckpoint()
    val rdd = checkpointedRdd(ck)
    (ck, () => { rdd.foreach(_.unpersist(false)); () })
  }

  /** The EXACT RDD a `Dataset.localCheckpoint()` materialized: `unpersist`
    * frees blocks only on the very RDD that was persisted, and a
    * checkpointed Dataset's `.rdd` is a fresh DERIVED RDD, so the
    * releaser must reach the wrapped `LogicalRDD` (private[sql]). None
    * when `df` is not a checkpoint result. */
  def checkpointedRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** A single-row/single-column DataFrame as a scalar Column — catalyst's
    * `ScalarSubquery`, the exact plan shape `spark.sql` gives a
    * `(SELECT count(*) FROM t)` predicate: the subquery executes once and
    * its value is injected into the consuming plan as a literal. The
    * DataFrame-API alternatives are all worse: a driver-side `.count()` is
    * an eager extra action, and a crossJoin of a 1-row aggregate
    * constant-folds its key away and re-plans as a BroadcastNestedLoopJoin
    * (measured on the vocabulary operator). */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        df.queryExecution.analyzed))

  /** Extract every window-function subtree of `c` (a ColumnNode-level
    * rewrite — the catalyst bridge wraps the whole node tree in one opaque
    * `ColumnNodeExpression`, so catalyst `transform` cannot see windows
    * inside it), replacing each with an `UnresolvedAttribute` named
    * `prefix<i>`. Returns the rewritten column plus the extracted
    * (name, window column) pairs, for callers that pre-project the
    * windows — how `summarise` supports aggregations OVER window
    * functions, which Spark's `groupBy.agg` rejects outright. The
    * rewriter walks the node shapes our expression vocabulary can place
    * above a window (functions, casts, aliases, case/when); a window
    * under anything else fails loudly rather than falling through to the
    * analyzer's opaque error. */
  def extractWindows(c: Column, prefix: String): (Column, Seq[(String, Column)]) = {
    import org.apache.spark.sql.{internal => in}
    val found = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
    def rewrite(n: in.ColumnNode): in.ColumnNode = n match {
      case w: in.Window =>
        val name = s"$prefix${found.size}"
        found += name -> Column(w)
        in.UnresolvedAttribute(Seq(name), None, isMetadataColumn = false,
          in.ColumnNode.NO_ORIGIN)
      case f: in.UnresolvedFunction =>
        f.copy(arguments = f.arguments.map(rewrite))
      case a: in.Alias => a.copy(child = rewrite(a.child))
      case ct: in.Cast => ct.copy(child = rewrite(ct.child))
      case cw: in.CaseWhenOtherwise =>
        cw.copy(
          branches = cw.branches.map(b => (rewrite(b._1), rewrite(b._2))),
          otherwise = cw.otherwise.map(rewrite))
      case s: in.SortOrder => s.copy(child = rewrite(s.child))
      case other =>
        val buried = other.collect { case w: in.Window => w }
        require(buried.isEmpty,
          s"window function nested under unsupported node " +
            s"${other.getClass.getSimpleName} in an aggregation — " +
            "materialize it with mutate(...) first")
        other
    }
    (Column(rewrite(c.node)), found.toSeq)
  }

  /** Rewrite a sort key's null ordering at the ColumnNode level (Spark 4's
    * Connect-agnostic Column representation). A catalyst SortOrder smuggled
    * into a Column is NOT recognized by Dataset.sort — it gets wrapped in a
    * second SortOrder and codegen-crashes — so the rewrite must happen on
    * `org.apache.spark.sql.internal.SortOrder` nodes, which is private[sql]
    * territory, hence here. Bare columns become ascending keys. */
  def withNullOrdering(key: Column, nilsLast: Boolean): Column = {
    import org.apache.spark.sql.internal.{SortOrder => SO}
    val target = if (nilsLast) SO.NullsLast else SO.NullsFirst
    key.node match {
      case so: SO => Column(so.copy(nullOrdering = target))
      case other => Column(SO(other, SO.Ascending, target))
    }
  }

  /** Rendered table text (reference `print/2` / table inspect). Spark's
    * `showString` is private[sql]; one-hop accessor. */
  def showString(df: org.apache.spark.sql.DataFrame, numRows: Int,
      truncate: Int): String =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .showString(numRows, truncate)

  /** Rewrite a sort key's CHILD expression while preserving its
    * ColumnNode-level SortOrder wrapper. Round-tripping the whole key
    * through catalyst (`column(expression(key).transform(...))`) turns a
    * direction-bearing key into the smuggled-SortOrder shape documented
    * above (Dataset.sort wraps it in a second SortOrder and
    * codegen-crashes) and makes [[flipSortOrder]] misread it as a bare
    * ascending column — so direction/null placement stay at the node
    * level and only the child takes the rewrite. */
  def mapSortChild(key: Column, f: Expression => Expression): Column = {
    import org.apache.spark.sql.internal.{SortOrder => SO}
    key.node match {
      case so: SO =>
        val child = ExpressionUtils.expression(Column(so.child))
        Column(so.copy(child = ExpressionUtils.column(f(child)).node))
      case _ =>
        ExpressionUtils.column(f(ExpressionUtils.expression(key)))
    }
  }

  /** Flip a sort key end-for-end (reference `reverse/1`): direction AND null
    * placement invert, so the reversed order is exactly the original order
    * read backwards. Bare columns are treated as Spark's default
    * (asc, nulls first) and become (desc, nulls last). */
  def flipSortOrder(key: Column): Column = {
    import org.apache.spark.sql.internal.{SortOrder => SO}
    key.node match {
      case so: SO => Column(so.copy(
        sortDirection =
          if (so.sortDirection == SO.Ascending) SO.Descending else SO.Ascending,
        nullOrdering =
          if (so.nullOrdering == SO.NullsFirst) SO.NullsLast else SO.NullsFirst))
      case other => Column(SO(other, SO.Descending, SO.NullsLast))
    }
  }

  /** The exact file-identity string `input_file_name()` yields for a
    * scanned file (Spark's url-encoded [[org.apache.spark.paths.SparkPath]]
    * form) — so metadata harvested driver-side from footers and metadata
    * harvested by a scan agree byte-for-byte on file identity. */
  def fileUrl(st: org.apache.hadoop.fs.FileStatus): String =
    org.apache.spark.paths.SparkPath.fromFileStatus(st).urlEncoded

  /** Write driver-local rows as ONE parquet file through Spark's own
    * [[org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport]]
    * — byte-compatible with what an executor task would write for the same
    * schema (same type mapping, logical annotations, rebase handling), with
    * ZERO Spark jobs and no output-committer round (no `_temporary`
    * staging, no job-commit renames, no `_SUCCESS`).
    *
    * Why it exists (r17 optimization): metadata-sized writes — a lake
    * mutation's manifest part (a handful of per-file stats rows), an
    * index's one-row meta — were going through `df.coalesce(1).write`,
    * paying a full driver-scheduled job plus the commit protocol to move a
    * few hundred bytes. Per-mutation floors like the streaming CDC upsert
    * pay that repeatedly per trigger (guide §5: the job floor is driver
    * work; on a busy cluster the scheduling round trip dwarfs the write).
    * Delta's commit log takes the same stance: transaction metadata is
    * written by the driver, not by a distributed job.
    *
    * Only for BOUNDED row sets (mutation-scale metadata — the caller's
    * contract); data tables keep the distributed writer. The file lands
    * via temp-name + rename so a concurrent lister never sees a partial
    * file under its final name. */
  def writeParquetDriverSide(session: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row], dir: String,
      overwriteDir: Boolean): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    import org.apache.spark.sql.internal.SQLConf
    val cs = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = cs.sessionState.conf
    val conf = cs.sessionState.newHadoopConf()
    ParquetWriteSupport.setSchema(schema, conf)
    // the same write-path session confs ParquetFileFormat.prepareWrite
    // pins into the task configuration — init()/construction read them
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    if (overwriteDir) fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    val codec = org.apache.parquet.hadoop.metadata.CompressionCodecName
      .fromConf(sqlConf.parquetCompressionCodec.toUpperCase(
        java.util.Locale.ROOT) match {
        case "UNCOMPRESSED" | "NONE" => "UNCOMPRESSED"
        case c => c
      })
    val ext = if (codec == org.apache.parquet.hadoop.metadata
        .CompressionCodecName.UNCOMPRESSED) ""
      else "." + codec.name.toLowerCase(java.util.Locale.ROOT)
    val name = s"part-00000-${java.util.UUID.randomUUID()}$ext.parquet"
    val tmp = new Path(dirPath, s".$name.inprogress")
    val fin = new Path(dirPath, name)
    final class B(p: Path) extends org.apache.parquet.hadoop.ParquetWriter
        .Builder[InternalRow, B](p) {
      override def self(): B = this
      override def getWriteSupport(c: org.apache.hadoop.conf.Configuration)
          : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
        new ParquetWriteSupport
    }
    val writer = new B(tmp).withConf(conf).withCompressionCodec(codec).build()
    try {
      val conv = CatalystTypeConverters.createToCatalystConverter(schema)
      rows.foreach(r => writer.write(conv(r).asInstanceOf[InternalRow]))
    } finally writer.close()
    if (!fs.rename(tmp, fin)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"writeParquetDriverSide: rename to $fin failed")
    }
  }

  /** The schema of one parquet file as a file-source read reports it:
    * the Spark schema a Spark writer recorded in its footer (the
    * `org.apache.spark.sql.parquet.row.metadata` key schema inference
    * itself prefers), every field nullable — one footer read, zero Spark
    * jobs. A file without the key (a foreign writer) falls back to one
    * inference read, which runs a Spark job. */
  def parquetSchema(session: org.apache.spark.sql.SparkSession,
      st: org.apache.hadoop.fs.FileStatus)
      : org.apache.spark.sql.types.StructType = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st,
        session.sparkContext.hadoopConfiguration))
    val stamped =
      try sparkSchemaOf(r.getFooter.getFileMetaData.getKeyValueMetaData)
      finally r.close()
    stamped.getOrElse(session.read.parquet(st.getPath.toString).schema)
  }

  private def sparkSchemaOf(kv: java.util.Map[String, String])
      : Option[org.apache.spark.sql.types.StructType] =
    Option(kv.get(org.apache.spark.sql.execution.datasources.parquet
        .ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => scala.util.Try(
        org.apache.spark.sql.types.DataType.fromJson(json)).toOption)
      .collect { case s: org.apache.spark.sql.types.StructType => s.asNullable }

  /** Read ONE bounded parquet file on the driver through Spark's own
    * [[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport]]
    * — the read-side twin of [[writeParquetDriverSide]]: same type
    * mapping and rebase handling as an executor scan, ZERO Spark jobs.
    * The schema is the footer's Spark schema ([[parquetSchema]]);
    * rows are copied out of the reader's reused buffer. None when the
    * footer carries no Spark schema (a foreign writer — the caller keeps
    * its distributed read). Only for BOUNDED files (mutation-scale
    * metadata — the caller's contract). */
  def readParquetDriverSide(session: org.apache.spark.sql.SparkSession,
      st: org.apache.hadoop.fs.FileStatus)
      : Option[(org.apache.spark.sql.types.StructType,
        IndexedSeq[org.apache.spark.sql.Row])] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.execution.datasources.DataSourceUtils
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    import org.apache.spark.sql.internal.SQLConf
    import scala.jdk.CollectionConverters._
    val cs = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = cs.sessionState.conf
    val conf = cs.sessionState.newHadoopConf()
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
    try {
      val meta = r.getFooter.getFileMetaData
      val kv = meta.getKeyValueMetaData
      sparkSchemaOf(kv).map { schema =>
        // the confs ParquetFileFormat pins into a scan task's
        // configuration — the schema converter reads them unguarded
        conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
        conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
        Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
          SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
          SQLConf.LEGACY_PARQUET_NANOS_AS_LONG).foreach(e =>
          conf.setBoolean(e.key, sqlConf.getConf(e)))
        val support = new ParquetReadSupport(None, false,
          DataSourceUtils.datetimeRebaseSpec(kv.get,
            sqlConf.getConfString(SQLConf.PARQUET_REBASE_MODE_IN_READ.key)),
          DataSourceUtils.int96RebaseSpec(kv.get,
            sqlConf.getConfString(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ.key)))
        val fileSchema = meta.getSchema
        val ctx = support.init(new org.apache.parquet.hadoop.api.InitContext(
          conf, kv.asScala.map { case (k, v) =>
            k -> java.util.Collections.singleton(v) }.toMap.asJava, fileSchema))
        val materializer = support.prepareForRead(conf, kv, fileSchema, ctx)
        r.setRequestedSchema(ctx.getRequestedSchema)
        val io = new org.apache.parquet.io.ColumnIOFactory(meta.getCreatedBy)
          .getColumnIO(ctx.getRequestedSchema, fileSchema, true)
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        val out = IndexedSeq.newBuilder[org.apache.spark.sql.Row]
        var pages = r.readNextRowGroup()
        while (pages != null) {
          val rows = io.getRecordReader(pages, materializer,
            org.apache.parquet.filter2.compat.FilterCompat.NOOP)
          var i = 0L
          while (i < pages.getRowCount) {
            out += toRow(rows.read().copy()).asInstanceOf[org.apache.spark.sql.Row]
            i += 1
          }
          pages = r.readNextRowGroup()
        }
        (schema, out.result())
      }
    } finally r.close()
  }

  /** `schema` with every field nullable — what a file-source read of
    * data written under `schema` reports (`asNullable` is private[spark]). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable
}
