package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface. The reference has NO event-time/stateful
  * streaming (SURVEY §1.2 — its "streaming" is Polars' out-of-core engine
  * toggle), so this module is additive: the standard Spark streaming
  * wrappers a training-data ingest pipeline needs, consistent with the
  * batch verbs (same `functions._` expressions work in both).
  */
object Streams {

  /** Streaming scan over a directory of parquet files (the batch tables in
    * /root/testdata double as streaming fixtures via file-source). The file
    * source requires a directory; `globFilter` selects files within it. */
  def readParquetStream(spark: SparkSession, dir: String,
      schema: StructType, maxFilesPerTrigger: Int = 1,
      globFilter: Option[String] = None): DataFrame = {
    var r = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    globFilter.foreach(g => r = r.option("pathGlobFilter", g))
    r.parquet(dir)
  }

  /** Event-time windowed aggregation with a watermark: the canonical
    * rate-limited, state-bounded shape (append mode safe). */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
      window: String, keyCols: Seq[String],
      valueCol: String = "value"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), window) +: keyCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col(valueCol)).as("total_value"))

  /** Streaming dedup by key within the watermark horizon — state is bounded
    * by the watermark, so this runs forever at constant memory. */
  def dedupeStream(events: DataFrame, tsCol: String, watermark: String,
      keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Sessionization via session_window (gap-based), the stateful op a
    * clickstream pipeline needs. */
  def sessionize(events: DataFrame, tsCol: String, watermark: String,
      gap: String, keyCols: Seq[String],
      valueCol: String = "value"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(F.session_window(F.col(tsCol), gap) +: keyCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n_events"),
        F.sum(F.col(valueCol)).as("total_value"))

  /** Stream-stream interval join: rows of `left` matched to `right` rows
    * with the same `keys` whose event time falls in
    * `(l.ts, l.ts + maxSpan]`. BOTH sides carry watermarks and the join
    * condition bounds the time range, so Spark evicts buffered state once
    * the watermark passes `ts + maxSpan` — state is O(keys × span), not
    * O(stream). The funnel-analysis shape (view → purchase within a day)
    * a clickstream pipeline needs. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, watermark: String,
      keys: Seq[String], maxSpan: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    val keyCond = keys.map(k => F.col(s"l.$k") === F.col(s"r.$k"))
      .reduce(_ && _)
    val range = F.col(s"r.$rightTs") > F.col(s"l.$leftTs") &&
      F.col(s"r.$rightTs") <=
        F.col(s"l.$leftTs") + F.expr(s"INTERVAL $maxSpan")
    l.join(r, keyCond && range, "inner")
  }

  /** Custom keyed state via flatMapGroupsWithState: per-key running count +
    * running sum emitted on every update, with processing-time timeout
    * evicting idle keys — the canonical bounded-state custom operator.
    * (Event-time bounded variants hang state cleanup on the watermark.) */
  def runningTotals(events: DataFrame, keyCol: String, valueCol: String,
      idleTimeout: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events.select(F.col(keyCol).cast("string").as("k"),
      F.col(valueCol).cast("double").as("v")).as[(String, Double)]
    def update(key: String, rows: Iterator[(String, Double)],
        state: GroupState[(Long, Double)]): Iterator[(String, Long, Double)] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
        var n = n0; var s = s0
        rows.foreach { case (_, v) => n += 1; s += v }
        state.update((n, s))
        idleTimeout.foreach(state.setTimeoutDuration)
        Iterator((key, n, s))
      }
    }
    // processing-time timeout keeps scheduling empty micro-batches to fire
    // evictions — right for a 24/7 pipeline, never settles on a bounded
    // source — so the timeout (and the timeout conf) is opt-in
    val timeoutConf = if (idleTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), timeoutConf)(update)
      .toDF("key", "n", "total")
  }

  /** Incremental near-dedup ingest — the streaming steady state of the
    * persisted MinHash index ([[graft.operators.Dedup.writeMinhashIndex]]):
    * each micro-batch is probed against the index
    * ([[graft.operators.Dedup.dedupAgainstIndex]] — candidates from the
    * band-partitioned postings, verification by exact stored-feature
    * Jaccard), so a later batch dedups against every earlier batch's
    * accepted docs without any corpus re-scan. A trigger is two plain
    * steps with no cache: write the probe's survivors to
    * `outPath/batch=<seg>` (the probe runs inside that write), then
    * append the index segment from the WRITTEN files, read back under the
    * batch's schema ([[graft.operators.Dedup.appendToMinhashIndex]]).
    * The append therefore never re-runs the probe against the listing it
    * refreshes; the price is a second shingling pass over the survivors.
    * `foreachBatch` is the sanctioned Structured
    * Streaming shape for per-batch logic that needs full batch joins +
    * aggregations (the probe is a join-agg pipeline no continuous-mode
    * operator set expresses).
    *
    * Exactly-once: every write is IDEMPOTENT per (checkpoint, batchId) —
    * survivors land in an overwritten `batch=<prefix>_b<id>` sink
    * directory, the index append is a dynamically-overwritten
    * `seg=<prefix>_b<id>` partition, and the probe excludes its own
    * in-flight segment (a partial segment from a failed attempt would
    * otherwise make batch docs self-candidates). A batch replayed from
    * the SAME checkpoint recomputes the same survivors (earlier segments
    * are untouched by the rewrite) and overwrites, not duplicates. Pass
    * `checkpoint` to make restarts resume the offset log; without it a
    * fresh temp checkpoint restarts batchIds at 0 — which is why segment
    * names carry a checkpoint-derived prefix: a re-run must APPEND new
    * segments, never overwrite another run's (re-processed docs that
    * were already accepted simply die against their earlier selves in
    * the index). Returns the run's segment prefix.
    *
    * Decision rule per doc: die iff exact Jaccard ≥ threshold against
    * (corpus ∪ survivors of strictly earlier batches). Batch-INTERNAL
    * near-dup pairs both survive, mirroring [[graft.operators.Dedup
    * .dedupAgainstIndex]]; order across batches is the file-source's
    * modification-time order, so the semantics are deterministic for a
    * deterministic feed.
    *
    * `compactEvery = n` (r15 verdict #3) runs
    * [[graft.operators.Dedup.compactMinhashIndex]] after every n-th
    * batch, INSIDE `foreachBatch` — the window where this stream is the
    * index's only writer, so the documented live-ingest compaction race
    * cannot occur — with the batch's own in-flight segment EXCLUDED
    * from the fold (it is not yet checkpoint-committed; folding it
    * would defeat a replayed batch's own-segment exclusion and the
    * replay would self-kill its survivors). Probe latency degrades
    * ~75% by 64 segments (scaling/mh_segments.json); the in-line
    * trigger restores the floor automatically at the cadence a 24/7
    * stream needs — the default 0 keeps compaction a manual,
    * between-triggers operation.
    *
    * `tieredCompaction = true` (r16 verdict #1) swaps the per-cadence
    * FULL fold — O(index) per trigger, cumulative O(T²/n) over a 24/7
    * stream's lifetime — for the size-tiered LSM fold
    * ([[graft.operators.Dedup.tierCompactMinhashIndex]]): per-trigger
    * cost amortized O(batch · log), flat in the base size, with `base`
    * itself rewritten only when the accumulated tiers reach a quarter
    * of it. The cadence question answers itself under tiering — run it
    * EVERY trigger (`compactEvery = 1`): a trigger that fills no size
    * class costs one directory listing, so there is no per-batch knob
    * to tune against a probe-degradation/compaction-cost break-even;
    * the class-fill rule IS that break-even, derived from the index's
    * own sizes (r16 verdict #6). Same replay contract: the in-flight
    * segment is excluded, folds commit through intent markers, and a
    * crashed fold heals at the next trigger's entry. */
  def ingestDedupStream(stream: DataFrame, id: Column, text: Column,
      indexPath: String, outPath: String, threshold: Double,
      name: String, checkpoint: Option[String] = None,
      compactEvery: Int = 0, tieredCompaction: Boolean = false): String = {
    val spark = stream.sparkSession
    val ckpt = checkpoint.getOrElse(checkpointDir(name).toString)
    // segment identity = (checkpoint identity, batchId). batchIds restart
    // at 0 for every NEW checkpoint, so a fresh-checkpoint re-run over the
    // same index must not reuse an earlier run's segment names — its
    // "b0" would dynamic-overwrite (silently DELETE) the earlier run's
    // b0 survivors from the index. The prefix ties each segment to the
    // checkpoint whose offset log defines its batchIds: a RESTART from
    // the same checkpoint keeps prefix AND replayed batchId (idempotent
    // overwrite, as designed); a new run gets a new prefix (appends).
    // Returned so callers can address this run's segments (e.g. replay).
    val prefix = segmentPrefix(ckpt)
    val step: (DataFrame, Long) => Unit = (batchDf, batchId) => {
      val seg = s"${prefix}_b$batchId"
      val out = s"$outPath/batch=$seg"
      // the probe runs inside the survivor write; the index grows from the
      // written files, so nothing re-runs the probe and nothing is cached
      phase(spark, "survivor write") {
        graft.operators.Dedup.dedupAgainstIndex(batchDf, id, text, indexPath,
          threshold, excludeSegment = Some(seg))
          .write.mode("overwrite").parquet(out)
      }
      phase(spark, "index append") {
        graft.operators.Dedup.appendToMinhashIndex(
          spark.read.schema(batchDf.schema).parquet(out), id, text,
          indexPath, seg)
      }
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
        phase(spark, "fold") {
          if (tieredCompaction)
            graft.operators.Dedup.tierCompactMinhashIndex(spark, indexPath,
              excludeSegment = Some(seg))
          else
            graft.operators.Dedup.compactMinhashIndex(spark, indexPath,
              excludeSegment = Some(seg))
        }
    }
    drain(stream.writeStream.foreachBatch(step), ckpt,
      temp = checkpoint.isEmpty)
    prefix
  }

  /** Incremental EMBEDDING ingest — the vector-side twin of
    * [[ingestDedupStream]], over the persisted IVF index
    * ([[graft.operators.Similarity.writeIvfIndex]]): each micro-batch is
    * probed against the index with every cell searched
    * (`nprobe = nlist` ⇒ the decision is EXACT max-cosine, not
    * approximate — the oracle-replayable posture; pass a smaller
    * `nprobe` for the recall-trading production variant), vectors whose
    * best match scores ≥ `threshold` die, and later batches dedup
    * against every earlier batch's accepted vectors with no corpus
    * re-scan. As in [[ingestDedupStream]], the survivors are written to
    * `outPath/batch=<seg>` first (the probe runs inside that write), and
    * the index append ([[graft.operators.Similarity.appendToIvfIndex]])
    * reads the written files back, so the probe runs once per trigger
    * without a survivor cache. The batch itself stays cached: it feeds
    * the probe and the row count that picks the probe's shape. A stream
    * that is not a file source, or whose `id`/`vec` are nondeterministic
    * (`Bridge.reEvaluatesIdentically`, asked once per run), has each
    * batch snapshotted instead, released when the trigger ends.
    *
    * Exactly-once: same contract as [[ingestDedupStream]] — SHA-256
    * checkpoint-derived segment prefix, per-batch dynamic-overwrite
    * segments, and the probe EXCLUDES its own in-flight segment (a crash
    * between append and checkpoint commit would otherwise make the
    * replayed batch self-match at cosine 1.0 and erase its survivors).
    * Batch-internal near-dup pairs both survive, mirroring the MinHash
    * semantics. A WHITENED index
    * ([[graft.operators.Embeddings.writeWhitenedIvfIndex]]) is detected
    * from its meta stamp and every batch is projected through the
    * persisted PCA model for both probe and append (survivors persist to
    * `outPath` raw). Returns the run's segment prefix.
    *
    * `compactEvery = n` (r15 verdict #3) runs
    * [[graft.operators.Similarity.compactIvfIndex]] after every n-th
    * batch inside `foreachBatch` — the single-writer window — with the
    * in-flight segment excluded from the fold (same replay-safety
    * contract as [[ingestDedupStream]]); 0 keeps compaction manual.
    *
    * `rescoreSource` (r15 verdict #2): over an SQ8 layout the quantized
    * probe's best-match cosines carry ~0.3% error, so the kill decision
    * at `threshold` is approximate. Pass a thunk producing the
    * full-precision (id, vector) source — re-evaluated per batch, so an
    * accreting source (original corpus ∪ this stream's own `outPath`
    * survivors) lists fresh files each trigger — and every batch's
    * best-match is REFINED to the exact cosine before the threshold
    * applies ([[graft.operators.Similarity.RescoreSource]]; the
    * distributed re-rank when the batch is not driver-small — no
    * query-scale collect either way). A whitened layout's source is
    * projected through the same persisted model as the queries.
    *
    * `tieredCompaction = true` (r16 verdict #1): the compaction cadence
    * runs [[graft.operators.Similarity.tierCompactIvfIndex]] instead of
    * the full fold — per-trigger cost amortized O(batch · log), flat in
    * the base size, `base` rewritten only at the size-ratio trigger.
    * Under tiering run it every trigger (`compactEvery = 1`); the
    * size-class fill rule replaces any hand-tuned cadence (r16 verdict
    * #6). Search results are structurally identical across tier folds
    * (per-vector state, nothing aggregates per segment). */
  def ingestEmbedStream(stream: DataFrame, id: Column, vec: Column,
      indexPath: String, outPath: String, threshold: Double,
      name: String, checkpoint: Option[String] = None,
      nprobe: Option[Int] = None, compactEvery: Int = 0,
      rescoreSource: Option[() => graft.operators.Similarity.RescoreSource]
        = None, tieredCompaction: Boolean = false): String = {
    val spark = stream.sparkSession
    val ckpt = checkpoint.getOrElse(checkpointDir(name).toString)
    val prefix = segmentPrefix(ckpt)
    // a WHITENED index (Embeddings.writeWhitenedIvfIndex) stores vectors
    // in PCA-whitened space; its meta stamp makes the raw-space
    // append/search refuse loudly, so the stream must project every
    // batch through the PERSISTED model. Read once per run, not per
    // batch — retrain preserves the space, and an in-place REBUILD that
    // changes it is caught per batch by the meta's model fingerprint
    // (the cached-meta read the probe already pays), refusing loudly
    // instead of mixing two fits' projections; a per-batch model re-read
    // would re-add a driver job to the floor the r12 job trim paid down.
    // Survivors still land in outPath RAW: the out table is corpus data,
    // only the index speaks whitened.
    val pcaModel =
      if (graft.operators.Similarity.ivfIndexIsWhitened(spark, indexPath))
        Some(graft.operators.Embeddings.readPcaModel(spark, indexPath))
      else None
    // a batch frame hides its origin's expressions, so the stream's own
    // plan is asked; every frame derived from a passing (file-source)
    // batch passes too, so no site below snapshots
    val stable = Bridge.reEvaluatesIdentically(
      stream.select(id.as("__vid"), vec.as("__v")))
    val step: (DataFrame, Long) => Unit = (batchDf, batchId) => {
      val seg = s"${prefix}_b$batchId"
      val cols = batchDf.select(id.as("__vid"), vec.as("__v"))
      val (batch, release) =
        if (stable) {
          val b = cols.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          (b, () => { b.unpersist(false); () })
        } else Bridge.snapshotManaged(cols)
      try {
        val probes = nprobe.getOrElse(Int.MaxValue) // min'd to nlist inside
        // adaptive probe shape: the localized IVF path driver-collects
        // batch × nprobe vector rows before broadcasting — the fast
        // shape for trigger-sized batches (one local relation, no
        // query-side shuffles), a driver OOM for a backlog-replay batch.
        // The batch is already cached or snapshotted, so counting it is
        // one cheap pass; past the bound the distributed path collects only
        // the probed cell ids (≤ nlist)
        val batchRows = batch.count()
        val probeVec = pcaModel match {
          case Some(m) => graft.operators.Embeddings.pcaProject(
            batch, F.col("__v"), m, "__wv", whiten = true)
          case None => batch
        }
        // the opt-in exact refine: the full-precision source enters the
        // index's own space (projected through the cached model on a
        // whitened layout), evaluated fresh per batch so an accreting
        // source sees this trigger's file listing
        val rescore = rescoreSource.map { mk =>
          val rs = mk()
          pcaModel match {
            case Some(m) =>
              // same reserve-column guard as searchWhitenedIvfIndex's
              // rescore wrapper: silently overwriting a caller's __rwv
              // is the failure the sibling path refuses loudly
              require(!rs.source.columns.exists(
                  _.toLowerCase(java.util.Locale.ROOT) == "__rwv"),
                "ingestEmbedStream reserves column name __rwv in the " +
                  "rescore source — rename first")
              graft.operators.Similarity.RescoreSource(
                graft.operators.Embeddings.pcaProject(rs.source, rs.vec, m,
                  "__rwv", whiten = true),
                rs.id, F.col("__rwv"), rs.factor)
            case None => rs
          }
        }
        // the localize cutoff bounds DRIVER-side plan state. Without
        // rescore that state is the |batch|-row collected probe frame
        // (50k rows). WITH rescore the localized path additionally
        // builds a pushed-In source prune of |batch|·factor driver-side
        // literals (Similarity.rescoreExact) — at the bare cutoff and
        // factor 4 that is ~200k literals of plan construction exactly
        // at the boundary the cutoff protects (r16 ADVICE) — so the
        // cutoff shrinks by the factor, keeping the literal count at
        // the same ~50k bound; larger batches take the distributed
        // semi-join refine, which collects nothing query-scale.
        val localizeCutoff =
          rescore.fold(50000L)(rs => 50000L / math.max(rs.factor, 1))
        val best = graft.operators.Similarity.searchIvfIndexImpl(spark,
          indexPath, probeVec, F.col("__vid"),
          if (pcaModel.isDefined) F.col("__wv") else F.col("__v"), k = 1,
          nprobe = probes, excludeSegment = Some(seg),
          localizeQueries = batchRows <= localizeCutoff,
          expectWhitened = pcaModel.isDefined,
          expectedModelFp = pcaModel.map(_.fingerprint),
          rescore = rescore)
        val dead = best.filter(F.col("cosine") >= threshold)
          .select(F.col("query_id").as("__dead"))
        // no forced broadcast: dead is bounded by the micro-batch size,
        // which the trigger usually keeps broadcast-small (auto-broadcast
        // fires), but a backlog-replay batch can be arbitrarily large —
        // let the size estimate decide instead of pinning the driver
        val survivors = batch.join(dead,
          F.col("__vid") === F.col("__dead"), "left_anti")
          .select(F.col("__vid").as("vec_id"), F.col("__v").as("embedding"))
        val out = s"$outPath/batch=$seg"
        phase(spark, "survivor write") {
          survivors.write.mode("overwrite").parquet(out)
        }
        // the append reads the written survivors back, so the probe
        // (index scan, cosine ranking, rescore refine) runs once, inside
        // the survivor write
        phase(spark, "index append") {
          val written = spark.read.schema(survivors.schema).parquet(out)
          pcaModel match {
            case Some(m) => graft.operators.Similarity.appendToIvfIndexImpl(
              graft.operators.Embeddings.pcaProject(written,
                F.col("embedding"), m, "__wv", whiten = true),
              F.col("vec_id"), F.col("__wv"), indexPath, seg,
              expectWhitened = true,
              expectedModelFp = Some(m.fingerprint))
            case None => graft.operators.Similarity.appendToIvfIndex(
              written, F.col("vec_id"), F.col("embedding"), indexPath, seg)
          }
        }
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          phase(spark, "fold") {
            if (tieredCompaction)
              graft.operators.Similarity.tierCompactIvfIndex(spark,
                indexPath, excludeSegment = Some(seg))
            else
              graft.operators.Similarity.compactIvfIndex(spark, indexPath,
                excludeSegment = Some(seg))
          }
      } finally release()
    }
    drain(stream.writeStream.foreachBatch(step), ckpt,
      temp = checkpoint.isEmpty)
    prefix
  }

  /** Stream events into a date-partitioned parquet LAKE via Spark's
    * native file sink — the write-side steady state of
    * [[graft.io.GraftIO.writeTimePartitioned]]: the sink's
    * `_spark_metadata` commit log makes the append EXACTLY-ONCE (a
    * replayed batch's files are superseded in the log, and batch readers
    * consult the log for the committed file listing), and every committed
    * file lands under its UTC-day partition (the SAME integral day
    * arithmetic as the batch writer — [[graft.io.GraftIO.utcDay]] — so
    * [[graft.io.GraftIO.readTimeSlice]] prunes directories identically
    * over batch-written and stream-written layouts).
    *
    * Unlike the batch writer there is no per-day repartition or in-file
    * ts sort — a micro-batch's tasks each write a file per day they
    * hold, so the layout accretes small files; the production companion
    * is [[graft.io.GraftIO.compactTimePartitions]] on rotated (no longer
    * appended-to) day ranges — it converts the commit log honestly and
    * restores one sorted file per day, the same LSM posture as the dedup
    * index's segment compaction. Exercised end-to-end (sink → compact →
    * pruned slice) by the s06 oracle query. */
  def lakeSink(stream: DataFrame, tsNsCol: String, path: String,
      name: String, checkpoint: Option[String] = None): Unit = {
    // appending to an EXISTING lake requires the ORIGINAL checkpoint:
    // a fresh checkpoint restarts batchIds at 0 and FileStreamSink
    // consults the lake's _spark_metadata log, silently SKIPPING every
    // batch id at or below the log's latest commit — new data would be
    // dropped without an error. Refuse the combination loudly.
    if (checkpoint.isEmpty) {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(
        stream.sparkSession.sparkContext.hadoopConfiguration)
      require(!fs.exists(
        new org.apache.hadoop.fs.Path(root, "_spark_metadata")),
        s"$path already carries a lake commit log; resuming it needs " +
          "the run's original checkpoint (pass checkpoint = Some(...)) " +
          "— a fresh checkpoint's batch ids collide with the log and " +
          "new batches would be silently skipped")
    }
    val ckpt = checkpoint.getOrElse(checkpointDir(name).toString)
    drain(stream
      .withColumn("__pdate", graft.io.GraftIO.utcDay(tsNsCol))
      .writeStream
      .format("parquet")
      .option("path", path)
      .partitionBy("__pdate")
      .outputMode(OutputMode.Append()), ckpt, temp = checkpoint.isEmpty)
  }

  /** Stream micro-batches into an incrementally-maintained day ROLLUP
    * ([[graft.operators.Rollup]]) — the aggregate-side steady state next
    * to [[lakeSink]]'s raw-row lake: each batch folds to its per-(day,
    * keys) partials and lands under its own rollup segment, so the
    * dashboard-facing combined view ([[graft.operators.Rollup
    * .readRollup]]) is live within one trigger and history is never
    * re-aggregated.
    *
    * Exactly-once: the same contract as the index ingest loops — segment
    * id = SHA-256 checkpoint prefix + batchId, and
    * [[graft.operators.Rollup.appendRollup]]'s dynamic partition
    * overwrite makes a replayed batch REPLACE its previous (possibly
    * partial) attempt. Unlike the dedup loops there is no in-flight
    * exclusion to manage: a rollup batch reads nothing back from the
    * rollup. Compact rotated segments with [[graft.operators.Rollup
    * .compactRollup]] BETWEEN triggers (same live-ingest race note as
    * the index compactors). Returns the run's segment prefix. */
  def rollupSink(stream: DataFrame, tsNsCol: String, keyCols: Seq[String],
      valueCol: String, path: String, name: String,
      checkpoint: Option[String] = None): String = {
    val ckpt = checkpoint.getOrElse(checkpointDir(name).toString)
    val prefix = segmentPrefix(ckpt)
    val step: (DataFrame, Long) => Unit = (batchDf, batchId) =>
      graft.operators.Rollup.appendRollup(batchDf, tsNsCol, keyCols,
        valueCol, path, s"${prefix}_b$batchId")
    drain(stream.writeStream.foreachBatch(step), ckpt,
      temp = checkpoint.isEmpty)
    prefix
  }

  /** Stream keyed micro-batches INTO the manifested lake as MERGE
    * upserts ([[graft.io.Manifest.upsert]]) — the CDC steady state: after
    * every trigger the table holds exactly the LATEST version of each
    * key (later batches replace earlier ones; inserts just land). The
    * layout must exist (initialize with
    * [[graft.io.Manifest.writeWithManifest]], `keyCol` in `statsCols` —
    * the delete half prunes by its envelopes).
    *
    * Exactly-once: segment id = SHA-256 checkpoint prefix + batchId, and
    * [[graft.io.Manifest.upsert]] is idempotent under a fixed segment id
    * (its append dynamic-overwrites the batch's own segment; its delete
    * self-excludes it and re-runs as a no-op), so an at-least-once
    * replayed batch converges to the same table. Batches must hold ONE
    * row per key (the MERGE contract, pre-validated before anything
    * commits); pass `latestBy = Some(col)` to keep the max-`col` row per
    * key first when the source can emit several versions of a key in
    * one batch — that column must be unique per key within a batch (a
    * CDC sequence number), or which duplicate survives is
    * engine-arbitrary.
    *
    * Segments accrete per batch (the LSM posture shared by every
    * appender here); the DATA compaction companion is a periodic
    * wholesale [[graft.io.Manifest.writeWithManifest]] rewrite of the
    * table, run between triggers like every compactor in this engine.
    * The MANIFEST's own parts also accrete (two parts + one tombstone
    * per batch) and, unlike the data, can be folded cheaply in-line:
    * `compactEvery = n` runs [[graft.io.Manifest.compactManifest]] after
    * every n-th batch (inside foreachBatch — the sink IS the single
    * writer between triggers), keeping the manifest read a bounded
    * handful of parts in the steady state. The compaction segment id is
    * derived from the batch id, so a replayed batch re-folds under the
    * same label: the manifest's one part-commit rule writes the new
    * compact part beside the earlier attempt's and deletes that one only
    * afterwards, so a replay that crashes mid-fold never drops the folded
    * table, and the next replay converges on the same view. A batch part
    * replayed AFTER its rows were folded is also safe — the live view
    * dedups by file, and the delete step's self-exclusion matches DATA
    * paths, not part locations.
    * `retainFiles = true` keeps each batch's retired files for
    * [[graft.io.Manifest.manifestAsOf]] time travel; `keepHistory = n`
    * is the retention knob that stops `compactEvery` from collapsing the
    * whole history window as a side effect — each in-line compaction
    * leaves the newest n commits' parts unfolded (so the last n
    * mutations stay as-of addressable, plus the fold's own stamp as the
    * floor), and commits below the recorded floor are refused loudly by
    * [[graft.io.Manifest.manifestAsOf]]. The default 0 keeps the old
    * checkpoint-style behavior: compaction folds everything and only its
    * own stamp remains servable. */
  def upsertSink(stream: DataFrame, keyCol: String, path: String,
      name: String, latestBy: Option[String] = None,
      clusterCols: Seq[String] = Nil, targetFiles: Int = 0,
      compactEvery: Int = 0, retainFiles: Boolean = false,
      keepHistory: Int = 0,
      checkpoint: Option[String] = None): String = {
    val ckpt = checkpoint.getOrElse(checkpointDir(name).toString)
    val prefix = segmentPrefix(ckpt)
    val kc = graft.io.GraftIO.qcol(keyCol)
    val step: (DataFrame, Long) => Unit = (batchDf, batchId) => {
      val b = latestBy match {
        case Some(oc) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(kc).orderBy(graft.io.GraftIO.qcol(oc).desc)
          batchDf.withColumn("__up_rn", F.row_number().over(w))
            .filter(F.col("__up_rn") === 1).drop("__up_rn")
        case None => batchDf
      }
      graft.io.Manifest.upsert(b, path, keyCol,
        s"${prefix}_b$batchId", clusterCols, targetFiles,
        retainFiles = retainFiles)
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
        graft.io.Manifest.compactManifest(batchDf.sparkSession, path,
          s"${prefix}_c$batchId", keepLast = keepHistory)
      ()
    }
    drain(stream.writeStream.foreachBatch(step), ckpt,
      temp = checkpoint.isEmpty)
    prefix
  }

  /** Run one phase of an ingest trigger under the job description
    * "<stream's batch description>: <name>", so listeners (RunStats, the
    * SQL execution events) can tell a trigger's survivor write, index
    * append and fold apart. Only the description changes: the job group
    * is the stream's own, which Structured Streaming (cancellation) and
    * per-stream job attribution rely on. */
  private def phase[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Option(outer).fold(name)(o => s"$o: $name"))
    try body finally sc.setJobDescription(outer)
  }

  /** Truncated SHA-256 of the checkpoint path, not String.hashCode: a
    * 32-bit hash collision between two runs' checkpoints would make the
    * new run's seg b0 dynamic-overwrite (silently DELETE) the earlier
    * run's b0 survivors — the exact hazard the prefix exists to prevent.
    * 80 bits keeps birthday-collision odds negligible at any realistic
    * run count. Shared by both ingest streams. */
  private def segmentPrefix(ckpt: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(ckpt.getBytes("UTF-8")).take(10)
      .map(b => f"${b & 0xff}%02x").mkString

  /** Run `writer` over its bounded source on checkpoint `ckpt`: start,
    * process everything available, stop — stopped even when the query
    * fails. A `temp` checkpoint (one [[checkpointDir]] made because the
    * caller passed none) is deleted after the stop: nothing can resume
    * from it, and on tmpfs every leaked one holds RAM until reboot. Its
    * random name is never reused while it exists, and a reuse after the
    * delete is a 64-bit random draw, so the segment prefix it seeds
    * stays unique in practice. */
  private def drain(writer: DataStreamWriter[_], ckpt: String,
      temp: Boolean): Unit = {
    val q = writer.option("checkpointLocation", ckpt).start()
    try q.processAllAvailable()
    finally {
      try q.stop()
      finally if (temp)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  private def checkpointDir(name: String): java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite)
      java.nio.file.Files.createTempDirectory(shm.toPath, s"graft_ck_$name")
    else java.nio.file.Files.createTempDirectory(s"graft_ck_$name")
  }

  /** Drive a streaming query to completion against a bounded source and
    * return the materialized result — the local smoke-test harness
    * (memory sink + processAllAvailable). */
  def runToMemory(stream: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): DataFrame = {
    val spark = stream.sparkSession
    // memory-sink harness: checkpoint+state to tmpfs when the host has one.
    // A stateful batch's cost here is dominated by per-store fsync of delta
    // files (measured: a 2-batch stream-stream join spent 17s cumulative in
    // state commits on /tmp, ~0 on /dev/shm). A production sink would point
    // this at durable storage; the memory sink is already non-durable.
    drain(stream.writeStream.outputMode(mode).format("memory")
      .queryName(name), checkpointDir(name).toString, temp = true)
    spark.table(name)
  }
}
