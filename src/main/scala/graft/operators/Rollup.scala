package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** Incrementally-maintained day rollup — the materialized-aggregate twin
  * of the persisted dedup/ANN indexes' LSM story. A 100 TB events table
  * is re-aggregated by dashboards thousands of times; the rollup holds
  * per-(UTC day, keys) MERGEABLE partials (count / sum / min / max — all
  * associative, mean derivable) so a query touches kilobytes, and each
  * new batch costs one partial-aggregation of ITSELF, never a re-scan of
  * history.
  *
  * Layout: `seg=<segment>/__pdate=<day>/` parquet. Segments make batch
  * appends EXACTLY-ONCE under at-least-once drivers: a batch writes its
  * own partials under its own segment id via dynamic partition overwrite,
  * so a retried batch REPLACES its previous (possibly partial) attempt
  * instead of double-counting — the same contract
  * [[Dedup.appendToMinhashIndex]] and the streaming ingest loop pin.
  * The day partitioning makes day-banded reads directory-pruned across
  * all segments at once.
  *
  * Reads combine segments on the fly (sum-of-counts, sum-of-sums,
  * min-of-mins, max-of-maxes) — segment count only grows the tiny
  * partials scan, and [[compactRollup]] folds cold segments into `base`
  * with the whole-layout swap when file-count economics say so (see
  * SCALING.md's mh_segments / lake_compact studies for when that is).
  */
object Rollup {

  /** Per-(day, keys) mergeable partials of one input slice. The partial
    * column names (`n`/`nv`/`sum`/`min`/`max`), the layout columns
    * (`seg`/`__pdate`), and the read-side rename target (`day`) are the
    * rollup's OWN schema, and [[readRollup]] recovers the key columns as
    * "everything else" — so a key named like any of them would silently
    * corrupt the combine (or ambiguate the read). Refused loudly.
    * `n` counts ROWS; `nv` counts non-null values — the mean denominator
    * (`sum / nv`, the F.avg contract); they differ whenever the value
    * column has nulls. */
  private def partials(df: DataFrame, tsNsCol: String,
      keyCols: Seq[String], valueCol: String): DataFrame = {
    val reserved = Set("seg", "__pdate", "day", "n", "nv", "sum", "min",
      "max")
    val clash = keyCols.filter(reserved)
    require(clash.isEmpty,
      s"rollup key column(s) ${clash.mkString(", ")} collide with the " +
        "rollup's own schema (seg/__pdate/day/n/nv/sum/min/max) — rename " +
        "before rolling up")
    df.withColumn("__pdate", graft.io.GraftIO.utcDay(tsNsCol))
      .groupBy("__pdate", keyCols: _*)
      .agg(F.count(F.lit(1)).as("n"),
        F.count(F.col(valueCol)).as("nv"),
        F.sum(F.col(valueCol)).as("sum"),
        F.min(F.col(valueCol)).as("min"),
        F.max(F.col(valueCol)).as("max"))
  }

  /** Create/replace the rollup at `path` from a full history scan
    * (`seg=base`). */
  def buildRollup(df: DataFrame, tsNsCol: String, keyCols: Seq[String],
      valueCol: String, path: String): Unit =
    partials(df, tsNsCol, keyCols, valueCol)
      .withColumn("seg", F.lit("base"))
      .write.mode("overwrite").partitionBy("seg", "__pdate")
      .parquet(graft.io.GraftIO.resolveUrl(path))

  /** Merge one batch under its own segment id. Idempotent under retry:
    * dynamic partition overwrite replaces every (segment, day) partition
    * the batch produces, so a crashed half-write is healed, not added to.
    * Distinct batches MUST use distinct segment ids (reusing one silently
    * replaces the earlier batch's contribution — the same contract as the
    * index appenders; derive ids from the batch/epoch id, as the
    * streaming loop does). */
  def appendRollup(batch: DataFrame, tsNsCol: String, keyCols: Seq[String],
      valueCol: String, path: String, segment: String): Unit = {
    require(segment.nonEmpty && segment != "base",
      "segment id must be non-empty and not 'base'")
    partials(batch, tsNsCol, keyCols, valueCol)
      .withColumn("seg", F.lit(segment))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("seg", "__pdate")
      .parquet(graft.io.GraftIO.resolveUrl(path))
  }

  /** The combined rollup: one row per (day, keys) with `n`, `sum`, `min`,
    * `max` merged across segments. Day-band filters on `day` become
    * `__pdate` partition filters only if applied before this rename — use
    * `days` to push an inclusive date band into directory pruning. */
  def readRollup(spark: SparkSession, path: String,
      days: Option[(java.sql.Date, java.sql.Date)] = None): DataFrame = {
    var raw = spark.read.parquet(graft.io.GraftIO.resolveUrl(path))
    days.foreach { case (lo, hi) =>
      raw = raw.filter(F.col("__pdate").between(F.lit(lo), F.lit(hi))) }
    val keyCols = raw.columns.toSeq
      .filterNot(Set("seg", "__pdate", "n", "nv", "sum", "min", "max"))
    raw.groupBy("__pdate", keyCols: _*)
      .agg(F.sum("n").as("n"), F.sum("nv").as("nv"), F.sum("sum").as("sum"),
        F.min("min").as("min"), F.max("max").as("max"))
      .withColumnRenamed("__pdate", "day")
  }

  /** Fold all segments into `base` (pure layout maintenance — the
    * combined view is unchanged by construction). The fold is staged
    * complete at `<path>__compact` and committed by the whole-layout swap
    * ([[TierCompact.swapLayout]]), so readers see the old layout or the
    * new one; a directory at either sibling name that is not a crashed
    * stage/aside of this layout is refused, never deleted. Run it between
    * batches, never concurrently with an appender: a retried batch's
    * dynamic overwrite targets its own segment, which no longer exists
    * after folding. */
  def compactRollup(spark: SparkSession, path: String): Unit = {
    val url = graft.io.GraftIO.resolveUrl(path)
    val staged = TierCompact.stageDir(spark, url, "__compact")
    readRollup(spark, path)
      .withColumnRenamed("day", "__pdate")
      .withColumn("seg", F.lit("base"))
      .repartition(F.col("__pdate"))
      .write.partitionBy("seg", "__pdate")
      .parquet(staged) // materializes BEFORE the layout moves aside
    TierCompact.swapLayout(spark, url, staged, "compactRollup")
  }
}
