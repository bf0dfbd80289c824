package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import graft.exprs._
import graft.operators.{Dedup, Multimodal, Packing, Sampling, Similarity, TextAnalysis}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data-pipeline operators), each with an
  * equivalent DuckDB oracle in [[oracleSql]] where SQL can express it.
  *
  * Oracle-parity conventions used throughout:
  *  - every query is fully deterministically ordered (ORDER BY in both);
  *  - float aggregates are rounded on BOTH sides (double accumulation order
  *    differs between engines in the last ulps);
  *  - integer-ish derived outputs are cast to BIGINT on both sides.
  */
object SparkEntry {
  /** Shared time-fixture constants: one definition, referenced by every
    * lake/time query AND kept in lockstep with the oracle SQL TIMESTAMP
    * literals ('2024-01-10'). */
  private val DayNs = 86400L * 1000000000L
  private val Jan10Ns = 1704844800L * 1000000000L // 2024-01-10 00:00:00 UTC

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // ns-precision timestamps (events.ts) read as long ns-since-epoch —
    // Spark is µs-native (SURVEY §1.2 dtype table). The conf only fires on
    // TIMESTAMP(NANOS) files; µs-encoded writers arrive as (NTZ) timestamps
    // and are normalized to the same epoch-ns convention by TsNorm.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    TsNorm.normalizeTs(s.read.parquet(s"$dir/$name.parquet"),
      assertNsRange = true)
  }

  /** [[t]] with a time slice `[loNs, hiNs)` applied in the file's NATIVE
    * encoding before normalization ([[TsNorm.sliceNs]]) — the bound reaches
    * parquet PushedFilters / row-group pruning whatever the writer's
    * timestamp convention. The 100 TB posture for time-sliced scans. */
  private def tSliced(s: SparkSession, dir: String, name: String,
                      loNs: Long, hiNs: Long): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    TsNorm.normalizeTs(
      TsNorm.sliceNs(s.read.parquet(s"$dir/$name.parquet"), loNs, hiNs,
        assertNsRange = true),
      assertNsRange = true)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0. The
    * end-to-end ingest pipeline (d37: normalize → quality gate →
    * decontaminate → train split → chunk) — one plan through five
    * oracle-proven operators (737 chunk rows at sf0.001). */
  def entry(spark: SparkSession): DataFrame =
    queries("d37_pipeline")(spark, "/root/testdata/sf0.001")

  // ======== core relational surface (SURVEY §2.2-§2.5) ======================

  /** TPC-H-Q1-shaped: filter → grouped summarise → sort (SURVEY §7.2 proof
    * query). Exercises comparison filter, arithmetic, sum/mean/count. */
  private val q01: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "lineitem"))
      .filter { implicit c =>
        gcol("l_shipdate") <= glit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")) }
      .groupBy("l_returnflag", "l_linestatus")
      .summariseWith { implicit c => Seq(
        "sum_qty" -> sum(gcol("l_quantity")).round(4),
        "sum_base_price" -> sum(gcol("l_extendedprice")).round(4),
        "sum_disc_price" ->
          sum(gcol("l_extendedprice") * (glit(1.0) - gcol("l_discount"))).round(4),
        "avg_qty" -> mean(gcol("l_quantity")).round(6),
        "avg_disc" -> mean(gcol("l_discount")).round(6),
        "count_order" -> size) }
      .sortBy(Seq(F.col("l_returnflag"), F.col("l_linestatus")))
      .sdf

  /** select/mutate projection with arithmetic incl. quotient/remainder
    * (§2.2, §2.3). */
  private val q02: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "lineitem"))
      .mutateWith { implicit c => Seq(
        "revenue" -> ((gcol("l_extendedprice") * (glit(1.0) - gcol("l_discount"))).round(4)),
        "part_bucket" -> gcol("l_partkey").quotient(glit(100L)),
        "part_slot" -> gcol("l_partkey").remainder(glit(100L))) }
      .select("l_orderkey", "l_linenumber", "revenue", "part_bucket", "part_slot")
      .sortBy(Seq(F.col("l_orderkey"), F.col("l_linenumber")))
      .sdf

  /** filter: comparisons, boolean ops, membership, null tests (§2.3). */
  private val q03: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "lineitem"))
      .filter { implicit c =>
        gcol("l_returnflag").isIn(Seq("A", "R")) &&
        gcol("l_quantity") > glit(45.0) &&
        !(gcol("l_linestatus") === glit("O")) &&
        gcol("l_shipdate").isNotNil }
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      .sortBy(Seq(F.col("l_orderkey"), F.col("l_linenumber")))
      .sdf

  /** sort_by desc + head → TakeOrderedAndProject top-k (§2.4). */
  private val q04: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "lineitem"))
      .sortBy(Seq(F.col("l_extendedprice").desc, F.col("l_orderkey"),
        F.col("l_linenumber")))
      .head(100)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .sdf

  /** distinct on a subset (§2.4). */
  private val q05: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "lineitem"))
      .distinct(Seq("l_returnflag", "l_linestatus"))
      .sortBy(Seq(F.col("l_returnflag"), F.col("l_linestatus")))
      .sdf

  /** 3-way inner join star query: lineitem ⋈ orders ⋈ customer, revenue per
    * market segment. Dimensions are broadcast (§2.8 scale note). */
  private val q06: (SparkSession, String) => DataFrame = (s, dir) => {
    val li = Gdf(t(s, dir, "lineitem"))
    val ord = Gdf(t(s, dir, "orders"))
    val cust = Gdf(t(s, dir, "customer"))
    val j1 = Joins.join(li, ord, Seq("l_orderkey" -> "o_orderkey"), "inner")
    val j2 = Joins.join(j1, cust, Seq("o_custkey" -> "c_custkey"), "inner",
      broadcastRight = true)
    j2.groupBy("c_mktsegment")
      .summariseWith { implicit c => Seq(
        "revenue" ->
          sum(gcol("l_extendedprice") * (glit(1.0) - gcol("l_discount"))).round(4),
        "n_lineitems" -> size) }
      .sortBy(Seq(F.col("c_mktsegment")))
      .sdf
  }

  /** left join + grouped agg: order stats per customer incl. customers
    * without orders (§2.8). */
  private val q07: (SparkSession, String) => DataFrame = (s, dir) => {
    val cust = Gdf(t(s, dir, "customer"))
    val ord = Gdf(t(s, dir, "orders"))
    Joins.join(cust, ord, Seq("c_custkey" -> "o_custkey"), "left")
      .groupBy("c_custkey")
      .summariseWith { implicit c => Seq(
        "n_orders" -> count(gcol("o_orderkey")),
        "total_spent" -> sum(gcol("o_totalprice")).round(4).fillMissing(0.0)) }
      .sortBy(Seq(F.col("c_custkey")))
      .sdf
  }

  /** anti join: customers with no orders (§2.8, Spark-native extra). */
  private val q08: (SparkSession, String) => DataFrame = (s, dir) => {
    val cust = Gdf(t(s, dir, "customer"))
    val ord = Gdf(t(s, dir, "orders"))
    Joins.join(cust, ord, Seq("c_custkey" -> "o_custkey"), "anti")
      .select("c_custkey", "c_name")
      .sortBy(Seq(F.col("c_custkey")))
      .sdf
  }

  /** cross join: region × nation grid (§2.8). */
  private val q09: (SparkSession, String) => DataFrame = (s, dir) => {
    val r = Gdf(t(s, dir, "region")).select("r_name")
    val n = Gdf(t(s, dir, "nation")).select("n_name")
    Joins.join(r, n, Seq.empty[(String, String)], "cross")
      .sortBy(Seq(F.col("r_name"), F.col("n_name")))
      .sdf
  }

  // ======== window / positional (SURVEY §2.6) ================================

  /** cumulative sum per group over declared row order. */
  private val q10: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "orders"))
      .groupBy("o_custkey")
      .ordered(F.col("o_orderdate"), F.col("o_orderkey"))
      .mutateWith { implicit c => Seq(
        "running_spend" -> cumulativeSum(gcol("o_totalprice")).round(4),
        "order_seq" -> (Series(F.row_number().over(c.orderedWin)) - glit(1))) }
      .ungroup()
      .select("o_custkey", "o_orderkey", "order_seq", "running_spend")
      .sortBy(Seq(F.col("o_custkey"), F.col("o_orderkey")))
      .sdf

  /** rolling window mean/min/max (trailing 4 rows, min_periods=1). */
  private val q11: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "orders"))
      .groupBy("o_custkey")
      .ordered(F.col("o_orderdate"), F.col("o_orderkey"))
      .mutateWith { implicit c => Seq(
        "w_mean" -> windowMean(gcol("o_totalprice"), 4).round(4),
        "w_min" -> windowMin(gcol("o_totalprice"), 4),
        "w_max" -> windowMax(gcol("o_totalprice"), 4),
        "w_med" -> windowMedian(gcol("o_totalprice"), 4).round(4),
        "w_std" -> windowStandardDeviation(gcol("o_totalprice"), 4,
          minPeriods = 2).round(4)) }
      .ungroup()
      .select("o_custkey", "o_orderkey", "w_mean", "w_min", "w_max",
        "w_med", "w_std")
      .sortBy(Seq(F.col("o_custkey"), F.col("o_orderkey")))
      .sdf

  /** shift (lag/lead) per group (§2.6). */
  private val q12: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "orders"))
      .groupBy("o_custkey")
      .ordered(F.col("o_orderdate"), F.col("o_orderkey"))
      .mutateWith { implicit c => Seq(
        "prev_price" -> shift(gcol("o_totalprice"), 1),
        "next_price" -> shift(gcol("o_totalprice"), -1)) }
      .ungroup()
      .select("o_custkey", "o_orderkey", "prev_price", "next_price")
      .sortBy(Seq(F.col("o_custkey"), F.col("o_orderkey")))
      .sdf

  /** rank methods: min/dense/ordinal (§2.6 rank). */
  private val q13: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "customer"))
      .groupBy("c_mktsegment")
      .mutateWith { implicit c => Seq(
        "r_min" -> rank(gcol("c_acctbal"), "min", descending = true),
        "r_dense" -> rank(gcol("c_acctbal"), "dense", descending = true)) }
      .ungroup()
      .select("c_custkey", "c_mktsegment", "r_min", "r_dense")
      .sortBy(Seq(F.col("c_custkey")))
      .sdf

  // ======== aggregation statistics (SURVEY §2.5) =============================

  /** variance/stddev/median/quantile/min/max/n_distinct, exact
    * (interpolating) percentile for oracle parity. The distinct aggregate
    * runs as a separate pass joined back: mixing count_distinct with plain
    * aggregates makes Catalyst Expand every input row once per aggregate
    * family (measured 2.6× slower than two clean passes at sf0.1). */
  private val q14: (SparkSession, String) => DataFrame = (s, dir) => {
    val li = Gdf(t(s, dir, "lineitem"))
    val plain = li
      .groupBy("l_returnflag")
      .summariseWith { implicit c => Seq(
        "var_qty" -> variance(gcol("l_quantity")).round(6),
        "std_qty" -> standardDeviation(gcol("l_quantity")).round(6),
        "med_qty" -> median(gcol("l_quantity")).round(6),
        "q90_price" -> quantile(gcol("l_extendedprice"), 0.9).round(4),
        "min_qty" -> min(gcol("l_quantity")),
        "max_qty" -> max(gcol("l_quantity"))) }
    val distincts = li
      .groupBy("l_returnflag")
      .summariseWith { implicit c =>
        Seq("n_parts" -> nDistinct(gcol("l_partkey"))) }
    Joins.join(plain, distincts, Seq("l_returnflag" -> "l_returnflag"),
      "inner")
      .sortBy(Seq(F.col("l_returnflag")))
      .sdf
  }

  /** correlation + covariance (pearson, ddof=1) global agg (§2.5). */
  private val q15: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "lineitem"))
      .summariseWith { implicit c => Seq(
        "corr_qty_price" ->
          correlation(gcol("l_quantity"), gcol("l_extendedprice")).round(6),
        "cov_qty_price" ->
          covariance(gcol("l_quantity"), gcol("l_extendedprice")).round(4),
        "skew_price" -> skew(gcol("l_extendedprice")).round(6)) }
      .sdf

  // ======== reshaping (SURVEY §2.7) ==========================================

  /** pivot_wider: linestatus values → columns, first-agg semantics replaced
    * by sum for a deterministic oracle. */
  private val q16: (SparkSession, String) => DataFrame = (s, dir) => {
    val agg = Gdf(t(s, dir, "lineitem"))
      .groupBy("l_returnflag", "l_linestatus")
      .summariseWith { implicit c =>
        Seq("qty" -> sum(gcol("l_quantity")).round(4)) }
    Reshape.pivotWider(agg, "l_linestatus", "qty", namesValues = Seq("F", "O", "P"))
      .sortBy(Seq(F.col("l_returnflag")))
      .sdf
  }

  /** pivot_longer: wide numeric columns → (variable, value) long form. */
  private val q17: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = Gdf(t(s, dir, "lineitem"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    Reshape.pivotLonger(base, Seq("l_quantity", "l_extendedprice"))
      .sortBy(Seq(F.col("l_orderkey"), F.col("l_linenumber"), F.col("variable")))
      .sdf
  }

  /** explode: split document text into words → word frequencies (§2.7). */
  private val q18: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = Gdf(t(s, dir, "documents"))
      .mutateCol("word", F.split(F.col("text"), " "))
    Reshape.explode(docs, Seq("word"))
      .groupBy("word")
      .summariseWith { implicit c => Seq("n" -> size) }
      .sortBy(Seq(F.col("n").desc, F.col("word")))
      .head(50)
      .sdf
  }

  /** unnest: struct column → fields (§2.7); struct built via split_into. */
  private val q19: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = Gdf(t(s, dir, "documents"))
      .mutateCol("parts", StringFns.splitInto(F.col("source"), "rc", Seq("s", "num")))
    Reshape.unnest(docs, "parts")
      .select("doc_id", "s", "num")
      .sortBy(Seq(F.col("doc_id")))
      .sdf
  }

  /** dummies: one-hot encode order priority (§2.7). */
  private val q20: (SparkSession, String) => DataFrame = (s, dir) => {
    val vals = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    Reshape.dummies(Gdf(t(s, dir, "orders")), "o_orderpriority", vals)
      .select("o_orderkey" +: vals.map(v => s"o_orderpriority_$v"): _*)
      .sortBy(Seq(F.col("o_orderkey")))
      .sdf
  }

  // ======== strings / temporal (SURVEY §2.3) =================================

  /** string function battery: case, trim, substring, replace, contains,
    * concat/format (§2.3 strings). */
  private val q21: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "part"))
      .mutateWith { implicit c => Seq(
        "name_up" -> Series(F.upper(F.col("p_name"))),
        "name_low" -> Series(F.lower(F.col("p_brand"))),
        "name_sub" -> Series(StringFns.substring(F.col("p_name"), 0, Some(5))),
        "name_repl" -> Series(F.regexp_replace(F.col("p_name"), "a", "@")),
        "has_steel" -> Series(F.col("p_type").contains("STEEL") ||
          F.col("p_name").contains("steel")),
        "label" -> Series(StringFns.format(Seq(F.col("p_brand"), F.lit("#"),
          F.col("p_partkey").cast("string")))) ) }
      .select("p_partkey", "name_up", "name_low", "name_sub", "name_repl",
        "has_steel", "label")
      .sortBy(Seq(F.col("p_partkey")))
      .sdf

  /** regex battery: re_contains, re_count_matches, re_scan-first (§2.3). */
  private val q22: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "documents"))
      .mutateWith { implicit c => Seq(
        "has_data" -> Series(F.col("text").rlike("data")),
        "n_vowel_runs" -> Series(StringFns.reCountMatches(F.col("text"), "[aeiou]+")),
        "first_word_s" -> Series(F.regexp_extract(F.col("text"), "\\b(s[a-z]+)", 1))) }
      .select("doc_id", "has_data", "n_vowel_runs", "first_word_s")
      .sortBy(Seq(F.col("doc_id")))
      .sdf

  /** temporal extractor battery with Explorer conventions (Mon=1 weekday;
    * ISO week) (§2.3 temporal). */
  private val q23: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "orders"))
      .mutateWith { implicit c => Seq(
        "y" -> Series(TemporalFns.year(F.col("o_orderdate")).cast("long")),
        "m" -> Series(TemporalFns.month(F.col("o_orderdate")).cast("long")),
        "d" -> Series(TemporalFns.dayOfMonth(F.col("o_orderdate")).cast("long")),
        "dow" -> Series(TemporalFns.dayOfWeek(F.col("o_orderdate")).cast("long")),
        "doy" -> Series(TemporalFns.dayOfYear(F.col("o_orderdate")).cast("long")),
        "week" -> Series(TemporalFns.weekOfYear(F.col("o_orderdate")).cast("long")),
        "qtr" -> Series(TemporalFns.quarterOfYear(F.col("o_orderdate")).cast("long"))) }
      .select("o_orderkey", "y", "m", "d", "dow", "doy", "week", "qtr")
      .sortBy(Seq(F.col("o_orderkey")))
      .sdf

  /** strftime/strptime round trip through the chrono-dialect translator
    * (§2.3 casting; SURVEY §7.3). */
  private val q24: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "orders"))
      .mutateWith { implicit c => Seq(
        "date_str" -> Series(StringFns.strftime(F.col("o_orderdate"), "%Y-%m-%d")),
        "reparsed" -> Series(F.to_date(
          StringFns.strptime(StringFns.strftime(F.col("o_orderdate"), "%Y-%m-%d"),
            "%Y-%m-%d")))) }
      .select("o_orderkey", "date_str", "reparsed")
      .sortBy(Seq(F.col("o_orderkey")))
      .sdf

  /** conditional (when/otherwise = reference `select/3`), coalesce,
    * fill_missing value + mean strategies (§2.3 null handling). */
  private val q25: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "events"))
      .mutateWith { implicit c =>
        val v = Series(F.nullif(F.col("value"), F.lit(0.0)))
        Seq(
          "bucket" -> iff(gcol("value") >= glit(50.0), glit("high"),
            iff(gcol("value") >= glit(10.0), glit("mid"), glit("low"))),
          "v_filled" -> v.fillMissing(-1.0),
          "v_mean_fill" -> fillMissingStrategy(v, "mean").round(6)) }
      .select("event_id", "bucket", "v_filled", "v_mean_fill")
      .sortBy(Seq(F.col("event_id")))
      .sdf

  // ======== as-of join (SURVEY §2.8) =========================================

  /** join_asof backward with `by` pre-grouping: each click matched to the
    * user's most recent error event. DuckDB ASOF JOIN is the oracle. */
  private val q26: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = t(s, dir, "events")
    val clicks = Gdf(ev.filter(F.col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value"))
    val errors = Gdf(ev.filter(F.col("event_type") === "error")
      .select(F.col("user_id"), F.col("ts"),
        F.col("value").as("error_value")))
    Joins.joinAsof(clicks, errors, "ts", "ts", by = Seq("user_id"),
      strategy = "backward")
      .select("event_id", "user_id", "error_value")
      .sortBy(Seq(F.col("event_id")))
      .sdf
  }

  // ======== concat / set ops (SURVEY §2.4) ===================================

  /** concat_rows with column reconciliation (union of customer + supplier
    * directories). */
  private val q27: (SparkSession, String) => DataFrame = (s, dir) => {
    val c = Gdf(t(s, dir, "customer"))
      .select("c_name", "c_acctbal")
      .rename("c_name" -> "name", "c_acctbal" -> "acctbal")
      .mutateCol("kind", F.lit("customer"))
    val su = Gdf(t(s, dir, "supplier"))
      .select("s_name", "s_acctbal")
      .rename("s_name" -> "name", "s_acctbal" -> "acctbal")
      .mutateCol("kind", F.lit("supplier"))
    Reshape.concatRows(Seq(c, su))
      .sortBy(Seq(F.col("kind"), F.col("name")))
      .sdf
  }

  /** slice (offset, len) over a declared total order (§2.2 positional). */
  private val q28: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "customer"))
      .ordered(F.col("c_acctbal").desc, F.col("c_custkey"))
      .slice(10, 20)
      .select("c_custkey", "c_acctbal")
      .sortBy(Seq(F.col("c_custkey")))
      .sdf

  /** frequencies + distinct-count composition (§2.5 frequencies). */
  private val q29: (SparkSession, String) => DataFrame = (s, dir) =>
    Stats.frequencies(Gdf(t(s, dir, "orders")), Seq("o_orderpriority")).sdf

  /** cut: fixed-break binning + per-bin stats (§2.6 cut). */
  private val q30: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "lineitem"))
      .mutateCol("qty_bin",
        Stats.cut(F.col("l_quantity"), Seq(10.0, 25.0, 40.0)))
      .groupBy("qty_bin")
      .summariseWith { implicit c => Seq(
        "n" -> size, "avg_price" -> mean(gcol("l_extendedprice")).round(4)) }
      .sortBy(Seq(F.col("qty_bin")))
      .sdf

  /** ewm_mean via the scalable one-pass scan ([[Ewm]], rows-only check) AND
    * the expression path (exact oracle) side by side (§2.6 ewm). */
  private val q31: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = t(s, dir, "orders")
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val scan = Ewm.ewmMean(base, Seq("o_custkey"),
      Seq(F.col("o_orderdate"), F.col("o_orderkey")), "o_totalprice",
      alpha = 0.5, out = "ewm_scan")
    Gdf(scan)
      .groupBy("o_custkey")
      .ordered(F.col("o_orderdate"), F.col("o_orderkey"))
      .mutateWith { implicit c => Seq(
        "__expr" -> ewmMeanExpr(gcol("o_totalprice"), 0.5)) }
      .ungroup()
      // the O(n) scan path and the O(n²) expression path must agree — any
      // divergence drops rows here and fails the oracle's row-count check
      .filterCol(F.abs(F.col("ewm_scan") - F.col("__expr")) <=
        F.greatest(F.abs(F.col("__expr")) * 1e-9, F.lit(1e-9)))
      .mutateCol("ewm_mean", F.round(F.col("__expr"), 4))
      .select("o_custkey", "o_orderkey", "ewm_mean")
      .sortBy(Seq(F.col("o_custkey"), F.col("o_orderkey")))
      .sdf
  }

  /** forward/backward fill over row order per group (§2.3 null handling). */
  private val q32: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "events"))
      .mutateCol("v", F.when(F.col("value") >= 10.0, F.col("value")))
      .groupBy("user_id")
      .ordered(F.col("ts"), F.col("event_id"))
      .mutateWith { implicit c => Seq(
        "v_ffill" -> fillMissingStrategy(gcol("v"), "forward"),
        "v_bfill" -> fillMissingStrategy(gcol("v"), "backward")) }
      .ungroup()
      .select("event_id", "user_id", "v_ffill", "v_bfill")
      .sortBy(Seq(F.col("event_id")))
      .sdf

  /** deterministic grouped mode (smallest modal value) (§2.5 mode). */
  private val q33: (SparkSession, String) => DataFrame = (s, dir) =>
    Stats.modeBy(Gdf(t(s, dir, "lineitem")), Seq("l_returnflag"),
      "l_quantity", out = "mode_qty")
      .sortBy(Seq(F.col("l_returnflag")))
      .sdf

  /** argmin/argmax (§2.5): order key of the extreme price per priority. */
  private val q34: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "orders"))
      .groupBy("o_orderpriority")
      .summariseWith { implicit c => Seq(
        "cheapest_order" -> argmin(gcol("o_orderkey"), gcol("o_totalprice")),
        "priciest_order" -> argmax(gcol("o_orderkey"), gcol("o_totalprice"))) }
      .sortBy(Seq(F.col("o_orderpriority")))
      .sdf

  /** product + cumulative product per group (§2.5, §2.6). */
  private val q35: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "lineitem"))
      .groupBy("l_orderkey")
      .summariseWith { implicit c => Seq(
        "tax_factor" -> product(gcol("l_tax") + glit(1.0)).round(6)) }
      .sortBy(Seq(F.col("l_orderkey")))
      .sdf

  /** json_path_match / json_decode over the events props column (§2.3). */
  private val q36: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "events"))
      .mutateWith { implicit c => Seq(
        "k" -> Series(F.get_json_object(F.col("props"), "$.k")
          .cast(org.apache.spark.sql.types.LongType)),
        "k_decoded" -> Series(F.from_json(F.col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k"))) }
      .select("event_id", "k", "k_decoded")
      .sortBy(Seq(F.col("event_id")))
      .sdf

  /** list ops: lengths / member? / join / first element (§2.9). */
  private val q37: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "documents"))
      .mutateCol("words", F.split(F.col("text"), " "))
      .mutateWith { implicit c => Seq(
        "n_words" -> Series(F.size(F.col("words")).cast(
          org.apache.spark.sql.types.LongType)),
        "has_the" -> Series(F.array_contains(F.col("words"), "the")),
        "first3" -> Series(F.array_join(F.slice(F.col("words"), 1, 3), "-"))) }
      .select("doc_id", "n_words", "has_the", "first3")
      .sortBy(Seq(F.col("doc_id")))
      .sdf

  /** peaks (local extrema) + row_index over event time per user (§2.6). */
  private val q38: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "events"))
      .groupBy("user_id")
      .ordered(F.col("ts"), F.col("event_id"))
      .mutateWith { implicit c => Seq(
        "is_peak" -> peaks(gcol("value"), "max"),
        "idx" -> Series((F.row_number().over(c.orderedWin) - 1).cast(
          org.apache.spark.sql.types.LongType))) }
      .ungroup()
      .select("event_id", "user_id", "idx", "is_peak")
      .sortBy(Seq(F.col("event_id")))
      .sdf

  /** grouped head (first n per group over declared order) (§2.2). */
  private val q39: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "orders"))
      .groupBy("o_custkey")
      .ordered(F.col("o_orderdate"), F.col("o_orderkey"))
      .head(2)
      .ungroup()
      .select("o_custkey", "o_orderkey", "o_orderdate")
      .sortBy(Seq(F.col("o_custkey"), F.col("o_orderkey")))
      .sdf

  /** describe: per-column stats in long form (§2.5 describe). */
  private val q40: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = Gdf(t(s, dir, "lineitem")).select("l_quantity", "l_discount")
    Stats.describe(base)
      .mutateCol("value", F.round(F.col("value"), 4))
      .sortBy(Seq(F.col("column"), F.col("statistic")))
      .sdf
  }

  /** nil_count per column (§2.5). */
  private val q41: (SparkSession, String) => DataFrame = (s, dir) =>
    Stats.nilCount(Gdf(t(s, dir, "events"))
      .mutateCol("value", F.when(F.col("value") >= 10.0, F.col("value")))
      .mutateCol("event_type", F.nullif(F.col("event_type"), F.lit("error")))
      .select("event_id", "event_type", "value"))
      .sdf

  /** spearman rank correlation (§2.5 correlation method=:spearman). */
  private val q42: (SparkSession, String) => DataFrame = (s, dir) =>
    Stats.spearman(Gdf(t(s, dir, "lineitem")), "l_quantity", "l_extendedprice")
      .sdf.withColumn("spearman", F.round(F.col("spearman"), 6))

  /** qcut: quartile binning of order totals + per-bin counts (§2.6 qcut).
    * Breaks rounded to 4dp on both sides so the bin edges are
    * engine-identical. */
  private val q43: (SparkSession, String) => DataFrame = (s, dir) => {
    val df = Gdf(t(s, dir, "orders"))
    val row = df.sdf.agg(
      F.round(F.percentile(F.col("o_totalprice"), F.lit(0.25)), 4).as("q1"),
      F.round(F.percentile(F.col("o_totalprice"), F.lit(0.5)), 4).as("q2"),
      F.round(F.percentile(F.col("o_totalprice"), F.lit(0.75)), 4).as("q3")).head()
    val breaks = Seq(row.getDouble(0), row.getDouble(1), row.getDouble(2))
    df.mutateCol("bin", Stats.cut(F.col("o_totalprice"), breaks,
      Seq("q1", "q2", "q3", "q4")))
      .groupBy("bin")
      .summariseWith { implicit c => Seq("n" -> size) }
      .sortBy(Seq(F.col("bin")))
      .sdf
  }

  /** concat_columns: horizontal zip of two ordered frames (§2.4). */
  private val q44: (SparkSession, String) => DataFrame = (s, dir) => {
    val names = Gdf(t(s, dir, "customer")).select("c_custkey", "c_name")
      .ordered(F.col("c_custkey"))
    val bals = Gdf(t(s, dir, "customer")
      .select(F.col("c_acctbal"), F.col("c_custkey").as("__tiebreak")))
      .ordered(F.col("c_acctbal"), F.col("__tiebreak"))
    Reshape.concatColumns(Seq(names, bals))
      .rename("c_acctbal" -> "bal_sorted")
      .discard("__tiebreak")
      .sortBy(Seq(F.col("c_custkey")))
      .sdf
  }

  /** categories/categorise: dictionary of distinct values with stable codes
    * (§1.2 category dtype). */
  private val q45: (SparkSession, String) => DataFrame = (s, dir) => {
    val cats = Gdf(t(s, dir, "customer"))
      .distinct(Seq("c_mktsegment"))
      .sortBy(Seq(F.col("c_mktsegment")))
    Gdf(cats.sdf.withColumn("code",
      (F.row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("c_mktsegment")) - 1).cast(
          org.apache.spark.sql.types.LongType)))
      .sortBy(Seq(F.col("c_mktsegment")))
      .sdf
  }

  /** exact-n sample + shuffle (§2.2 sample) — seeded, rows-only check. */
  private val q46: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "customer"))
      .sampleN(100, seed = 42L)
      .select("c_custkey", "c_name")
      .sdf

  /** SQL passthrough (§2.12): raw Spark SQL against the frame registered as
    * a temp view — strictly stronger than the reference's Polars SQL. */
  private val q47: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "customer"))
      .sql("""SELECT c_mktsegment, count(*) AS n,
              round(avg(c_acctbal), 4) AS avg_bal
              FROM customers GROUP BY c_mktsegment ORDER BY c_mktsegment""",
        tableName = "customers")
      .sdf

  /** Duration arithmetic (§1.2 duration dtype): datetime − datetime, as
    * day and second magnitudes (parquet has no interval type, so durations
    * are exported as their numeric magnitudes). */
  private val q48: (SparkSession, String) => DataFrame = (s, dir) => {
    val li = Gdf(t(s, dir, "lineitem"))
    val ord = Gdf(t(s, dir, "orders"))
    import org.apache.spark.sql.types.{LongType, TimestampType}
    Joins.join(li, ord, Seq("l_orderkey" -> "o_orderkey"), "inner")
      .mutateWith { implicit c => Seq(
        "delay_days" -> Series(F.datediff(F.col("l_shipdate"),
          F.col("o_orderdate")).cast(LongType)),
        "delay_secs" -> Series(
          (F.unix_micros(F.col("l_shipdate").cast(TimestampType)) -
            F.unix_micros(F.col("o_orderdate").cast(TimestampType))) / 1000000L)) }
      .select("l_orderkey", "l_linenumber", "delay_days", "delay_secs")
      .sortBy(Seq(F.col("l_orderkey"), F.col("l_linenumber")))
      .sdf
  }

  /** strip/lstrip/rstrip with char sets + the transformRows escape hatch
    * (§2.3 strings, §2.11 UDF): host-code row transform over partitions. */
  private val q49: (SparkSession, String) => DataFrame = (s, dir) => {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val base = Gdf(t(s, dir, "part"))
      .mutateWith { implicit c => Seq(
        "brand_trim" -> Series(StringFns.strip(F.col("p_brand"), Some("B#"))),
        "name_r" -> Series(StringFns.rstrip(F.col("p_name"), Some("aeiou")))) }
      .select("p_partkey", "brand_trim", "name_r")
    val outSchema = StructType(Seq(
      StructField("p_partkey", LongType), StructField("brand_trim", StringType),
      StructField("name_r", StringType), StructField("tag", StringType)))
    base.transformRows(outSchema)(rows => rows.map(r =>
      org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2),
        s"${r.getAs[String](1)}:${r.getAs[Long](0) % 7}")))
      .sortBy(Seq(F.col("p_partkey")))
      .sdf
  }

  /** Decimal dtype (§1.2): exact fixed-point aggregation AND arithmetic —
    * precision-promoted products summed digit-for-digit vs DuckDB, plus
    * overflow-to-null (try_multiply past 38 digits nulls instead of
    * erroring; the oracle pins the count). */
  private val q50: (SparkSession, String) => DataFrame = (s, dir) => {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}
    Gdf(t(s, dir, "lineitem"))
      .mutateCol("price_dec", F.col("l_extendedprice").cast(DecimalType(12, 2)))
      .mutateCol("qty_dec", F.col("l_quantity").cast(DecimalType(10, 2)))
      // (12,2) × (10,2) → precision-promoted (23,4) product; the values fit
      // 18 digits, so cast back down to keep the sum on long-backed decimals
      .mutateCol("gross",
        (F.col("price_dec") * F.col("qty_dec")).cast(DecimalType(18, 4)))
      // overflow-to-null: a guaranteed 38-digit overflow (6-digit price ×
      // 10^36) nulls under try_multiply. Confined to 1/1000 of rows — the
      // JVM throws/catches per overflowing row, so overflow-everywhere
      // costs seconds of pure exception handling for the same proof
      .mutateCol("overflow", F.when(F.col("l_orderkey") % 1000 === 0,
        F.try_multiply(F.col("price_dec").cast(DecimalType(38, 0)),
          F.lit(new java.math.BigDecimal("1" + "0" * 36))))
        .otherwise(F.col("price_dec").cast(DecimalType(38, 0))))
      .groupBy("l_returnflag")
      // result rendering is pinned on BOTH sides (r3 verdict: Spark's
      // DECIMAL(22,2) vs DuckDB's DECIMAL(38,2)/HUGEINT render differently
      // through the driver's pandas hash): the exact sums go out as STRINGS
      // of an explicit-scale decimal — digit-for-digit compare, no float
      // repr in the loop — and the avg as a double rounded at 6, computed
      // sum/count the same way on both engines (Spark's decimal avg rounds
      // HALF_UP at scale 6; DuckDB's avg is a double — pinning the
      // division to double on both sides removes the rule mismatch)
      .summariseWith { implicit c => Seq(
        "sum_dec" -> Series(F.sum(F.col("price_dec"))
          .cast(DecimalType(38, 2)).cast(StringType), isAgg = true),
        "avg_dec" -> Series(F.round(
          F.sum(F.col("price_dec")).cast(DoubleType) / F.count(F.lit(1)), 6),
          isAgg = true),
        "sum_gross" -> Series(F.sum(F.col("gross"))
          .cast(DecimalType(38, 4)).cast(StringType), isAgg = true),
        "n_overflow_null" -> Series(
          F.count_if(F.col("overflow").isNull), isAgg = true)) }
      .sortBy(Seq(F.col("l_returnflag")))
      .sdf
  }

  /** Sort over a NULLABLE key with Explorer's nils-last default (§2.2 sort,
    * reference data_frame.ex:3468-3617): with ~half the values null, the
    * top-k after the sort only contains non-null rows iff nils really go
    * last in DESC order too — the oracle's NULLS LAST makes the placement
    * observable through the row-order-insensitive hash compare. */
  private val q51: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "events"))
      .mutateCol("v", F.when(F.col("value") >= 10.0, F.col("value")))
      .sortBy(Seq(F.col("v").desc, F.col("event_id")))
      .head(200)
      .select("event_id", "v")
      .sdf

  /** Full cut frame shape (§2.6 cut; series.rs:205-243): values/break_point/
    * category over a NULLABLE input — proves null→null binning (a null used
    * to fall through the when-chain into the top bin) and the Inf top-bin
    * break point. */
  private val q52: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = Gdf(t(s, dir, "events"))
      .mutateCol("v", F.when(F.col("value") >= 10.0, F.col("value")))
    Stats.cutFrame(ev, "v", Seq(25.0, 50.0, 75.0), includeBreaks = true)
      .groupBy("category")
      .summariseWith { implicit c => Seq(
        "n" -> size,
        "bp" -> Series(F.max(F.col("break_point")), isAgg = true)) }
      .sortBy(Seq(F.col("category")))
      .sdf
  }

  /** Structured Streaming: event-time hourly windowed counts with watermark,
    * run to completion on the bounded file source and compared against the
    * equivalent batch aggregation oracle (beyond-reference, SURVEY §7.2/8). */
  private val s01: (SparkSession, String) => DataFrame = (s, dir) => {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a stateful query materializes state stores per shuffle partition for
    // its whole lifetime, and each store COMMIT carries a large fixed cost
    // (measured ~0.5s/store/batch: 32 partitions put 147s cumulative commit
    // time on a 2-batch join; 2 partitions, 1.4s). At harness SF the state
    // fits 2 partitions easily; a production run sizes this to state
    // volume, not to the compute default.
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    val mem = try {
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = TsNorm.normalizeTs(streaming.Streams.readParquetStream(
        s, dir, schema, maxFilesPerTrigger = 1,
        globFilter = Some("events.parquet")), assertNsRange = true)
        .withColumn("evt_ts", F.timestamp_micros(F.expr("ts DIV 1000")))
      val agg = streaming.Streams.windowedCounts(
        stream, "evt_ts", "2 hours", "1 hour", Seq("event_type"))
      streaming.Streams.runToMemory(agg, s"s01_win_${dir.hashCode.abs}",
        org.apache.spark.sql.streaming.OutputMode.Complete())
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    mem.select(F.col("window.start").as("hour_start"), F.col("event_type"),
        F.col("n"), F.round(F.col("total_value"), 4).as("total_value"))
      .orderBy("hour_start", "event_type")
  }

  /** Streaming sessionization (session_window, 30-minute gap, per user)
    * checked against a BATCH gaps-and-islands oracle in DuckDB — same
    * session boundaries (new session when the inter-event gap ≥ the window
    * gap), same per-session counts and sums. Complete output mode: every
    * closed-over session is in the final state, so no watermark truncation
    * at the tail of the bounded replay. */
  private val s02: (SparkSession, String) => DataFrame = (s, dir) => {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    val mem = try {
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = TsNorm.normalizeTs(streaming.Streams.readParquetStream(
        s, dir, schema, maxFilesPerTrigger = 1,
        globFilter = Some("events.parquet")), assertNsRange = true)
        .withColumn("evt_ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        .filter(F.col("user_id").isNotNull)
      val sess = streaming.Streams.sessionize(
        stream, "evt_ts", "2 hours", "30 minutes", Seq("user_id"))
      streaming.Streams.runToMemory(sess, s"s02_sess_${dir.hashCode.abs}",
        org.apache.spark.sql.streaming.OutputMode.Complete())
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    mem.select(F.col("user_id"),
        F.col("session_window.start").as("session_start"),
        F.col("n_events"), F.round(F.col("total_value"), 4).as("total_value"))
      .orderBy("user_id", "session_start")
  }

  // ======== training-data pipeline operators =================================

  /** exact dedup on text hash — keep lowest doc_id per distinct text. */
  private val d01: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    Gdf(Dedup.exact(docs, F.col("text"), F.col("doc_id")))
      .select("doc_id", "n_chars")
      .sortBy(Seq(F.col("doc_id")))
      .sdf
  }

  /** token count + subword estimate + fingerprint (text analysis). */
  private val d02: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "documents"))
      .mutateWith { implicit c => Seq(
        "n_tokens" -> Series(TextAnalysis.tokenCount(F.col("text"))),
        "n_subwords" -> Series(TextAnalysis.subwordCount(F.col("text")))) }
      .select("doc_id", "n_tokens", "n_subwords")
      .sortBy(Seq(F.col("doc_id")))
      .sdf

  /** language-ID heuristic + quality score (text analysis). */
  private val d03: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "documents"))
      .mutateWith { implicit c => Seq(
        "lang_guess" -> Series(TextAnalysis.langId(F.col("text"))),
        "stop_ratio" -> Series(F.round(TextAnalysis.stopwordRatio(F.col("text")), 6))) }
      .select("doc_id", "lang_guess", "stop_ratio")
      .sortBy(Seq(F.col("doc_id")))
      .sdf

  /** brute-force cosine top-k similarity search (oracle:
    * DuckDB list_cosine_similarity). */
  private val d04: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(F.col("vec_id") < 5)
    Similarity.bruteForceTopK(
      emb.filter(F.col("vec_id") >= 5), F.col("vec_id"), F.col("embedding"),
      queries, F.col("vec_id"), F.col("embedding"), k = 5)
      .withColumn("cosine", F.round(F.col("cosine"), 6))
      .orderBy("query_id", "rank")
  }

  /** MinHash+LSH near-dup candidates, Jaccard-verified (rows-only check —
    * not SQL-expressible in the oracle). */
  private val d05: (SparkSession, String) => DataFrame = (s, dir) =>
    // 8 bands × 8 rows: P(candidate) ≈ 1 for the planted J≈0.99 near-dups,
    // ~2.6e-6 for unrelated J≈0.2 pairs — candidate set stays tiny at scale
    Dedup.minhashDuplicatePairs(t(s, dir, "documents"),
      F.col("doc_id"), F.col("text"), threshold = 0.8,
      shingleSize = 3, numHashes = 64, bands = 8)
      .withColumn("jaccard", F.round(F.col("jaccard"), 4))
      .orderBy("id_a", "id_b")

  /** SimHash signatures (rows-only check). */
  private val d06: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.simhash(t(s, dir, "documents"), F.col("doc_id"), F.col("text"))
      .orderBy("id")

  /** n-gram Jaccard near-dup pairs via inverted index (rows-only). */
  private val d07: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.ngramJaccardPairs(t(s, dir, "documents"),
      F.col("doc_id"), F.col("text"), shingleSize = 3, threshold = 0.8)
      .withColumn("jaccard", F.round(F.col("jaccard"), 4))
      .orderBy("id_a", "id_b")

  /** SimHash near-dup pairs via 16-bit band LSH (rows-only). */
  private val d08: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.simhashDuplicatePairs(t(s, dir, "documents"),
      F.col("doc_id"), F.col("text"), maxDistance = 6)
      .orderBy("id_a", "id_b")

  /** LSH-bucketed approximate top-k similarity search (rows-only; recall
    * vs. the exact [[d04]] is spec-tested). */
  private val d09: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopK(
      emb.filter(F.col("vec_id") >= 5), F.col("vec_id"), F.col("embedding"),
      emb.filter(F.col("vec_id") < 5), F.col("vec_id"), F.col("embedding"),
      k = 5, planes = 8, bands = 4)
      .withColumn("cosine", F.round(F.col("cosine"), 6))
      .orderBy("query_id", "rank")
  }

  /** Gopher/C4-style quality score (oracle: same formula in SQL — all
    * components are integer-count divisions, so doubles are bit-identical). */
  private val d10: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "documents"))
      .mutateWith { implicit c => Seq(
        "quality" -> Series(TextAnalysis.qualityScore(F.col("text")))) }
      .select("doc_id", "quality")
      .sortBy(Seq(F.col("doc_id")))
      .sdf

  /** order-sensitive xxhash document fingerprint (rows-only — the hash
    * family has no SQL twin). */
  private val d12: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "documents"))
      .mutateWith { implicit c => Seq(
        "fp" -> Series(TextAnalysis.fingerprint(F.col("text")))) }
      .select("doc_id", "fp")
      .sortBy(Seq(F.col("doc_id")))
      .sdf

  /** embedding-cosine near-dup pairs via BANDED hyperplane LSH + exact
    * verification, oracle-checked against brute-force all-pairs cosine in
    * DuckDB. The corpus is augmented with ×2-scaled copies of the first 100
    * vectors: scaling preserves direction exactly (×2 is exact in float AND
    * commutes with double rounding), so every (original, copy) pair has the
    * full 64-bit signature identical — LSH recall is provably 1 for them —
    * while the natural corpus (max pairwise cosine ≈ 0.51) pressures
    * precision through the exact cosine filter. */
  private val d13: (SparkSession, String) => DataFrame = (s, dir) => {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    val aug = e.unionAll(e.filter(F.col("vec_id") < 100).select(
      (F.col("vec_id") + 10000000L).as("vec_id"),
      F.transform(F.col("embedding"), x => x * F.lit(2.0f)).as("embedding")))
    Dedup.embeddingDuplicatePairs(aug, F.col("vec_id"), F.col("embedding"),
        threshold = 0.999, planes = 64, bands = 4)
      .select(F.col("id_a"), F.col("id_b"),
        F.round(F.col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** Stream-stream interval join (funnel: view → purchase by the same user
    * within 24h) checked against the equivalent batch join in DuckDB. Inner
    * join in append mode emits exactly the matched pairs; watermarks + the
    * range bound keep the join state finite. */
  private val s03: (SparkSession, String) => DataFrame = (s, dir) => {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    val mem = try {
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      def side(kind: String, ts: String, id: String) =
        TsNorm.normalizeTs(streaming.Streams.readParquetStream(s, dir, schema,
          maxFilesPerTrigger = 1, globFilter = Some("events.parquet")),
          assertNsRange = true)
          .filter(F.col("event_type") === kind)
          .select(F.col("user_id"),
            F.timestamp_micros(F.expr("ts DIV 1000")).as(ts),
            F.col("event_id").as(id))
      val joined = streaming.Streams.intervalJoin(
        side("view", "view_ts", "view_id"),
        side("purchase", "purchase_ts", "purchase_id"),
        "view_ts", "purchase_ts", "1 hour", Seq("user_id"), "24 HOUR")
        .select("l.user_id", "view_id", "purchase_id")
      streaming.Streams.runToMemory(joined, s"s03_join_${dir.hashCode.abs}",
        org.apache.spark.sql.streaming.OutputMode.Append())
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    mem.orderBy("view_id", "purchase_id")
  }

  private val s04Run = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Write `df` as the k-th SINGLE-FILE micro-batch of a stream feed dir,
    * with strictly increasing mtimes: the parquet file source processes
    * pending files in modification-time order, so the mtime pin IS the
    * batch order. Failing to pin must abort — an undefined order would
    * silently change any order-dependent fold downstream. */
  private def shipFeedFile(df: DataFrame, feed: java.io.File, k: Int,
      tag: String): Unit = {
    val tmp = scratch(s"${tag}_$k")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    val dst = new java.io.File(feed, s"b$k.parquet")
    java.nio.file.Files.move(part.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    if (!dst.setLastModified(System.currentTimeMillis() - 600000L + k * 2000L))
      sys.error(s"feed mtime pin failed for $dst — batch order undefined")
  }

  /** Streaming incremental near-dedup INGEST — the steady state the
    * persisted MinHash index (d51) exists for: the accepted corpus (even
    * doc_ids) is indexed ONCE; odd doc_ids then arrive as three
    * mtime-ordered micro-batches (doc_id mod 6 = 1, 3, 5, one parquet
    * file each); every batch probes the index and its survivors are
    * appended to it, so batch k dedups against corpus ∪ survivors of
    * batches < k with zero corpus re-scans
    * ([[streaming.Streams.ingestDedupStream]]). Batch-internal pairs both
    * survive ([[operators.Dedup.dedupAgainstIndex]] semantics). The fold
    * is deterministic given the feed order, so the oracle is the SAME
    * three-step fold in exact shingle-Jaccard SQL — a full hash-match
    * oracle for a stateful streaming pipeline, not a rows-only check. */
  private val s04: (SparkSession, String) => DataFrame = (s, dir) => {
    // harness-SF tuning like s02/s03: the ingest is ~80 SMALL sequential
    // stages (3 micro-batches × probe/append/sink jobs); 32-way shuffles
    // of kB-sized batches are pure scheduling overhead here. At real batch
    // sizes this conf rises with the data — the stage COUNT stays fixed,
    // which is what amortizes (see SCALING.md streaming-ingest section).
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try s04Body(s, dir)
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val s04Body: (SparkSession, String) => DataFrame = (s, dir) =>
    dedupIngestRun(s, dir, "s04", s04Run.incrementAndGet(),
      tieredCompaction = false)

  /** The shared s04/s13 fixture: index the even-doc_id corpus once,
    * stream the odd doc_ids through
    * [[streaming.Streams.ingestDedupStream]] as three mtime-ordered
    * micro-batches, return the survivor fold. s13 runs the identical
    * fold with the size-tiered in-line compaction
    * (`tieredCompaction = true, compactEvery = 1`) — a MinHash tier
    * fold is row-identical to a one-segment append, so the survivors
    * must hash-equal s04's. */
  private def dedupIngestRun(s: SparkSession, dir: String, tag: String,
      run: Int, tieredCompaction: Boolean): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val idx = scratch(s"${tag}_index_${dir.hashCode.abs}_$run")
    Dedup.writeMinhashIndex(docs.filter(F.col("doc_id") % 2 === 0),
      F.col("doc_id"), F.col("text"), idx,
      shingleSize = 3, numHashes = 64, bands = 8)
    // one FILE per micro-batch, mtime-ordered: the batch order (and with
    // it the fold) is deterministic
    val feed = new java.io.File(
      scratch(s"${tag}_feed_${dir.hashCode.abs}_$run"))
    feed.mkdirs()
    Seq(1, 3, 5).zipWithIndex.foreach { case (m, k) =>
      shipFeedFile(docs.filter(F.col("doc_id") % 6 === m), feed, k,
        s"${tag}_tmp_${dir.hashCode.abs}_$run")
    }
    val out = scratch(s"${tag}_out_${dir.hashCode.abs}_$run")
    val stream = streaming.Streams.readParquetStream(s, feed.toString,
      docs.schema, maxFilesPerTrigger = 1)
    streaming.Streams.ingestDedupStream(stream, F.col("doc_id"),
      F.col("text"), idx, out, threshold = 0.8,
      name = s"${tag}_${dir.hashCode.abs}_$run",
      compactEvery = if (tieredCompaction) 1 else 0,
      tieredCompaction = tieredCompaction)
    s.read.parquet(out).select("doc_id").orderBy("doc_id")
  }

  private val s13Run = new java.util.concurrent.atomic.AtomicInteger(0)

  /** s04's fold under the size-tiered in-line compaction
    * ([[operators.Dedup.tierCompactMinhashIndex]] after EVERY batch,
    * inside the single-writer `foreachBatch` window, in-flight segment
    * excluded) — the MinHash twin of s12's IVF gate. A tier fold is
    * REQUIREd row-identical to a one-segment append (features pass
    * through, postings rebuilt with the cap on the merged bucket), so
    * a fold that lost, duplicated, or relabeled a feature row — or
    * folded the in-flight segment, defeating the replay exclusion —
    * would change a batch's probe result and hash-fail against s04's
    * exact shingle-Jaccard oracle. */
  private val s13: (SparkSession, String) => DataFrame = (s, dir) => {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try dedupIngestRun(s, dir, "s13", s13Run.incrementAndGet(),
      tieredCompaction = true)
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** RANGE join (point-in-interval, NO equality key): clicks falling inside
    * any error's 5-minute aftermath window. A bare non-equi join would plan
    * BroadcastNestedLoop (all-pairs); [[Joins.rangeJoin]] bucketizes
    * intervals into fixed-width bins and hash-joins on the bin id. Oracle:
    * DuckDB's native inequality join over the same windows. */
  private val q59: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = t(s, dir, "events").withColumn("us", F.expr("ts DIV 1000"))
    val fiveMin = 300000000L // µs
    val errors = Gdf(ev.filter(F.col("event_type") === "error")
      .select(F.col("event_id").as("error_id"), F.col("us").as("lo"),
        (F.col("us") + fiveMin).as("hi")))
    val clicks = Gdf(ev.filter(F.col("event_type") === "click")
      .select(F.col("event_id").as("click_id"), F.col("us").as("p")))
    Joins.rangeJoin(clicks, errors, "p", "lo", "hi", binWidth = fiveMin)
      .select("error_id", "click_id")
      .sortBy(Seq(F.col("error_id"), F.col("click_id")))
      .sdf
  }

  /** series utilities in one oracle row: `index_of` (first match position
    * over the declared order, series.ex:7023) + `all_equal` (null-safe
    * whole-series equality, series.ex:220). */
  private val q60: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "lineitem"))
      .ordered(F.col("l_orderkey"), F.col("l_linenumber"))
      .withRowIndex("__i")
      .summariseWith { implicit c => Seq(
        // index_of = min row index where the predicate holds — ONE
        // aggregate pass fused with the equality aggregates (no join)
        "index" -> min(iff(gcol("l_returnflag") === glit("R"),
          gcol("__i"), glit(null))),
        "flags_equal" -> allEqual(gcol("l_returnflag"), gcol("l_linestatus")),
        "self_equal" -> allEqual(gcol("l_returnflag"), gcol("l_returnflag")))
      }.sdf

  /** `argsort` with stable tie-break (series.ex:4823): the first 100
    * positions by key over the declared order — orderBy+limit collapses to
    * TakeOrderedAndProject (partial top-k, no global window/shuffle). */
  private val q61: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "lineitem"))
      .ordered(F.col("l_orderkey"), F.col("l_linenumber"))
      .argsort(F.col("l_extendedprice"), stable = true)
      .limit(100)

  /** Structural contract for seeded sampling (q46's correctness signal):
    * the DRAWN rows are engine-specific (q46 stays rows-only by nature),
    * but the contracts are not — exact-n returns exactly n rows, all of
    * them from the source frame, and grouped exact-n returns exactly n
    * per group. Oracle pins all three per group. */
  private val q62: (SparkSession, String) => DataFrame = (s, dir) => {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val cust = t(s, dir, "customer")
    val samp = Gdf(cust).sampleN(100, seed = 42L).sdf
    val nOut = bridge.scalarSubquery(samp.agg(F.count(F.lit(1))))
    val nForeign = bridge.scalarSubquery(
      samp.select("c_custkey")
        .join(cust.select(F.col("c_custkey").as("__ck")),
          F.col("c_custkey") === F.col("__ck"), "left_anti")
        .agg(F.count(F.lit(1))))
    Gdf(t(s, dir, "lineitem")).groupBy("l_returnflag")
      .sampleN(2, seed = 7L).sdf
      .groupBy("l_returnflag")
      .agg(F.count(F.lit(1)).cast("int").as("n_grouped"))
      .select(F.col("l_returnflag"), F.col("n_grouped"),
        (nOut === 100L).cast("int").as("n_out_ok"),
        (nForeign === 0L).cast("int").as("member_ok"))
      .orderBy("l_returnflag")
  }

  /** TIME-SLICED range join (q59's shape restricted to one UTC day):
    * the slice is applied through [[TsNorm.sliceNs]], i.e. as a constant
    * bound on the RAW `ts` column in the file's native encoding, so it
    * lands in parquet PushedFilters and prunes row groups by min/max —
    * where a filter on the normalized `unix_micros(ts)*1000` projection
    * would force a full scan (r8 verdict watch item #3). At 100 TB this is
    * the canonical access pattern: time-sliced scans must read a day, not
    * a decade. Plan-guarded in TsNormSpec (µs fixtures) + PlanGuardSpec. */
  private val q63: (SparkSession, String) => DataFrame = (s, dir) => {
    val dayNs = DayNs
    val loNs = Jan10Ns
    val ev = tSliced(s, dir, "events", loNs, loNs + dayNs)
      .withColumn("us", F.expr("ts DIV 1000"))
    val fiveMin = 300000000L // µs
    val errors = Gdf(ev.filter(F.col("event_type") === "error")
      .select(F.col("event_id").as("error_id"), F.col("us").as("lo"),
        (F.col("us") + fiveMin).as("hi")))
    val clicks = Gdf(ev.filter(F.col("event_type") === "click")
      .select(F.col("event_id").as("click_id"), F.col("us").as("p")))
    Joins.rangeJoin(clicks, errors, "p", "lo", "hi", binWidth = fiveMin)
      .select("error_id", "click_id")
      .sortBy(Seq(F.col("error_id"), F.col("click_id")))
      .sdf
  }

  private val s05Run = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming LAKE ingest: events stream into a date-partitioned parquet
    * layout through Spark's native file sink ([[streaming.Streams
    * .lakeSink]] — `_spark_metadata` commit log ⇒ exactly-once appends),
    * then a one-day slice is read back PRUNED
    * ([[io.GraftIO.readTimeSlice]]) and rolled up hourly. The feed is
    * split into three files by day-index mod 3, so each micro-batch
    * appends into the SAME day partitions as the others — the
    * interleaved-append shape a 24/7 pipeline produces; the final layout
    * (and thus the result) is independent of the batch order, stronger
    * than s04's deliberately order-dependent fold. Oracle: the same
    * rollup on the raw table. */
  private val s05: (SparkSession, String) => DataFrame = (s, dir) => {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try s05Body(s, dir)
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val s05Body: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = t(s, dir, "events")
    val run = s05Run.incrementAndGet()
    val dayNs = DayNs
    val feed = new java.io.File(scratch(s"s05_feed_${dir.hashCode.abs}_$run"))
    feed.mkdirs()
    (0 until 3).foreach { k =>
      shipFeedFile(ev.filter(F.expr(s"ts DIV $dayNs") % 3 === k), feed, k,
        s"s05_tmp_${dir.hashCode.abs}_$run")
    }
    val layout = scratch(s"s05_layout_${dir.hashCode.abs}_$run")
    streaming.Streams.lakeSink(
      streaming.Streams.readParquetStream(s, feed.toString, ev.schema,
        maxFilesPerTrigger = 1),
      "ts", layout, s"s05_${dir.hashCode.abs}_$run")
    val loNs = 1705276800L * 1000000000L // 2024-01-15 00:00:00 UTC
    io.GraftIO.readTimeSlice(s, layout, loNs, loNs + dayNs, "ts")
      .groupBy(
        F.date_trunc("hour", F.timestamp_micros(F.expr("ts DIV 1000")))
          .as("hour_start"),
        F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.sum("value"), 4).as("total_value"))
      .orderBy("hour_start", "event_type")
  }

  private val s06Run = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Lake COMPACTION — the operational closer of [[s05]]'s honest gap:
    * the streaming file sink accretes a file per (micro-batch × task ×
    * day), so a 24/7 lake needs periodic compaction of rotated days.
    * Here the stream-written layout is converted (commit log honored,
    * then dropped — [[io.GraftIO.compactTimePartitions]] deletes
    * uncommitted orphans FIRST, so nothing a crashed batch left behind
    * gets baked into the rewrite) and the queried day rewritten to one
    * ts-sorted file; the same pruned slice + hourly rollup as s05 then
    * reads the COMPACTED day. Matching s05's raw-table oracle proves the
    * compact rewrite is row-preserving end-to-end — sink → convert →
    * compact → pruned read. */
  private val s06: (SparkSession, String) => DataFrame = (s, dir) => {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try s06Body(s, dir)
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val s06Body: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = t(s, dir, "events")
    val run = s06Run.incrementAndGet()
    val dayNs = DayNs
    val feed = new java.io.File(scratch(s"s06_feed_${dir.hashCode.abs}_$run"))
    feed.mkdirs()
    (0 until 3).foreach { k =>
      shipFeedFile(ev.filter(F.expr(s"ts DIV $dayNs") % 3 === k), feed, k,
        s"s06_tmp_${dir.hashCode.abs}_$run")
    }
    val layout = scratch(s"s06_layout_${dir.hashCode.abs}_$run")
    streaming.Streams.lakeSink(
      streaming.Streams.readParquetStream(s, feed.toString, ev.schema,
        maxFilesPerTrigger = 1),
      "ts", layout, s"s06_${dir.hashCode.abs}_$run")
    val loNs = 1705276800L * 1000000000L // 2024-01-15 00:00:00 UTC
    io.GraftIO.compactTimePartitions(s, layout, loNs, loNs + dayNs, "ts",
      dropCommitLog = true)
    io.GraftIO.readTimeSlice(s, layout, loNs, loNs + dayNs, "ts")
      .groupBy(
        F.date_trunc("hour", F.timestamp_micros(F.expr("ts DIV 1000")))
          .as("hour_start"),
        F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.sum("value"), 4).as("total_value"))
      .orderBy("hour_start", "event_type")
  }

  private val s07Run = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming EMBEDDING ingest over the persisted IVF index (d54's
    * steady state; the vector twin of s04): even-third vec_ids are
    * indexed once, then two mtime-ordered micro-batches arrive; each is
    * probed with every cell searched (exact max-cosine decision) and its
    * survivors are appended to sink AND index. The feed plants ×2-scaled
    * copies (direction-exact, cosine 1.0 — the d13 technique) so every
    * death path is load-bearing: batch-1 copies of indexed vectors die
    * against the BASE, batch-2 copies of batch-1 originals die against an
    * APPENDED segment, and batch-2 ORIGINALS whose scaled copies arrived
    * in batch 1 die against their own copies — an implementation that
    * drops appends, drops copies, or breaks the fold order hash-fails.
    * Oracle: the same two-step fold in exact-cosine SQL. */
  private val s07: (SparkSession, String) => DataFrame = (s, dir) => {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try s07Body(s, dir)
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val s07Body: (SparkSession, String) => DataFrame = (s, dir) =>
    embedIngestRun(s, dir, "s07", s07Run.incrementAndGet(),
      tieredCompaction = false)

  /** The shared s07/s12 fixture: build the float IVF index on a third
    * of the corpus, stream the other two thirds (plus planted
    * ×2-scaled copies) through [[streaming.Streams.ingestEmbedStream]]
    * in two mtime-ordered batches, return the survivor fold. s12 runs
    * the identical fold with the size-tiered in-line compaction
    * (`tieredCompaction = true, compactEvery = 1`) — tier folds are
    * structurally search-invariant, so the survivors must hash-equal
    * s07's. */
  private def embedIngestRun(s: SparkSession, dir: String, tag: String,
      run: Int, tieredCompaction: Boolean): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      .filter(F.col("vec_id") >= 5)
    def scaled(df: DataFrame) = df.select(
      (F.col("vec_id") + 10000000L).as("vec_id"),
      F.transform(F.col("embedding"), x => x * F.lit(2.0f)).as("embedding"))
    val idx = scratch(s"${tag}_index_${dir.hashCode.abs}_$run")
    operators.Similarity.writeIvfIndex(e.filter(F.col("vec_id") % 3 === 0),
      F.col("vec_id"), F.col("embedding"), idx, nlist = 8)
    val feed = new java.io.File(
      scratch(s"${tag}_feed_${dir.hashCode.abs}_$run"))
    feed.mkdirs()
    val b1 = e.filter(F.col("vec_id") % 3 === 1)
      .unionAll(scaled(e.filter(F.col("vec_id") % 3 === 0 &&
        F.col("vec_id") < 20)))
      .unionAll(scaled(e.filter(F.col("vec_id") % 3 === 2 &&
        F.col("vec_id") < 35)))
    val b2 = e.filter(F.col("vec_id") % 3 === 2)
      .unionAll(scaled(e.filter(F.col("vec_id") % 3 === 1 &&
        F.col("vec_id") < 20)))
    Seq(b1, b2).zipWithIndex.foreach { case (b, k) =>
      shipFeedFile(b, feed, k, s"${tag}_tmp_${dir.hashCode.abs}_$run")
    }
    val out = scratch(s"${tag}_out_${dir.hashCode.abs}_$run")
    streaming.Streams.ingestEmbedStream(
      streaming.Streams.readParquetStream(s, feed.toString, b1.schema,
        maxFilesPerTrigger = 1),
      F.col("vec_id"), F.col("embedding"), idx, out, threshold = 0.999,
      name = s"${tag}_${dir.hashCode.abs}_$run",
      compactEvery = if (tieredCompaction) 1 else 0,
      tieredCompaction = tieredCompaction)
    s.read.parquet(out).select("vec_id").orderBy("vec_id")
  }

  private val s12Run = new java.util.concurrent.atomic.AtomicInteger(0)

  /** s07's fold under the round's SIZE-TIERED in-line compaction
    * ([[operators.Similarity.tierCompactIvfIndex]] after EVERY batch,
    * inside the single-writer `foreachBatch` window, with the in-flight
    * segment excluded): the scale-safe O(new data)-per-trigger cadence
    * (r16 verdict #1), driven end-to-end through the stream against the
    * same exact-cosine oracle as s07, hash-equal. A tier fold that
    * lost, duplicated, or re-assigned a stored vector, folded the
    * in-flight segment (the replay poison the exclusion exists for), or
    * mis-fired the base-ratio escalation would change a kill decision
    * and hash-fail. */
  private val s12: (SparkSession, String) => DataFrame = (s, dir) => {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try embedIngestRun(s, dir, "s12", s12Run.incrementAndGet(),
      tieredCompaction = true)
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val s11Run = new java.util.concurrent.atomic.AtomicInteger(0)

  /** s07's exact fold over an SQ8 index (r15 verdicts #2/#3 composed):
    * the same feed, the same two-step ingest — but the persisted index
    * stores int8 codes (`sq8 = true`), the kill decision runs on EXACT
    * cosines via the per-batch rescore (`rescoreSource` — the
    * full-precision source is the base corpus ∪ this stream's own
    * accreting survivors, re-listed per trigger), and the index
    * compacts IN-LINE after every batch with the in-flight segment
    * excluded (`compactEvery = 1`). Because the refine removes the
    * ~0.3% quantization error, the survivor set must equal the float
    * path's exactly — s07's own exact-cosine SQL oracle, hash-equal; a
    * quantization-biased kill, a rescore that misses an appended
    * segment, or a compaction that folds the in-flight segment each
    * hash-fail. */
  private val s11: (SparkSession, String) => DataFrame = (s, dir) => {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try s11Body(s, dir)
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val s11Body: (SparkSession, String) => DataFrame = (s, dir) => {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      .filter(F.col("vec_id") >= 5)
    val run = s11Run.incrementAndGet()
    def scaled(df: DataFrame) = df.select(
      (F.col("vec_id") + 10000000L).as("vec_id"),
      F.transform(F.col("embedding"), x => x * F.lit(2.0f)).as("embedding"))
    val idx = scratch(s"s11_index_${dir.hashCode.abs}_$run")
    val baseCorpus = e.filter(F.col("vec_id") % 3 === 0)
    operators.Similarity.writeIvfIndex(baseCorpus,
      F.col("vec_id"), F.col("embedding"), idx, nlist = 8, sq8 = true)
    val feed = new java.io.File(scratch(s"s11_feed_${dir.hashCode.abs}_$run"))
    feed.mkdirs()
    val b1 = e.filter(F.col("vec_id") % 3 === 1)
      .unionAll(scaled(e.filter(F.col("vec_id") % 3 === 0 &&
        F.col("vec_id") < 20)))
      .unionAll(scaled(e.filter(F.col("vec_id") % 3 === 2 &&
        F.col("vec_id") < 35)))
    val b2 = e.filter(F.col("vec_id") % 3 === 2)
      .unionAll(scaled(e.filter(F.col("vec_id") % 3 === 1 &&
        F.col("vec_id") < 20)))
    Seq(b1, b2).zipWithIndex.foreach { case (b, k) =>
      shipFeedFile(b, feed, k, s"s11_tmp_${dir.hashCode.abs}_$run")
    }
    val out = scratch(s"s11_out_${dir.hashCode.abs}_$run")
    // the full-precision side of the refine: base corpus plus every
    // COMMITTED batch's survivors — re-evaluated per trigger, so the
    // listing is fresh each time (the out dir accretes batch= dirs)
    val mkSource = () => {
      val outDir = new java.io.File(out)
      val hasOut = outDir.isDirectory &&
        Option(outDir.listFiles).exists(_.nonEmpty)
      val src = if (hasOut)
        baseCorpus.unionByName(s.read.parquet(out)
          .select(F.col("vec_id"), F.col("embedding")))
      else baseCorpus
      operators.Similarity.RescoreSource(src, F.col("vec_id"),
        F.col("embedding"), factor = 4)
    }
    streaming.Streams.ingestEmbedStream(
      streaming.Streams.readParquetStream(s, feed.toString, b1.schema,
        maxFilesPerTrigger = 1),
      F.col("vec_id"), F.col("embedding"), idx, out, threshold = 0.999,
      name = s"s11_${dir.hashCode.abs}_$run", compactEvery = 1,
      rescoreSource = Some(mkSource))
    s.read.parquet(out).select("vec_id").orderBy("vec_id")
  }

  /** Incrementally-maintained day rollup ([[operators.Rollup]]): base
    * built from one third of events (split by id, so every DAY spans all
    * segments and the read-side merge is load-bearing), two batch
    * segments appended — the first appended TWICE (the at-least-once
    * retry; dynamic partition overwrite must REPLACE, not double-count) —
    * then all segments folded into base by [[operators.Rollup
    * .compactRollup]] and the combined view read back. The oracle is one
    * flat aggregation over ALL events in DuckDB: a double-counted retry,
    * a lost segment, or a compaction fold error each hash-fail. */
  private val s08: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = t(s, dir, "events")
    val path = scratch(s"s08_rollup_${dir.hashCode.abs}")
    val keys = Seq("event_type")
    operators.Rollup.buildRollup(ev.filter(F.col("event_id") % 3 === 0),
      "ts", keys, "value", path)
    val b0 = ev.filter(F.col("event_id") % 3 === 1)
    operators.Rollup.appendRollup(b0, "ts", keys, "value", path, "b0")
    operators.Rollup.appendRollup(b0, "ts", keys, "value", path, "b0")
    operators.Rollup.appendRollup(ev.filter(F.col("event_id") % 3 === 2),
      "ts", keys, "value", path, "b1")
    operators.Rollup.compactRollup(s, path)
    rollupOracleView(s, path)
  }

  /** The s08/s09 shared oracle projection: one definition so both
    * rollup queries stay pinned to the same flat-aggregation contract
    * (4-dp sum round, these aliases). */
  private def rollupOracleView(s: SparkSession, path: String): DataFrame =
    operators.Rollup.readRollup(s, path)
      .select(F.col("day"), F.col("event_type"), F.col("n"),
        F.round(F.col("sum"), 4).as("total"),
        F.col("min"), F.col("max"))
      .orderBy("day", "event_type")

  private val s09Run = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming rollup maintenance ([[streaming.Streams.rollupSink]] over
    * [[operators.Rollup]]): events arrive as three mtime-ordered
    * micro-batches, each folding its partials under its own exactly-once
    * segment; the combined view must equal one flat aggregation over all
    * events — s08's oracle, reached through the streaming path. */
  private val s09: (SparkSession, String) => DataFrame = (s, dir) => {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try s09Body(s, dir)
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val s09Body: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = t(s, dir, "events")
    val run = s09Run.incrementAndGet()
    val feed = new java.io.File(scratch(s"s09_feed_${dir.hashCode.abs}_$run"))
    feed.mkdirs()
    (0 until 3).foreach { k =>
      shipFeedFile(ev.filter(F.col("event_id") % 3 === k), feed, k,
        s"s09_tmp_${dir.hashCode.abs}_$run")
    }
    val path = scratch(s"s09_rollup_${dir.hashCode.abs}_$run")
    streaming.Streams.rollupSink(
      streaming.Streams.readParquetStream(s, feed.toString, ev.schema,
        maxFilesPerTrigger = 1),
      "ts", Seq("event_type"), "value", path,
      name = s"s09_${dir.hashCode.abs}_$run")
    rollupOracleView(s, path)
  }

  private val s10Run = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming CDC upsert into the manifested lake
    * ([[streaming.Streams.upsertSink]] over [[io.Manifest.upsert]]): a
    * base quarter of the corpus is written key-clustered, then three
    * mtime-ordered micro-batches arrive, each INSERTING a fresh quarter
    * (doc_id mod 4 = k+1) and UPDATING a stripe of existing keys
    * (doc_id mod 7 = k, revised text) — one row per key per batch, the
    * MERGE contract. After the stream drains, the table must hold
    * exactly the LATEST version of every key, which the oracle computes
    * flat in DuckDB via each key's maximum containing batch: a stale
    * survivor (missed delete), a lost insert, a double-applied retry,
    * or out-of-order batch application all hash-fail. */
  private val s10: (SparkSession, String) => DataFrame = (s, dir) => {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try s10Body(s, dir)
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val s10Body: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val run = s10Run.incrementAndGet()
    val layout = scratch(s"s10_lake_${dir.hashCode.abs}_$run")
    io.Manifest.writeWithManifest(docs.filter(F.col("doc_id") % 4 === 0),
      layout, statsCols = Seq("doc_id"), clusterCols = Seq("doc_id"),
      targetFiles = 4)
    val feed = new java.io.File(scratch(s"s10_feed_${dir.hashCode.abs}_$run"))
    feed.mkdirs()
    (0 until 3).foreach { k =>
      val batch = docs
        .filter(F.col("doc_id") % 4 === (k + 1) ||
          F.col("doc_id") % 7 === k)
        .withColumn("text", F.when(F.col("doc_id") % 7 === k,
          F.concat(F.col("text"), F.lit(s" v$k")))
          .otherwise(F.col("text")))
      shipFeedFile(batch, feed, k, s"s10_tmp_${dir.hashCode.abs}_$run")
    }
    streaming.Streams.upsertSink(
      streaming.Streams.readParquetStream(s, feed.toString, docs.schema,
        maxFilesPerTrigger = 1),
      "doc_id", layout, name = s"s10_${dir.hashCode.abs}_$run",
      clusterCols = Seq("doc_id"), targetFiles = 2, compactEvery = 2)
    io.Manifest.readSkipping(s, layout, "doc_id", 0L, Long.MaxValue / 2)
      .select("doc_id", "source", "text", "n_chars")
      .orderBy("doc_id")
  }

  /** TIME-PARTITIONED layout round trip — the other half of the time-scan
    * story next to [[q63]]'s row-group pruning: events rewritten once into
    * a date-partitioned, ts-sorted layout
    * ([[io.GraftIO.writeTimePartitioned]]), then a one-day slice read back
    * through [[io.GraftIO.readTimeSlice]] — the date bound prunes
    * DIRECTORIES (untouched days cost zero IO at 100 TB, not even a
    * footer), the ns bound prunes row groups inside the day's sorted file.
    * Both guards plan-asserted in the spec. Hourly per-type rollup on top,
    * matching the raw-table oracle. */
  private val q64: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = t(s, dir, "events")
    val layout = scratch(s"q64_layout_${dir.hashCode.abs}")
    io.GraftIO.writeTimePartitioned(ev, "ts", layout)
    val dayNs = DayNs
    val loNs = Jan10Ns
    io.GraftIO.readTimeSlice(s, layout, loNs, loNs + dayNs, "ts")
      .groupBy(
        F.date_trunc("hour", F.timestamp_micros(F.expr("ts DIV 1000")))
          .as("hour_start"),
        F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.sum("value"), 4).as("total_value"))
      .orderBy("hour_start", "event_type")
  }

  /** Manifest data skipping ([[io.Manifest]]): half the documents
    * range-clustered by `n_chars` into 8 files with a per-file min/max
    * manifest, the other half APPENDED incrementally
    * ([[io.Manifest.appendWithManifest]] — stats harvested from the new
    * files only); the banded read opens only envelope-surviving files
    * (spec asserts the numFiles fact), and the result is plain filter
    * semantics over the WHOLE corpus — a dropped or double-listed
    * appended file hash-fails the oracle. */
  private val q65: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val layout = scratch(s"q65_layout_${dir.hashCode.abs}")
    io.Manifest.writeWithManifest(docs.filter(F.col("doc_id") % 2 === 0),
      layout, statsCols = Seq("n_chars"),
      clusterCols = Seq("n_chars"), targetFiles = 8)
    io.Manifest.appendWithManifest(docs.filter(F.col("doc_id") % 2 === 1),
      layout, segment = "b0", clusterCols = Seq("n_chars"),
      targetFiles = 8)
    io.Manifest.readSkipping(s, layout, "n_chars", 200L, 400L)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Z-ordered manifest skipping ([[io.Manifest.writeZOrdered]]): the
    * corpus Morton-clustered on (n_chars, doc_id) so a composite band
    * prunes on BOTH dimensions (spec pins the either-column pruning
    * fact); semantics stay the plain AND filter the oracle replays. */
  private val q67: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val layout = scratch(s"q67_layout_${dir.hashCode.abs}")
    io.Manifest.writeZOrdered(docs, layout,
      statsCols = Seq("n_chars", "doc_id"),
      zCols = Seq("n_chars", "doc_id"), targetFiles = 16)
    io.Manifest.readSkippingBands(s, layout,
      Seq(("n_chars", 200L, 500L), ("doc_id", 0L, 250L)))
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** One layout, two pruned readers
    * ([[io.Manifest.writeTimeClustered]]): events day-partitioned with
    * `value` as the in-day secondary clustering column; the query is a
    * "that day, high values only" band served by two-axis manifest
    * skipping (ts envelopes give the day, value envelopes give the
    * band) — plain AND-filter semantics, which the oracle replays. */
  private val q68: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = t(s, dir, "events")
    val layout = scratch(s"q68_layout_${dir.hashCode.abs}")
    io.Manifest.writeTimeClustered(ev, "ts", "value", layout,
      targetFiles = 24)
    val dayNs = DayNs
    val loNs = Jan10Ns
    io.Manifest.readSkippingBands(s, layout,
      Seq(("ts", loNs, loNs + dayNs - 1), ("value", 200.0, 800.0)))
      .groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.sum("value"), 4).as("total_value"))
      .orderBy("event_type")
  }

  /** Retention on the time-partitioned lake
    * ([[io.GraftIO.expireTimePartitions]]): build the layout, expire the
    * days strictly before 2024-01-10 (pure directory deletes), and
    * aggregate everything that remains — the oracle is the raw table
    * filtered at the cutoff, so an over- or under-delete hash-fails. */
  private val q66: (SparkSession, String) => DataFrame = (s, dir) => {
    val ev = t(s, dir, "events")
    val layout = scratch(s"q66_layout_${dir.hashCode.abs}")
    io.GraftIO.writeTimePartitioned(ev, "ts", layout)
    val cutNs = Jan10Ns
    val removed = io.GraftIO.expireTimePartitions(s, layout, cutNs)
    require(removed == 9, s"expected 9 expired days, removed $removed")
    s.read.parquet(layout)
      .groupBy(F.col("__pdate").as("day"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.sum("value"), 4).as("total_value"))
      .orderBy("day", "event_type")
  }

  /** Keyed upsert on the manifested lake ([[io.Manifest.upsert]] — the
    * MERGE shape): the corpus range-clustered by doc_id into 16 files,
    * then one batch UPDATES a narrow id band (revised text, n_chars + 3)
    * and INSERTS fresh ids — the old versions die via an
    * envelope-PRUNED file rewrite (require pins that only a few of the
    * 16 files were touched), the batch lands segment-keyed. The full
    * read-back must equal MERGE semantics replayed flat in DuckDB: a
    * stale duplicate (missed delete), a lost insert, or an over-deleted
    * neighbor all hash-fail. */
  private val q69: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val layout = scratch(s"q69_layout_${dir.hashCode.abs}")
    io.Manifest.writeWithManifest(docs, layout, statsCols = Seq("doc_id"),
      clusterCols = Seq("doc_id"), targetFiles = 16)
    val batch = docs.filter(F.col("doc_id").between(100L, 149L))
      .withColumn("text", F.concat(F.col("text"), F.lit(" v2")))
      .withColumn("n_chars", F.col("n_chars") + 3)
      .unionByName(docs.filter(F.col("doc_id") < 50)
        .withColumn("doc_id", F.col("doc_id") + 100000L))
    val rewritten = io.Manifest.upsert(batch, layout, "doc_id",
      segment = "u0", clusterCols = Seq("doc_id"), targetFiles = 4)
    require(rewritten <= 5,
      s"envelope prune failed: upsert rewrote $rewritten of 16 files " +
        "for a 50-id band")
    io.Manifest.readSkipping(s, layout, "doc_id", 0L, 1000000L)
      .select("doc_id", "source", "text", "n_chars")
      .orderBy("doc_id")
  }

  /** GDPR-style keyed delete ([[io.Manifest.deleteKeys]]) + [[io
    * .Manifest.vacuum]]: every 7th document's id is deleted from the
    * manifested layout (ids spread across every file — the honest
    * full-rewrite case, where pruning buys nothing and correctness is
    * everything), then vacuum confirms a clean mutation leaves zero
    * orphans. The read-back is plain NOT-IN semantics in DuckDB. */
  private val q70: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val layout = scratch(s"q70_layout_${dir.hashCode.abs}")
    io.Manifest.writeWithManifest(docs, layout, statsCols = Seq("doc_id"),
      clusterCols = Seq("doc_id"), targetFiles = 16)
    val victims = docs.filter(F.col("doc_id") % 7 === 0).select("doc_id")
    io.Manifest.deleteKeys(s, layout, "doc_id", victims, segment = "gdpr0")
    val strays = io.Manifest.vacuum(s, layout)
    require(strays == 0, s"vacuum found $strays strays after a clean delete")
    io.Manifest.readSkipping(s, layout, "doc_id", 0L, 1000000L)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Distributed PCA contract ([[operators.Embeddings]]): fit k=8 over
    * the embedding corpus (one [[graft.functions.VectorMoments]] pass +
    * driver Jacobi), then pin, as deterministic flags the oracle holds
    * constant: components orthonormal, variances descending, the SAMPLE
    * variance of each projected coordinate equal to its eigenvalue
    * (ties the distributed moment pass and the native projection
    * expression to the driver-side eigensolve — a wrong Gram triangle,
    * covariance normalization, or projection loop breaks it), and
    * whitened coordinates at exactly unit variance. `n_vecs` rides as a
    * scalar subquery so the row count stays data-bound. */
  private val d67: (SparkSession, String) => DataFrame = (s, dir) => {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val emb = t(s, dir, "embeddings")
    val m = operators.Embeddings.fitPca(emb, F.col("embedding"), k = 8)
    val d = m.dim
    val orthoErr = (for { a <- 0 until m.k; b <- 0 until m.k } yield {
      val dot = (0 until d)
        .map(i => m.components(a)(i) * m.components(b)(i)).sum
      math.abs(dot - (if (a == b) 1.0 else 0.0))
    }).max
    val descending = m.variances.zip(m.variances.tail)
      .forall { case (x, y) => x >= y - 1e-12 }
    def projVars(whiten: Boolean): Map[Int, Double] =
      operators.Embeddings.pcaProject(emb, F.col("embedding"), m,
          whiten = whiten)
        .select(F.posexplode(F.col("pc")).as(Seq("j", "y")))
        .groupBy("j").agg(F.variance(F.col("y")).as("vy"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val pv = projVars(whiten = false)
    val varOk = (0 until m.k).forall(j =>
      math.abs(pv(j) - m.variances(j)) <=
        1e-6 * math.max(1.0, m.variances(j)))
    val wv = projVars(whiten = true)
    val whitenOk = (0 until m.k).forall(j => math.abs(wv(j) - 1.0) <= 1e-6)
    val nVecs = bridge.scalarSubquery(emb.agg(F.count(F.lit(1))))
    s.range(1).select(nVecs.as("n_vecs"),
      F.lit(if (orthoErr < 1e-8) 1 else 0).as("orthonormal_ok"),
      F.lit(if (descending) 1 else 0).as("descending_ok"),
      F.lit(if (varOk) 1 else 0).as("variance_match_ok"),
      F.lit(if (whitenOk) 1 else 0).as("whiten_unit_ok"))
  }

  /** Whitened IVF index ([[operators.Embeddings.writeWhitenedIvfIndex]],
    * the r12 PCA × ANN composition): fit + whiten + index the corpus,
    * then assert by EXECUTION that (a) an exhaustive probe
    * (nprobe = nlist) over the persisted index equals brute-force top-k
    * computed over the same whitened space (the d54 identity composed
    * through PCA), (b) the persisted model round-trips exactly, and
    * (c) the whitened ranking genuinely differs from the raw-cosine one
    * on this anisotropic corpus (the composition is not a no-op). Flags
    * + data-bound counts, the d67 oracle pattern. */
  private val d68: (SparkSession, String) => DataFrame = (s, dir) => {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val emb = t(s, dir, "embeddings")
    val path = scratch(s"d68_wivf_${dir.hashCode.abs}")
    val corpus = emb.filter(F.col("vec_id") >= 5)
    val queries = emb.filter(F.col("vec_id") < 5)
    val m = operators.Embeddings.writeWhitenedIvfIndex(corpus,
      F.col("vec_id"), F.col("embedding"), path, pcaK = 8, nlist = 8,
      seed = 7)
    val modelOk =
      operators.Embeddings.readPcaModel(s, path) == m
    def key(df: DataFrame): Set[(Long, Long, Int)] = df
      .select("query_id", "corpus_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = key(operators.Embeddings.searchWhitenedIvfIndex(s, path,
      queries, F.col("vec_id"), F.col("embedding"), k = 10, nprobe = 8))
    val cw = operators.Embeddings.pcaProject(corpus, F.col("embedding"),
      m, "wv", whiten = true)
    val qw = operators.Embeddings.pcaProject(queries, F.col("embedding"),
      m, "wv", whiten = true)
    val want = key(operators.Similarity.bruteForceTopK(cw, F.col("vec_id"),
      F.col("wv"), qw, F.col("vec_id"), F.col("wv"), k = 10))
    val raw = key(operators.Similarity.bruteForceTopK(corpus,
      F.col("vec_id"), F.col("embedding"), queries, F.col("vec_id"),
      F.col("embedding"), k = 10))
    val nVecs = bridge.scalarSubquery(emb.agg(F.count(F.lit(1))))
    s.range(1).select(nVecs.as("n_vecs"),
      F.lit(got.size).cast("long").as("n_results"),
      F.lit(if (got == want) 1 else 0).as("exhaustive_equals_brute_ok"),
      F.lit(if (modelOk) 1 else 0).as("model_roundtrip_ok"),
      F.lit(if (got != raw) 1 else 0).as("metric_changed_ok"))
  }

  /** d54's persisted-index lifecycle composed through PCA whitening
    * ([[operators.Embeddings.appendToWhitenedIvfIndex]], the r13 append
    * guard): build the whitened index on the EVEN half of the corpus,
    * append the ODD half as a segment projected through the PERSISTED
    * model, probe every cell — the exhaustive probe must equal
    * brute-force top-k over the whitened space of the FULL corpus (a
    * lost, duplicated, or raw-space-appended vector breaks the
    * identity). Also asserts BY EXECUTION that the raw-space append and
    * search refuse the whitened layout loudly — the guard is
    * load-bearing because at pcaK == d the dim check alone cannot tell
    * raw vectors from whitened ones. Flags + data-bound counts, the
    * d67/d68 oracle pattern. */
  private val d69: (SparkSession, String) => DataFrame = (s, dir) => {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val emb = t(s, dir, "embeddings")
    val path = scratch(s"d69_wappend_${dir.hashCode.abs}")
    val even = emb.filter(F.col("vec_id") >= 5 && F.col("vec_id") % 2 === 0)
    val odd = emb.filter(F.col("vec_id") >= 5 && F.col("vec_id") % 2 === 1)
    val queries = emb.filter(F.col("vec_id") < 5)
    operators.Embeddings.writeWhitenedIvfIndex(even, F.col("vec_id"),
      F.col("embedding"), path, pcaK = 8, nlist = 8, seed = 7)
    operators.Embeddings.appendToWhitenedIvfIndex(odd, F.col("vec_id"),
      F.col("embedding"), path, "b0")
    val rawAppendRefused = try {
      operators.Similarity.appendToIvfIndex(odd, F.col("vec_id"),
        F.col("embedding"), path, "b1"); false
    } catch { case e: IllegalArgumentException =>
      e.getMessage.contains("WHITENED") }
    val rawSearchRefused = try {
      operators.Similarity.searchIvfIndex(s, path, queries,
        F.col("vec_id"), F.col("embedding"), k = 1); false
    } catch { case e: IllegalArgumentException =>
      e.getMessage.contains("WHITENED") }
    def key(df: DataFrame): Set[(Long, Long, Int)] = df
      .select("query_id", "corpus_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = key(operators.Embeddings.searchWhitenedIvfIndex(s, path,
      queries, F.col("vec_id"), F.col("embedding"), k = 10, nprobe = 8))
    // the truth side projects through the SAME persisted model the
    // append path used — round-tripping the model is part of the test
    val pm = operators.Embeddings.readPcaModel(s, path)
    val cw = operators.Embeddings.pcaProject(emb.filter(
        F.col("vec_id") >= 5), F.col("embedding"), pm, "wv", whiten = true)
    val qw = operators.Embeddings.pcaProject(queries, F.col("embedding"),
      pm, "wv", whiten = true)
    val want = key(operators.Similarity.bruteForceTopK(cw, F.col("vec_id"),
      F.col("wv"), qw, F.col("vec_id"), F.col("wv"), k = 10))
    val nVecs = bridge.scalarSubquery(emb.agg(F.count(F.lit(1))))
    s.range(1).select(nVecs.as("n_vecs"),
      F.lit(got.size).cast("long").as("n_results"),
      F.lit(if (got == want) 1 else 0).as("append_equals_brute_ok"),
      F.lit(if (rawAppendRefused) 1 else 0).as("raw_append_refused_ok"),
      F.lit(if (rawSearchRefused) 1 else 0).as("raw_search_refused_ok"))
  }

  /** Whitened + SQ8 composed disk path (r13 verdict #4): build the
    * whitened index with `sq8 = true` (the assigned table stores pcaK
    * int8 codes — the d/k payload win × the 8× int8 win, the 100 TB
    * candidate-scan term), append half the corpus through the GUARDED
    * whitened path (projected through the persisted model, quantized
    * transparently off the meta stamp), probe every cell. Contracts,
    * d46-style (scores are approximate by design): per query ≥ 4 of the
    * whitened brute-force top-5 recovered, every matched cosine within
    * 0.01 of the float-exact whitened cosine (quantization error lives
    * in the whitened space, where scoring happens), exactly k rows —
    * plus two executed witnesses: the on-disk payload IS int8 codes
    * (schema check — the size claim's witness) and the raw search verb
    * refuses the layout (both stamps live in one meta). */
  private val d70: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val path = scratch(s"d70_wsq8_${dir.hashCode.abs}")
    val even = emb.filter(F.col("vec_id") >= 5 && F.col("vec_id") % 2 === 0)
    val odd = emb.filter(F.col("vec_id") >= 5 && F.col("vec_id") % 2 === 1)
    val queries = emb.filter(F.col("vec_id") < 5)
    operators.Embeddings.writeWhitenedIvfIndex(even, F.col("vec_id"),
      F.col("embedding"), path, pcaK = 8, nlist = 8, seed = 7, sq8 = true)
    operators.Embeddings.appendToWhitenedIvfIndex(odd, F.col("vec_id"),
      F.col("embedding"), path, "b0")
    val payload = s.read.parquet(s"$path/assigned").columns.toSet
    val sq8Stored = payload("q") && payload("scale") && !payload("cv")
    val rawRefused = try {
      operators.Similarity.searchIvfIndex(s, path, queries,
        F.col("vec_id"), F.col("embedding"), k = 1); false
    } catch { case e: IllegalArgumentException =>
      e.getMessage.contains("WHITENED") }
    val approx = operators.Embeddings.searchWhitenedIvfIndex(s, path,
      queries, F.col("vec_id"), F.col("embedding"), k = 5, nprobe = 8)
    // float-exact truth through the SAME persisted model
    val pm = operators.Embeddings.readPcaModel(s, path)
    val cw = operators.Embeddings.pcaProject(emb.filter(
        F.col("vec_id") >= 5), F.col("embedding"), pm, "wv", whiten = true)
    val qw = operators.Embeddings.pcaProject(queries, F.col("embedding"),
      pm, "wv", whiten = true)
    val exact = operators.Similarity.bruteForceTopK(cw, F.col("vec_id"),
      F.col("wv"), qw, F.col("vec_id"), F.col("wv"), k = 5)
    approx
      .join(exact.select(F.col("query_id"), F.col("corpus_id"),
        F.col("cosine").as("__ec")), Seq("query_id", "corpus_id"), "left")
      .groupBy("query_id")
      .agg(
        (F.count_if(F.col("__ec").isNotNull) >= 4).cast("int")
          .as("recall_ok"),
        F.coalesce(
          F.max(F.abs(F.col("cosine") - F.col("__ec"))) <= 0.01,
          F.lit(false)).cast("int").as("cos_err_ok"),
        (F.count(F.lit(1)) === 5).cast("int").as("full_k"))
      .withColumn("sq8_stored_ok", F.lit(if (sq8Stored) 1 else 0))
      .withColumn("raw_refused_ok", F.lit(if (rawRefused) 1 else 0))
      .orderBy("query_id")
  }

  /** Training-shard export ([[io.Shards.writeShards]]): the corpus
    * deterministically shuffled into 16 shard files (shard = md5 hash
    * mod 16, in-shard position = rank of the full hash — no RNG state,
    * no partition-order dependence), written one file per shard and read
    * back. The oracle replays the exact-integer hash, the mod, and the
    * per-shard rank verbatim in DuckDB: a mis-assigned, re-ordered,
    * dropped, or duplicated row hash-fails. */
  private val q71: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val layout = scratch(s"q71_layout_${dir.hashCode.abs}")
    io.Shards.writeShards(docs, F.col("doc_id"), numShards = 16, layout,
      salt = "sh42")
    io.Shards.readShards(s, layout)
      .select(F.col("doc_id"), F.col("shard").cast("long").as("shard"),
        F.col("pos"))
      .orderBy("doc_id")
  }

  /** Lake time travel ([[io.Manifest.manifestAsOf]] over the segmented
    * manifest, the Delta `versionAsOf` posture): base layout at commit 0,
    * then a MERGE upsert (updates + inserts) mutated with
    * `retainFiles = true`; the as-of-0 read must reproduce the
    * pre-mutation table EXACTLY while the current read shows the merge.
    * The oracle replays both versions flat in DuckDB — a leaked new row
    * into the old version, a stale row in the new, or a wrong as-of file
    * set all hash-fail. */
  private val q72: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val layout = scratch(s"q72_layout_${dir.hashCode.abs}")
    io.Manifest.writeWithManifest(docs.filter(F.col("doc_id") % 2 === 0)
        .select("doc_id", "text"),
      layout, statsCols = Seq("doc_id"), clusterCols = Seq("doc_id"),
      targetFiles = 4)
    val batch = docs.filter(F.col("doc_id") % 10 === 0)
      .select(F.col("doc_id"), F.concat(F.col("text"), F.lit(" v2"))
        .as("text"))
      .unionAll(docs.filter(F.col("doc_id") % 2 === 1 &&
          F.col("doc_id") < 50)
        .select(F.col("doc_id"), F.concat(F.col("text"), F.lit(" new"))
          .as("text")))
    io.Manifest.upsert(batch, layout, "doc_id", segment = "b1",
      retainFiles = true)
    val v0 = io.Manifest.readSkipping(s, layout, "doc_id", 0L,
      Long.MaxValue / 2, asOf = Some(0L))
    val cur = io.Manifest.readSkipping(s, layout, "doc_id", 0L,
      Long.MaxValue / 2)
    v0.withColumn("version", F.lit(0L))
      .unionByName(cur.withColumn("version", F.lit(1L)))
      .select("version", "doc_id", "text")
      .orderBy("version", "doc_id")
  }

  /** Snapshot diff ([[operators.Drift.snapshotDiff]]): prev = ids < 400,
    * cur = ids ≥ 50 with every 7th text revised — added / removed /
    * changed / unchanged all load-bearing in the oracle (which compares
    * TRUE text equality where the engine compares 64-bit content hashes:
    * any disagreement requires a hash collision). */
  private val d62: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val prev = docs.filter(F.col("doc_id") < 400)
    val cur = docs.filter(F.col("doc_id") >= 50)
      .withColumn("text", F.when(F.col("doc_id") % 7 === 0,
        F.concat(F.col("text"), F.lit(" v2"))).otherwise(F.col("text")))
    operators.Drift.snapshotDiff(prev, cur, F.col("doc_id"), F.col("text"))
      .orderBy("doc_id")
  }

  /** Weighted sampling without replacement
    * ([[operators.Sampling.weightedSample]], Efraimidis–Spirakis):
    * 50 documents drawn proportional to `n_chars`, exact-integer uniform
    * + ln-rank replayed verbatim in DuckDB — a mis-ranked, duplicated,
    * or boundary-swapped selection hash-fails. */
  private val d63: (SparkSession, String) => DataFrame = (s, dir) =>
    operators.Sampling.weightedSample(t(s, dir, "documents"),
      F.col("doc_id"), F.col("n_chars"), k = 50, salt = "w42")
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")

  /** Per-source weighted sampling
    * ([[operators.Sampling.weightedSampleByGroup]]): 10 docs per source
    * proportional to `n_chars`, the WindowGroupLimit shape; the oracle
    * replays the rank inside a per-source window. */
  private val d64: (SparkSession, String) => DataFrame = (s, dir) =>
    operators.Sampling.weightedSampleByGroup(t(s, dir, "documents"),
      F.col("source"), F.col("doc_id"), F.col("n_chars"),
      k = 10, salt = "w42")
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")

  /** IVF ANN with EXHAUSTIVE probing (`nprobe = nlist`): every cell is
    * probed, so the result is exactly brute-force top-k — which makes the
    * whole IVF pipeline (sampled k-means training, native-expression
    * assignment, probe explode, cell join, exact rescore) checkable against
    * the same DuckDB all-pairs oracle as d04. Partial-probe recall is
    * spec-checked on clustered data (`OperatorsSpec`). */
  private val d14: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(F.col("vec_id") < 5)
    Similarity.ivfTopK(
      emb.filter(F.col("vec_id") >= 5), F.col("vec_id"), F.col("embedding"),
      queries, F.col("vec_id"), F.col("embedding"), k = 5,
      nlist = 16, nprobe = 16)
      .withColumn("cosine", F.round(F.col("cosine"), 6))
      .orderBy("query_id", "rank")
  }

  /** Connected components over the verified near-dup pairs: per-doc cluster
    * label = min doc id reachable through the pair graph (large-star /
    * small-star rounds; oracle = DuckDB recursive-CTE transitive closure
    * over the same brute-force Jaccard pairs). Pins the public name
    * `duplicateClusters`; d34 pins `duplicateClustersStar` against the
    * same oracle. */
  private val d15: (SparkSession, String) => DataFrame = (s, dir) => {
    val pairs = Dedup.minhashDuplicatePairs(t(s, dir, "documents"),
      F.col("doc_id"), F.col("text"), threshold = 0.8,
      shingleSize = 3, numHashes = 64, bands = 8)
    Dedup.duplicateClusters(pairs).orderBy("id")
  }

  /** End-to-end near-dedup: one canonical doc (min id) per cluster plus all
    * unpaired docs. */
  private val d16: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.dedupNear(t(s, dir, "documents"), F.col("doc_id"), F.col("text"),
      threshold = 0.8, shingleSize = 3, numHashes = 64, bands = 8)
      .select("doc_id").orderBy("doc_id")

  /** Canonical text normalization (lowercase + native NFD accent-strip +
    * whitespace collapse). Accented input is synthesized via `translate` so
    * the oracle (DuckDB `strip_accents`) genuinely exercises the NFD path
    * on this ASCII corpus. */
  private val d17: (SparkSession, String) => DataFrame = (s, dir) =>
    t(s, dir, "documents").select(F.col("doc_id"),
      TextAnalysis.normalize(
        F.translate(F.col("text"), "aeo", "áéö")).as("norm"))
      .orderBy("doc_id")

  /** Corpus vocabulary with document-frequency banding. */
  private val d18: (SparkSession, String) => DataFrame = (s, dir) =>
    // maxDfRatio 0.9 keeps ~31 tokens in-band at sf0.01 (0.5 left a single
    // row, so the oracle hash had almost no teeth)
    TextAnalysis.vocabulary(t(s, dir, "documents"),
      F.col("doc_id"), F.col("text"), minDf = 2L, maxDfRatio = 0.9)
      .orderBy("token")

  /** Top-5 TF-IDF terms per document. */
  private val d19: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.tfidfTopTerms(t(s, dir, "documents"),
      F.col("doc_id"), F.col("text"), k = 5)
      .orderBy("doc_id", "rank")

  /** Candidate-volume per stage of the d07 pipeline (r3 verdict #8): lets
    * a bench regression in the dedup family be split into "more
    * candidates" vs "slower plumbing" by diffing these counts across
    * rounds. */
  private val d20: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.ngramStageCounts(t(s, dir, "documents"),
      F.col("doc_id"), F.col("text"), shingleSize = 3, maxDf = 20,
      minCooccur = 2)
      .orderBy("stage")

  /** Repetition quality signals (Gopher-style rep-filters). The corpus has
    * little natural line structure, so both engine and oracle append the
    * doc's own 40-char prefix twice as extra lines — deterministic,
    * identical on both sides, and guarantees the duplicate-line stats are
    * non-trivially exercised. */
  private val d21: (SparkSession, String) => DataFrame = (s, dir) => {
    val tx = F.concat_ws("\n", F.col("text"),
      F.substring(F.col("text"), 1, 40), F.substring(F.col("text"), 1, 40))
    t(s, dir, "documents")
      .select(F.col("doc_id"), TextAnalysis.repetitionStats(tx).as("r"))
      .select(F.col("doc_id"),
        F.round(F.col("r.dup_line_frac"), 6).as("dup_line_frac"),
        F.round(F.col("r.dup_line_char_frac"), 6).as("dup_line_char_frac"),
        F.round(F.col("r.top_bigram_share"), 6).as("top_bigram_share"))
      .orderBy("doc_id")
  }

  /** PII/link scrub over text with injected synthetic email/URL/IP (same
    * injection in the oracle SQL; patterns restricted to syntax identical
    * in java.util.regex and DuckDB's RE2). */
  private val d22: (SparkSession, String) => DataFrame = (s, dir) => {
    import org.apache.spark.sql.types.StringType
    val id = F.col("doc_id").cast(StringType)
    val tx = F.concat(F.col("text"), F.lit(" contact user"), id,
      F.lit("@example.com or http://site"), id,
      F.lit(".example/path?q=1 at 10.0."),
      (F.col("doc_id") % 256).cast(StringType), F.lit(".7 end"))
    t(s, dir, "documents")
      .select(F.col("doc_id"), TextAnalysis.scrub(tx).as("scrubbed"))
      .orderBy("doc_id")
  }

  /** Benchmark-contamination scan: 20 "eval items" (200-char prefixes of
    * every 25th doc) checked for 3-gram overlap against the whole corpus.
    * Each item is guaranteed contaminated at least by its own source doc,
    * so the oracle always has teeth; near-dup families add more hits. */
  private val d23: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(F.col("doc_id") % 25 === 0)
      .select(F.col("doc_id").as("bid"),
        F.substring(F.col("text"), 1, 200).as("btext"))
    Dedup.contamination(docs, F.col("doc_id"), F.col("text"),
      bench, F.col("bid"), F.col("btext"), shingleSize = 3, minOverlap = 5)
      .withColumn("overlap_ratio", F.round(F.col("overlap_ratio"), 6))
      .orderBy("doc_id", "bench_id")
  }

  /** Cross-document line dedup (C4-style boilerplate removal). The corpus
    * has no natural line structure, so both engine and oracle append a
    * shared footer line (7 variants → ~71 docs each, removed at
    * minDocs=10) and a per-doc unique line (kept). */
  private val d24: (SparkSession, String) => DataFrame = (s, dir) => {
    val tx = F.concat(F.col("text"),
      F.lit("\nshared footer "), (F.col("doc_id") % 7).cast("string"),
      F.lit("\nunique line "), F.col("doc_id").cast("string"))
    Dedup.dedupLines(
      t(s, dir, "documents").select(F.col("doc_id"), tx.as("tx")),
      F.col("doc_id"), F.col("tx"), minDocs = 10)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Token-budget sequence packing: shard the corpus into contiguous bins
    * of ~2000 whitespace tokens over doc_id order. The exclusive prefix sum
    * comes from the distributed zipWithPrefixSum backbone (one range
    * shuffle + a partials job), never a single-partition window. */
  private val d25: (SparkSession, String) => DataFrame = (s, dir) =>
    Packing.packSequences(t(s, dir, "documents"),
      TextAnalysis.tokenCount(F.col("text")), budget = 2000L,
      order = Seq(F.col("doc_id")))
      .select("doc_id", "tokens_before", "bin")
      .orderBy("doc_id")

  /** Quality-quantile gate: keep the top half of the corpus by quality
    * score (threshold = exact median, computed as a scalar subquery inside
    * the same plan — no driver action). */
  private val d26: (SparkSession, String) => DataFrame = (s, dir) => {
    // score into a named column FIRST: the gate's threshold subquery and
    // filter then reference it instead of re-evaluating the regex-heavy
    // quality expression per pass (3 evals -> the 2 inherent to any
    // self-referential quantile)
    val scored = t(s, dir, "documents")
      .select(F.col("doc_id"),
        TextAnalysis.qualityScore(F.col("text")).as("quality"))
    // the gate reads `scored` twice (threshold subquery + the filter
    // pass) and the quality regex battery dominates the scan — cache the
    // scored frame so the corpus is regex-scored ONCE per invocation
    // (measured ~1.6x on d26/d38). Repeated invocations build equal
    // plans, which the CacheManager keeps as one entry.
    scored.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact = true HERE ONLY for cross-engine oracle parity (DuckDB can
    // replay an exact interpolated percentile, not Spark's GK sketch);
    // the operator DEFAULT is approx — the 100 TB posture, exercised and
    // tolerance-verified by d38_quality_gate_approx
    TextAnalysis.quantileFilter(scored, F.col("quality"), q = 0.5,
      exact = true)
      .orderBy("doc_id")
  }

  /** Stateless decontamination gate: the d23 bench set collected to sorted
    * shingle hashes, folded into the scan as a plan literal; docs sharing
    * >= 5 shingles with the UNION of bench items are dropped. */
  private val d27: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(F.col("doc_id") % 25 === 0)
      .select(F.substring(F.col("text"), 1, 200).as("btext"))
    val hashes = Dedup.benchShingleHashes(bench, F.col("btext"), 3)
    Dedup.decontaminate(docs, F.col("text"), hashes, shingleSize = 3,
      minOverlap = 5)
      .select("doc_id").orderBy("doc_id")
  }

  /** Deterministic hash split (train/val/test 80/10/10): sticky, portable
    * (md5-hex bucket on both engines), pure scan expression. */
  private val d28: (SparkSession, String) => DataFrame = (s, dir) =>
    Sampling.hashSplit(t(s, dir, "documents"), F.col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s42")
      .select("doc_id", "split").orderBy("doc_id")

  /** Domain-mixture sampling: 2:1:1 token mix over sources src0/src1/src2
    * with an 8000-token total budget (src3/src4 excluded from the mix).
    * Bucket-granular admission — the oracle twin replays the same
    * two-level cumulative-bucket plan in SQL. */
  private val d29: (SparkSession, String) => DataFrame = (s, dir) =>
    Sampling.mixture(t(s, dir, "documents"), F.col("source"),
      F.col("doc_id"), TextAnalysis.tokenCount(F.col("text")),
      weights = Map("src0" -> 2.0, "src1" -> 1.0, "src2" -> 1.0),
      totalBudget = 8000L, salt = "m1")
      .select("doc_id", "source").orderBy("doc_id")

  /** Cross-corpus near dedup: even docs (the "new batch") deduped against
    * odd docs (the "accepted corpus") at Jaccard ≥ 0.8 — the incremental
    * ingest gate. Oracle = brute-force cross-side Jaccard in DuckDB. */
  private val d30: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    Dedup.dedupAgainstNear(
      docs.filter(F.col("doc_id") % 2 === 0), F.col("doc_id"), F.col("text"),
      docs.filter(F.col("doc_id") % 2 === 1), F.col("doc_id"), F.col("text"),
      threshold = 0.8)
      .select("doc_id").orderBy("doc_id")
  }

  /** Persisted-LSH-index incremental dedup (index-once / dedup-many —
    * the minhash twin of d43's disk IVF index): the accepted corpus (even
    * doc_ids) is indexed ONCE to parquet (band-partitioned postings +
    * shingle-hash features), then the incoming batch (odd doc_ids, plus
    * planted copies of the first 25 even docs under fresh ids — identical
    * text ⇒ identical signature ⇒ caught with probability 1) dedups
    * against the index without re-reading the corpus. Verification is
    * EXACT shingle-set Jaccard from the stored features, so DuckDB
    * replays the decision rule verbatim (d30's oracle shape). */
  private val d51: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val accepted = docs.filter(F.col("doc_id") % 2 === 0)
    val batch = docs.filter(F.col("doc_id") % 2 === 1)
      .unionAll(docs
        .filter(F.col("doc_id") % 2 === 0 && F.col("doc_id") < 50)
        .select((F.col("doc_id") + 1000000L).as("doc_id"), F.col("text")))
    val idx = scratch(s"d51_index_${dir.hashCode.abs}")
    Dedup.writeMinhashIndex(accepted, F.col("doc_id"), F.col("text"), idx,
      shingleSize = 3, numHashes = 64, bands = 8)
    Dedup.dedupAgainstIndex(batch, F.col("doc_id"), F.col("text"), idx,
      threshold = 0.8)
      .select("doc_id").orderBy("doc_id")
  }

  /** Bench-only amortization twin of d51 (the steady state of
    * index-once/dedup-many ingest): the index is built at most once per
    * corpus — keyed on the corpus FILE identity (path hash + size +
    * mtime, the d44-cache lesson: a regenerated file must not serve a
    * stale index) — so a timed run pays only the PROBE.
    * [[d30]]-style `dedupAgainstNear` on the same split is the
    * re-scan-the-corpus-every-batch baseline it amortizes against. */
  private val d52: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    // key on file identity (name/size/mtime per part — tableKey), not the
    // dir string: a regenerated corpus must never probe a stale index
    val key = Integer.toHexString(tableKey(dir, "documents").hashCode)
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_mh_bench_$key"
    if (!new java.io.File(s"$idx/meta/_SUCCESS").exists())
      Dedup.writeMinhashIndex(docs.filter(F.col("doc_id") % 2 === 0),
        F.col("doc_id"), F.col("text"), idx,
        shingleSize = 3, numHashes = 64, bands = 8)
    Dedup.dedupAgainstIndex(
      docs.filter(F.col("doc_id") % 2 === 1), F.col("doc_id"), F.col("text"),
      idx, threshold = 0.8)
      .select("doc_id").orderBy("doc_id")
  }

  /** The live-path baseline for [[d52]] on the SAME split direction
    * (batch = odd ids vs accepted = even ids): full corpus re-scan per
    * batch. Bench-only. */
  private val d53: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    Dedup.dedupAgainstNear(
      docs.filter(F.col("doc_id") % 2 === 1), F.col("doc_id"), F.col("text"),
      docs.filter(F.col("doc_id") % 2 === 0), F.col("doc_id"), F.col("text"),
      threshold = 0.8, numHashes = 64, bands = 8)
      .select("doc_id").orderBy("doc_id")
  }

  /** Bloom-filter membership gate: all docs gated against the first-50
    * texts as a blocklist (fpp 1e-3). Probabilistic by nature (false
    * positives are engine-specific) → rows-only check; exactness lives in
    * the spec (planted members never survive, FPR bounded). */
  private val d31: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    Dedup.bloomGate(docs, F.col("text"),
      docs.filter(F.col("doc_id") < 50), F.col("text"),
      expectedItems = 100L, fpp = 0.001)
      .select("doc_id").orderBy("doc_id")
  }

  /** Flagship ingest pipeline in ONE plan: normalize (accent injection as
    * in d17 so the NFD strip does real work) → quality-quantile gate (top
    * half) → stateless decontamination vs the d23 bench set → sticky
    * train split → token-window chunking. Every stage is one of the
    * individually-oracle-proven operators; this query proves they COMPOSE
    * — the DuckDB twin replays the whole pipeline. */
  private val d37: (SparkSession, String) => DataFrame = (s, dir) =>
    d37Body(s, dir, exact = true)

  /** d37's pipeline with the quantile gate on its DEFAULT sketch path
    * (`exact = false`) — the 100 TB posture, bench-only: the sketch
    * threshold is engine-specific so the chunk rows have no DuckDB twin
    * (d38 proves the sketch within tolerance; d37 proves the exact-path
    * composition). Lives in [[benchOnlyQueries]]: runnable by name for
    * the SCALING.md sketch-path curves, excluded from the driver's
    * correctness and full-bench sweeps. */
  private val d47: (SparkSession, String) => DataFrame = (s, dir) =>
    d37Body(s, dir, exact = false)

  private def d37Body(s: SparkSession, dir: String,
      exact: Boolean): DataFrame = {
    val docs = t(s, dir, "documents")
    val normed = docs.select(F.col("doc_id"),
      TextAnalysis.normalize(
        F.translate(F.col("text"), "aeo", "áéö")).as("norm"))
    // normalize+quality are the regex-heavy scan work and feed BOTH the
    // quantile threshold subquery and the surviving pipeline — persist so
    // the corpus is normalized once (the 100 TB posture is the same:
    // materialize normalized text at ingest, filter and chunk from it)
    val scored = normed.withColumn("quality",
      TextAnalysis.qualityScore(F.col("norm")))
    scored.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact percentile solely for the DuckDB replay (d37); the operator
    // default (approx_percentile sketch) is the documented 100 TB posture
    // — d47 runs this same body with `exact = false` for the SCALING.md
    // sketch-path curves (d38 proves the approx path within tolerance)
    val gated = TextAnalysis.quantileFilter(scored, F.col("quality"), 0.5,
      exact = exact)
    val bench = docs.filter(F.col("doc_id") % 25 === 0)
      .select(TextAnalysis.normalize(
        F.translate(F.substring(F.col("text"), 1, 200), "aeo", "áéö"))
        .as("bnorm"))
    val hashes = Dedup.benchShingleHashes(bench, F.col("bnorm"), 3)
    val clean = Dedup.decontaminate(gated, F.col("norm"), hashes,
      shingleSize = 3, minOverlap = 5)
    val train = Sampling.hashSplit(clean, F.col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "p1")
      .filter(F.col("split") === "train")
    TextAnalysis.chunk(train, F.col("doc_id"), F.col("norm"),
      size = 40, overlap = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_id")
  }

  /** Approx-path twin of d26 — the quality gate on its DEFAULT
    * (approx_percentile sketch) threshold, the 100 TB posture. A sketch
    * value is engine-specific, so the oracle is TOLERANCE-BASED: the query
    * outputs the ε-quantile contract itself — `count(≤thr)/n ≥ q − 0.01`
    * and `count(<thr)/n ≤ q + 0.01` (tie-safe by construction; the
    * sketch's guarantee is ε = 1/accuracy = 1e-4) — plus the gate-boundary
    * identity `min(kept quality) ≥ thr`, all as ints the oracle pins to 1,
    * and the exactly-matchable corpus count. */
  private val d38: (SparkSession, String) => DataFrame = (s, dir) => {
    val scored = t(s, dir, "documents")
      .select(F.col("doc_id"),
        TextAnalysis.qualityScore(F.col("text")).as("quality"))
    // four consumers of the regex-heavy scored frame (threshold sketch,
    // gate filter, min-kept subquery, the contract aggregation) — score
    // the corpus once (d26 posture)
    scored.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr = TextAnalysis.quantileThreshold(scored, F.col("quality"), 0.5)
    val gated = TextAnalysis.quantileFilter(scored, F.col("quality"), 0.5)
    val minKept = org.apache.spark.sql.graftbridge.Bridge.scalarSubquery(
      gated.agg(F.min("quality")))
    scored
      .select(F.col("quality"), thr.as("__thr"), minKept.as("__min_kept"))
      .agg(
        F.count(F.lit(1)).as("n_docs"),
        (F.count_if(F.col("quality") <= F.col("__thr")) >=
          F.count(F.lit(1)) * 0.49).cast("int").as("rank_lower_ok"),
        (F.count_if(F.col("quality") < F.col("__thr")) <=
          F.count(F.lit(1)) * 0.51).cast("int").as("rank_upper_ok"),
        (F.min("__min_kept") >= F.min("__thr")).cast("int")
          .as("gate_min_ok"))
  }

  /** Approx-path twin of d35 — corpusStats on its DEFAULT sketch
    * percentiles. Totals/max are exactly oracle-matched; the approx
    * p50/p90 are validated against the ε-quantile contract (rank window
    * ±0.01·n, sketch guarantee 1e-4) as oracle-pinned ints. */
  private val d39: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val stats = TextAnalysis.corpusStats(docs, F.col("text"))
    val br = org.apache.spark.sql.graftbridge.Bridge
    val p50 = br.scalarSubquery(stats.select("p50_tokens"))
    val p90 = br.scalarSubquery(stats.select("p90_tokens"))
    docs
      .select(TextAnalysis.tokenCount(F.col("text")).as("__tok"),
        p50.as("__p50"), p90.as("__p90"))
      .agg(
        F.count(F.lit(1)).as("n_docs"),
        F.sum("__tok").as("n_tokens"),
        F.max("__tok").as("max_tokens"),
        (F.count_if(F.col("__tok") <= F.col("__p50")) >=
          F.count(F.lit(1)) * 0.49).cast("int").as("p50_lower_ok"),
        (F.count_if(F.col("__tok") < F.col("__p50")) <=
          F.count(F.lit(1)) * 0.51).cast("int").as("p50_upper_ok"),
        (F.count_if(F.col("__tok") <= F.col("__p90")) >=
          F.count(F.lit(1)) * 0.89).cast("int").as("p90_lower_ok"),
        (F.count_if(F.col("__tok") < F.col("__p90")) <=
          F.count(F.lit(1)) * 0.91).cast("int").as("p90_upper_ok"))
  }

  /** Duplicated-span dedup (ExactSubstr): strip every 8-token span that
    * recurs across >= 2 documents, reassemble the survivors — the
    * token-level boilerplate pass. Oracle replays k-gram frequency +
    * coverage + positional reassembly in DuckDB on the gram STRINGS
    * (the engine's 8-byte xxhash64 keys are an internal detail — the
    * surviving text is hash-agnostic). */
  private val d40: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.dedupSpans(t(s, dir, "documents"), F.col("doc_id"),
      F.col("text"), k = 8, minDocs = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Gopher rule battery (published web-corpus heuristics): per-document
    * signals + the standard pass/fail gate, fully replayed in DuckDB
    * (every signal is a deterministic string/list expression). */
  private val d41: (SparkSession, String) => DataFrame = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("__g", TextAnalysis.gopherStats(F.col("text")))
      .select(F.col("doc_id"),
        F.col("__g.word_count").as("word_count"),
        F.col("__g.mean_word_len").as("mean_word_len"),
        F.col("__g.symbol_word_ratio").as("symbol_word_ratio"),
        F.col("__g.bullet_line_frac").as("bullet_line_frac"),
        F.col("__g.ellipsis_line_frac").as("ellipsis_line_frac"),
        F.col("__g.alpha_word_frac").as("alpha_word_frac"),
        F.col("__g.req_stopword_hits").as("req_stopword_hits"),
        TextAnalysis.gopherPasses(F.col("__g")).cast("int").as("passes"))
      .orderBy("doc_id")

  /** Corpus-wide top-25 bigrams — the boilerplate-discovery scan; exact
    * multiset counts, so DuckDB replays it 1:1 (same tokenization, same
    * count-desc/gram-asc tie-break). */
  private val d42: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.topNgrams(t(s, dir, "documents"), F.col("text"),
      n = 2, k = 25)

  /** The IVF DISK-index path end-to-end: train + assign, write the index
    * `partitionBy("cell")` to parquet, re-read, search with every cell
    * probed — the probe IN-filter prunes to the probed partitions
    * statically, and exhaustive probing makes the result exactly brute
    * force, so the d04 DuckDB oracle checks this path too. */
  /** Per-process scratch root for disk-index round-trip queries: a FIXED
    * path per query name (mode overwrite — repeated bench/verify runs
    * reuse it instead of leaking one directory per invocation, r6 ADVICE
    * #4), removed recursively on JVM exit. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_scratch_${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(p)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
      }
      del(p.toFile)
    }))
    p
  }
  private def scratch(name: String): String =
    scratchRoot.resolve(name).toString

  private val d43: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val idx = Similarity.ivfIndex(emb.filter(F.col("vec_id") >= 5),
      F.col("vec_id"), F.col("embedding"), nlist = 8)
    val tmp = scratch("d43_index")
    idx.assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(tmp)
    Similarity.ivfSearch(
      Similarity.IvfIndex(idx.centroids, s.read.parquet(tmp)),
      emb.filter(F.col("vec_id") < 5), F.col("vec_id"), F.col("embedding"),
      k = 5, nprobe = 8)
      .withColumn("cosine", F.round(F.col("cosine"), 6))
      .orderBy("query_id", "rank")
  }

  /** The persisted IVF index LIFECYCLE (the embedding twin of d51's
    * MinHash story): train+write on HALF the corpus, APPEND the other
    * half as a segment assigned to the stored centroids (idempotent
    * dynamic-overwrite — the streaming-batch contract), probe every cell.
    * Exhaustive probing makes the result exactly brute force over the
    * FULL corpus, so the d04 DuckDB oracle checks the whole lifecycle —
    * a lost/duplicated/mis-assigned appended vector hash-fails. */
  private val d54: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val path = scratch(s"d54_index_${dir.hashCode.abs}")
    // even ids train+seed the index, odd ids arrive later as a segment —
    // an SF-independent deterministic split
    Similarity.writeIvfIndex(
      emb.filter(F.col("vec_id") >= 5 && F.col("vec_id") % 2 === 0),
      F.col("vec_id"), F.col("embedding"), path, nlist = 8)
    Similarity.appendToIvfIndex(
      emb.filter(F.col("vec_id") >= 5 && F.col("vec_id") % 2 === 1),
      F.col("vec_id"), F.col("embedding"), path, "b0")
    Similarity.searchIvfIndex(s, path,
      emb.filter(F.col("vec_id") < 5), F.col("vec_id"), F.col("embedding"),
      k = 5, nprobe = 8)
      .withColumn("cosine", F.round(F.col("cosine"), 6))
      .orderBy("query_id", "rank")
  }

  /** Near-dedup keeping the best-QUALITY member per duplicate cluster
    * instead of the minimum id ([[Dedup.dedupNearKeepBest]]): clusters
    * come from the same verified MinHash pair graph as d15; the winner is
    * the member with the maximum quality score, ties to the smallest id.
    * The oracle replays everything in DuckDB — recursive-CTE closure over
    * brute-force Jaccard pairs (d15's twin) + the quality formula (d26's
    * twin) + a window arg-max per cluster — so a wrong winner, a dropped
    * unpaired doc, or a surviving loser all hash-fail. */
  private val d55: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.dedupNearKeepBest(t(s, dir, "documents"), F.col("doc_id"),
      F.col("text"), TextAnalysis.qualityScore(F.col("text")),
      threshold = 0.8, shingleSize = 3, numHashes = 64, bands = 8)
      .select(F.col("doc_id"),
        TextAnalysis.qualityScore(F.col("text")).as("quality"))
      .orderBy("doc_id")

  /** The shared planted-copy fixture for semantic dedup: the embeddings
    * corpus plus ×2-scaled copies of ids < 100 and ×0.5-scaled copies of
    * ids < 50 (cosine is scale-invariant, so every copy sits at cosine
    * 1.0 to its original and both copies of the same id to each other;
    * the natural corpus maxes out at cosine ≈0.51 — verified per SF —
    * so at threshold 0.95 exactly the 150 planted copies die).
    *
    * The base corpus is CAPPED at vec_id < 10000 (a no-op at the
    * driver's sf0.01/sf0.1 sizes — 500/2000 rows — with the identical
    * cap in the oracle SQL): d56's contract runs `nClusters = 1`, whose
    * one-cell brute-force equivalence is the point, and an UNCAPPED sf1
    * corpus (20k rows) would trip `semanticDedup`'s quadratic-cell
    * guard — the guard working as built, but erring the full-suite
    * sweep forever (r16 verdict #4). The nClusters=1 ≡ brute-force
    * contract holds at any fixed size, so pinning the fixture size
    * keeps it checkable at every SF. */
  private def semanticAug(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      .filter(F.col("vec_id") < 10000)
    e.unionAll(e.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 10000000L).as("vec_id"),
        F.transform(F.col("embedding"), x => x * F.lit(2.0f))
          .as("embedding")))
      .unionAll(e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 20000000L).as("vec_id"),
        F.transform(F.col("embedding"), x => x * F.lit(0.5f))
          .as("embedding")))
  }

  /** SemDeDup with `nClusters = 1`: the kill rule degenerates to the
    * brute-force all-pairs contract ("b dies iff some lower-id a has
    * cosine ≥ τ"), which the DuckDB oracle recomputes exactly — the
    * clustered path's correctness gate before d57 trusts the bucketing. */
  private val d56: (SparkSession, String) => DataFrame = (s, dir) =>
    Similarity.semanticDedup(semanticAug(s, dir), F.col("vec_id"),
      F.col("embedding"), threshold = 0.95, nClusters = 1)
      .select("vec_id").orderBy("vec_id")

  /** SemDeDup at a REAL cluster count (the scale configuration — the
    * within-cell join is what runs at 100 TB): same fixture, same oracle
    * as d56. Equivalence is guaranteed on this fixture because scaled
    * copies co-assign with their originals (argmax of centroid dots is
    * invariant to positive scaling) and no natural pair reaches the 0.95
    * threshold (corpus max ≈0.51), so no killing pair can straddle a cell
    * boundary — the one recall trade the operator documents. */
  private val d57: (SparkSession, String) => DataFrame = (s, dir) =>
    Similarity.semanticDedup(semanticAug(s, dir), F.col("vec_id"),
      F.col("embedding"), threshold = 0.95, nClusters = 8)
      .select("vec_id").orderBy("vec_id")

  /** d54's lifecycle plus [[Similarity.compactIvfIndex]]: write half,
    * append the other half as a segment, COMPACT (fold segments into
    * `base` without retraining), then probe every cell — still exactly
    * brute force over the full corpus, so the d04 oracle checks that
    * compaction lost, duplicated, or re-assigned nothing. */
  private val d58: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val path = scratch(s"d58_index_${dir.hashCode.abs}")
    Similarity.writeIvfIndex(
      emb.filter(F.col("vec_id") >= 5 && F.col("vec_id") % 2 === 0),
      F.col("vec_id"), F.col("embedding"), path, nlist = 8)
    Similarity.appendToIvfIndex(
      emb.filter(F.col("vec_id") >= 5 && F.col("vec_id") % 2 === 1),
      F.col("vec_id"), F.col("embedding"), path, "b0")
    Similarity.compactIvfIndex(s, path)
    Similarity.searchIvfIndex(s, path,
      emb.filter(F.col("vec_id") < 5), F.col("vec_id"), F.col("embedding"),
      k = 5, nprobe = 8)
      .withColumn("cosine", F.round(F.col("cosine"), 6))
      .orderBy("query_id", "rank")
  }

  /** Linear classifier scoring — the DCLM/fastText "apply a quality model
    * head at corpus scale" shape ([[TextAnalysis.scoreLinear]]): the
    * weight table derives deterministically from the corpus's own in-band
    * vocabulary (d18's banding) as fixed-point integers
    * `sign(len parity) * floor(1000 * ln(1 + term_freq))` with
    * `scale = 0.001`, so the distributed per-doc sum is exact under any
    * partitioning; bias −0.5. OOV occurrences die at the inner join
    * before the one per-doc shuffle. */
  private val d59: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val weights = TextAnalysis.vocabulary(docs,
        F.col("doc_id"), F.col("text"), minDf = 2L, maxDfRatio = 0.9)
      .select(F.col("token").as("term"),
        (F.when(F.length(F.col("token")) % 2 === 0, 1.0).otherwise(-1.0) *
          F.floor(F.lit(1000.0) *
            F.log(F.lit(1.0) + F.col("term_freq"))).cast("double"))
          .as("weight"))
    TextAnalysis.scoreLinear(docs, F.col("doc_id"), F.col("text"),
      weights, bias = -0.5, scale = 0.001).orderBy("doc_id")
  }

  /** Unicode NFC normalization ([[functions.TextExprs.unicodeNormalize]])
    * — the text-canonicalization step before byte-level dedup: a
    * decomposed-form suffix (combining acute + a ligature) is planted on
    * every row so the normalization is load-bearing; the oracle replays
    * with DuckDB's `nfc_normalize`. NFKC compatibility folding is
    * spec-pinned (DuckDB has no NFKC). */
  private val d65: (SparkSession, String) => DataFrame = (s, dir) =>
    t(s, dir, "documents")
      .select(F.col("doc_id"),
        functions.TextExprs.unicodeNormalize(
          F.concat(F.col("text"),
            F.lit(" e\u0301 \ufb01")), "NFC")
          .as("text_nfc"))
      .orderBy("doc_id")

  /** CCNet-shaped perplexity signal
    * ([[TextAnalysis.unigramLogLoss]]): the even-id half of the corpus
    * is the reference model, every document is scored by add-one
    * smoothed unigram log-loss — OOV-dense and off-distribution docs
    * score high, the gate-on-distribution composition d26 already
    * exercises. */
  private val d66: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    TextAnalysis.unigramLogLoss(docs, F.col("doc_id"), F.col("text"),
      docs.filter(F.col("doc_id") % 2 === 0), F.col("text"))
      .orderBy("doc_id")
  }

  /** Numeric distribution drift ([[operators.Drift.psi]]) between two
    * snapshot halves of the corpus over `n_chars` — per-bucket PSI with
    * the Jeffreys-smoothed shares in the published contract. */
  private val d60: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    operators.Drift.psi(
      docs.filter(F.col("doc_id") % 2 === 0),
      docs.filter(F.col("doc_id") % 2 === 1),
      F.col("n_chars"), Seq(100.0, 200.0, 400.0, 800.0))
  }

  /** Categorical drift ([[operators.Drift.psiCategorical]]) over the
    * `source` label — the language/source-mix monitoring shape. */
  private val d61: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    operators.Drift.psiCategorical(
      docs.filter(F.col("doc_id") % 2 === 0),
      docs.filter(F.col("doc_id") % 2 === 1),
      F.col("source"))
  }

  /** RECALL contract for the LSH top-k path (d09's correctness signal,
    * r6 verdict #1): run [[Similarity.lshTopK]] and the exact
    * [[Similarity.bruteForceTopK]] on the SAME fixture as d04/d09 and
    * emit per-query contract ints — `full_k` (LSH returned exactly k
    * results) and `recall_ok` (≥ 3 of the exact top-5 recovered). The
    * oracle pins both to 1 for every query (the d38/d39 ε-contract
    * pattern): bucket contents are engine-specific, but with seeded
    * hyperplanes the recall itself is deterministic, so a floor with
    * margin is a hard cross-engine contract. d09 itself stays the pure
    * LSH query — folding brute force into it would invalidate the
    * SCALING.md sublinearity comparison (d09 vs d04 at 200k vectors).
    *
    * The exact side is DETERMINISTIC and bounded (|queries| · k = 25 id
    * pairs by contract), so it is computed once per (process, dir) and
    * replayed as a local relation (r7 verdict #6) — repeat bench runs pay
    * the brute-force scan once, and the semi-join side becomes a
    * broadcast instead of a recomputed DAG. */
  private val d44ExactCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Long)]]()

  /** Cache key = canonical dir + embeddings file identity (size + mtime,
    * per part-file for a directory layout): a raw dir-string key served
    * stale pairs when the data at the path was regenerated in-process or
    * the same dir was spelled two ways (r8 ADVICE). */
  /** File-identity key for per-corpus caches: canonical path + per-part
    * name/size/mtime, so a regenerated table (same path, new bytes) never
    * serves a stale cached artifact — works for both single-file and
    * directory-shaped parquet (a directory's own length/mtime can stay
    * unchanged while part files are rewritten in place). */
  private def tableKey(dir: String, table: String): String = {
    val root = new java.io.File(dir).getCanonicalFile
    val t = new java.io.File(root, s"$table.parquet")
    val files =
      if (t.isDirectory)
        Option(t.listFiles()).map(_.toSeq.sortBy(_.getName))
          .getOrElse(Seq(t))
      else Seq(t)
    files.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(root.getPath + "|", ",", "")
  }

  private def d44CacheKey(dir: String): String = tableKey(dir, "embeddings")

  private val d44: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val corpus = emb.filter(F.col("vec_id") >= 5)
    val queries = emb.filter(F.col("vec_id") < 5)
    val approx = Similarity.lshTopK(
      corpus, F.col("vec_id"), F.col("embedding"),
      queries, F.col("vec_id"), F.col("embedding"),
      k = 5, planes = 8, bands = 4)
    val exactPairs = d44ExactCache.computeIfAbsent(d44CacheKey(dir), _ =>
      Similarity.bruteForceTopK(
        corpus, F.col("vec_id"), F.col("embedding"),
        queries, F.col("vec_id"), F.col("embedding"), k = 5)
        .select("query_id", "corpus_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val exact = {
      import s.implicits._
      exactPairs.toDF("query_id", "corpus_id")
    }
    val hits = approx.join(exact, Seq("query_id", "corpus_id"), "left_semi")
      .groupBy("query_id").agg(F.count(F.lit(1)).as("__hits"))
    val returned = approx.groupBy("query_id")
      .agg(F.count(F.lit(1)).as("__n"))
    queries.select(F.col("vec_id").as("query_id"))
      .join(returned, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(F.col("query_id"),
        (F.coalesce(F.col("__n"), F.lit(0L)) === 5).cast("int").as("full_k"),
        (F.coalesce(F.col("__hits"), F.lit(0L)) >= 3).cast("int")
          .as("recall_ok"))
      .orderBy("query_id")
  }

  /** SQ8 (int8-in-index) IVF disk path end-to-end (r6 verdict #7): train,
    * quantize ([[Similarity.ivfIndexQuantized]] — 4× smaller index), write
    * `partitionBy("cell")`, re-read, search with every cell probed
    * through the DEQUANTIZED scoring path, and pin the result against the
    * exact brute-force twin: per query, ≥4 of the exact top-5 recovered,
    * every matched cosine within 0.01 of exact, exactly k rows returned —
    * all as oracle-pinned contract ints (scores are approximate by
    * design, so the d43 exact-equality oracle can't apply). */
  private val d46: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val corpus = emb.filter(F.col("vec_id") >= 5)
    val queries = emb.filter(F.col("vec_id") < 5)
    val idx = Similarity.ivfIndex(corpus, F.col("vec_id"),
      F.col("embedding"), nlist = 8)
    val tmp = scratch("d46_index")
    Similarity.ivfIndexQuantized(idx).write.mode("overwrite")
      .partitionBy("cell").parquet(tmp)
    val approx = Similarity.ivfSearchQuantized(idx.centroids,
      s.read.parquet(tmp), queries, F.col("vec_id"), F.col("embedding"),
      k = 5, nprobe = 8)
    val exact = Similarity.bruteForceTopK(corpus, F.col("vec_id"),
      F.col("embedding"), queries, F.col("vec_id"), F.col("embedding"),
      k = 5)
    approx
      .join(exact.select(F.col("query_id"), F.col("corpus_id"),
        F.col("cosine").as("__ec")), Seq("query_id", "corpus_id"), "left")
      .groupBy("query_id")
      .agg(
        (F.count_if(F.col("__ec").isNotNull) >= 4).cast("int")
          .as("recall_ok"),
        F.coalesce(
          F.max(F.abs(F.col("cosine") - F.col("__ec"))) <= 0.01,
          F.lit(false)).cast("int").as("cos_err_ok"),
        (F.count(F.lit(1)) === 5).cast("int").as("full_k"))
      .orderBy("query_id")
  }

  /** SQ8 + opt-in exact rescore (r14 verdict #3): the quantized disk
    * index's top k·factor candidates re-ranked against the
    * full-precision source through an id-pruned lookup
    * ([[Similarity.RescoreSource]]) — the refine step makes the ANSWER
    * exact, so unlike d46's tolerance contract this query hash-matches
    * the d04 brute-force oracle byte-for-byte (ranks AND rounded
    * cosines). factor = 8 gives the quantized ranking 40 candidate
    * slots per query against its ~0.3% cosine error — the candidate
    * superset provably covers the true top-5 unless 35+ corpus vectors
    * crowd inside the error band of a winner. */
  private val d71: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val corpus = emb.filter(F.col("vec_id") >= 5)
    val queries = emb.filter(F.col("vec_id") < 5)
    val path = scratch(s"d71_sq8_rescore_${dir.hashCode.abs}")
    Similarity.writeIvfIndex(corpus, F.col("vec_id"), F.col("embedding"),
      path, nlist = 8, sq8 = true)
    Similarity.searchIvfIndex(s, path, queries, F.col("vec_id"),
      F.col("embedding"), k = 5, nprobe = 8,
      rescore = Some(Similarity.RescoreSource(corpus, F.col("vec_id"),
        F.col("embedding"), factor = 8)))
      .withColumn("cosine", F.round(F.col("cosine"), 6))
      .orderBy("query_id", "rank")
  }

  /** Whitened × SQ8 × exact rescore, the full composition (r15 verdict
    * #4 — d71 covers only the raw-SQ8 refine; this closes the last
    * tolerance-contract-only path in the SQ8 family): build the whitened
    * index with `sq8 = true`, search with the rescore driving the
    * caller's RAW full-precision source through the PERSISTED model
    * ([[operators.Embeddings.searchWhitenedIvfIndex]]), and assert by
    * EXECUTION that the refined ranking equals float brute force over
    * the whitened space EXACTLY — ranks and unrounded cosines (the
    * refine removes the quantization error; both sides project through
    * the same model and score through the same expression, so equality
    * is bit-level, unlike d70's 0.01-tolerance contract). The
    * distributed refine (`localizeQueries = false`, r15 verdict #2's
    * no-collect path) must return the identical set. Flags +
    * data-bound counts, the d68 oracle pattern. */
  private val d72: (SparkSession, String) => DataFrame = (s, dir) => {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val emb = t(s, dir, "embeddings")
    val path = scratch(s"d72_wsq8_rescore_${dir.hashCode.abs}")
    val corpus = emb.filter(F.col("vec_id") >= 5)
    val queries = emb.filter(F.col("vec_id") < 5)
    operators.Embeddings.writeWhitenedIvfIndex(corpus, F.col("vec_id"),
      F.col("embedding"), path, pcaK = 8, nlist = 8, seed = 7, sq8 = true)
    def key(df: DataFrame): Set[(Long, Long, Int, Double)] = df
      .select("query_id", "corpus_id", "rank", "cosine")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val rs = operators.Similarity.RescoreSource(corpus, F.col("vec_id"),
      F.col("embedding"), factor = 8)
    val got = key(operators.Embeddings.searchWhitenedIvfIndex(s, path,
      queries, F.col("vec_id"), F.col("embedding"), k = 5, nprobe = 8,
      rescore = Some(rs)))
    val gotDist = key(operators.Embeddings.searchWhitenedIvfIndex(s, path,
      queries, F.col("vec_id"), F.col("embedding"), k = 5, nprobe = 8,
      localizeQueries = false, rescore = Some(rs)))
    // float-exact truth through the SAME persisted model
    val pm = operators.Embeddings.readPcaModel(s, path)
    val cw = operators.Embeddings.pcaProject(corpus, F.col("embedding"),
      pm, "wv", whiten = true)
    val qw = operators.Embeddings.pcaProject(queries, F.col("embedding"),
      pm, "wv", whiten = true)
    val want = key(operators.Similarity.bruteForceTopK(cw, F.col("vec_id"),
      F.col("wv"), qw, F.col("vec_id"), F.col("wv"), k = 5))
    val nVecs = bridge.scalarSubquery(emb.agg(F.count(F.lit(1))))
    s.range(1).select(nVecs.as("n_vecs"),
      F.lit(got.size).cast("long").as("n_results"),
      F.lit(if (got == want) 1 else 0).as("rescore_equals_brute_ok"),
      F.lit(if (gotDist == want) 1 else 0).as("dist_equals_local_ok"))
  }

  /** Determinism contract for the order-sensitive fingerprint (d12's
    * correctness signal): hash VALUES are engine-specific (seeded xxhash
    * chain — d12 stays rows-only by nature), but identical text MUST
    * fingerprint identically, so planting verbatim copies pins
    * `fp(copy) == fp(source)` as a cross-engine contract the oracle
    * fixes to 1 for all 50 planted docs. */
  private val d48: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val planted = docs.filter(F.col("doc_id") < 50)
      .select((F.col("doc_id") + 100000L).as("doc_id"), F.col("text"))
    val fps = docs.select(F.col("doc_id"), F.col("text"))
      .unionAll(planted)
      .select(F.col("doc_id"),
        TextAnalysis.fingerprint(F.col("text")).as("__fp"))
    val src = fps.filter(F.col("doc_id") < 50)
      .select(F.col("doc_id"), F.col("__fp").as("__fa"))
    val cp = fps.filter(F.col("doc_id") >= 100000L)
      .select((F.col("doc_id") - 100000L).as("doc_id"),
        F.col("__fp").as("__fb"))
    src.join(cp, Seq("doc_id"))
      .select(F.col("doc_id"),
        (F.col("__fa") === F.col("__fb")).cast("int").as("fp_match"))
      .orderBy("doc_id")
  }

  /** Membership/FP-budget contract for the Bloom gate (d31's correctness
    * signal): which non-members get false-dropped is engine-specific
    * (d31 stays rows-only), but two properties are deterministic and
    * DuckDB-pinnable: NO true member survives (the filter direction
    * guarantee), and the false-drop count respects the fpp budget. The
    * budget scales with the corpus IN-PLAN — 10 + 3·fpp·n — so the
    * contract holds at every SF (E[FP] = fpp · non-members ≈ 0.45 at
    * sf0.01, 4.5 at sf0.1; the slack keeps the failure odds ~1e-10).
    * Same fixture as d31. */
  private val d49: (SparkSession, String) => DataFrame = (s, dir) => {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val docs = t(s, dir, "documents")
    val ref = docs.filter(F.col("doc_id") < 50)
    val kept = Dedup.bloomGate(docs, F.col("text"), ref, F.col("text"),
      expectedItems = 100L, fpp = 0.001)
    // true members = every doc whose TEXT is in the blocklist set (the
    // corpus contains exact dups, so this can exceed 50 ids)
    val members = docs.join(
      ref.select(F.col("text").as("__rt")).distinct(),
      F.col("text") === F.col("__rt"), "left_semi")
    val nDocs = bridge.scalarSubquery(docs.agg(F.count(F.lit(1))))
    val nKept = bridge.scalarSubquery(kept.agg(F.count(F.lit(1))))
    val nMembers = bridge.scalarSubquery(members.agg(F.count(F.lit(1))))
    val nKeptMembers = bridge.scalarSubquery(
      kept.join(members.select("doc_id"), Seq("doc_id"), "left_semi")
        .agg(F.count(F.lit(1))))
    docs.sparkSession.range(1).select(
      nDocs.as("n_docs"),
      (nKeptMembers === 0L).cast("int").as("no_member_kept"),
      (nDocs - nKept - nMembers <= F.ceil(nDocs * 0.003) + 10L)
        .cast("int").as("fp_budget_ok"))
  }

  /** Planted-duplicate RECALL contract for the SimHash family (d06/d08's
    * correctness signal, r6 verdict #3): the signature values are
    * engine-specific (seeded xxhash family — d06/d08 stay rows-only by
    * nature), but two IDENTICAL texts get the identical signature in any
    * correct implementation, and [[Dedup.simhashDuplicatePairs]]'
    * maxDistance+1 banding guarantees by pigeonhole that a Hamming-0 pair
    * shares an exact band — so planting verbatim copies makes recall a
    * deterministic cross-engine contract: every planted (source, copy)
    * pair MUST surface, at distance exactly 0. The oracle pins `found`
    * and `dist_zero` to 1 for all 50 planted docs. */
  private val d45: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = t(s, dir, "documents")
    val planted = docs.filter(F.col("doc_id") < 50)
      .select((F.col("doc_id") + 100000L).as("doc_id"), F.col("text"))
    val union = docs.select(F.col("doc_id"), F.col("text"))
      .unionAll(planted)
    val pairs = Dedup.simhashDuplicatePairs(union, F.col("doc_id"),
      F.col("text"), maxDistance = 6)
    val found = pairs
      .filter(F.col("id_b") === F.col("id_a") + 100000L)
      .select(F.col("id_a").as("doc_id"), F.lit(1).as("found"),
        (F.col("distance") === 0).cast("int").as("dist_zero"))
    docs.filter(F.col("doc_id") < 50).select("doc_id")
      .join(found, Seq("doc_id"), "left")
      .select(F.col("doc_id"),
        F.coalesce(F.col("found"), F.lit(0)).as("found"),
        F.coalesce(F.col("dist_zero"), F.lit(0)).as("dist_zero"))
      .orderBy("doc_id")
  }

  /** Int8 embedding quantization over the embeddings table: per-vector
    * scale, code sum, first-8 codes, and reconstruction cosine — the 4×
    * storage trade for corpus-scale embedding tables, all-double
    * arithmetic so DuckDB replays it exactly. */
  private val d36: (SparkSession, String) => DataFrame = (s, dir) => {
    val q = Similarity.quantizeInt8(F.col("embedding"))
    t(s, dir, "embeddings")
      .withColumn("__q", q)
      .select(F.col("vec_id"),
        F.round(F.col("__q.scale"), 6).as("scale"),
        F.aggregate(F.transform(F.col("__q.q"),
          x => x.cast(org.apache.spark.sql.types.LongType)),
          F.lit(0L), (a, x) => a + x).as("q_sum"),
        F.array_join(F.transform(F.slice(F.col("__q.q"), 1, 8),
          x => x.cast(org.apache.spark.sql.types.StringType)), ",")
          .as("q_head"),
        F.round(Similarity.cosine(F.col("embedding"),
          Similarity.dequantizeInt8(F.col("__q"))), 4).as("recon_cos"))
      .orderBy("vec_id")
  }

  /** One-row corpus profile: doc/token totals, token-count percentiles,
    * English share — one aggregation pass, one scan. Exact percentiles
    * here only for DuckDB parity; the operator default is the
    * approx_percentile sketch (d39 exercises it within tolerance). */
  private val d35: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.corpusStats(t(s, dir, "documents"), F.col("text"),
      exact = true)

  /** Same clustering as d15 through the other public name,
    * `duplicateClustersStar` (one operator under both names), checked
    * against the same recursive-CTE closure oracle. */
  private val d34: (SparkSession, String) => DataFrame = (s, dir) => {
    val pairs = Dedup.minhashDuplicatePairs(t(s, dir, "documents"),
      F.col("doc_id"), F.col("text"), threshold = 0.8,
      shingleSize = 3, numHashes = 64, bands = 8)
    Dedup.duplicateClustersStar(pairs).orderBy("id")
  }

  /** Token-window chunking, 40-token chunks with 8-token overlap — the
    * doc→sequence step for long-document training / retrieval indexing.
    * Pure scan-side explode; oracle replays the slicing in DuckDB. */
  private val d33: (SparkSession, String) => DataFrame = (s, dir) =>
    TextAnalysis.chunk(t(s, dir, "documents"), F.col("doc_id"),
      F.col("text"), size = 40, overlap = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_id")

  /** Deterministic 10-per-source sample (md5-ordered per-domain top-k:
    * WindowGroupLimit shape — map-side pre-pruned, never a corpus sort). */
  private val d32: (SparkSession, String) => DataFrame = (s, dir) =>
    Sampling.topKByHash(t(s, dir, "documents"), F.col("source"),
      F.col("doc_id"), k = 10, salt = "t1")
      .select("doc_id", "source").orderBy("doc_id")

  /** frame-shape verbs end to end: select / discard / rename / renameWith /
    * relocate (§2.2; reference data_frame.ex select/discard/rename/relocate
    * doctests). Column ORDER is relocate's business; the oracle compare is
    * order-insensitive, so the SQL twin only pins names + values. */
  private val q53: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "customer"))
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_nationkey")
      .discard("c_nationkey")
      .rename("c_acctbal" -> "balance")
      .relocate(Seq("balance"), before = Some("c_name"))
      .renameWith(n => if (n.startsWith("c_")) n.stripPrefix("c_") else n)
      .sortBy(Seq(F.col("custkey")))
      .sdf

  /** positional verbs over a declared order: at_every + mask + drop_nil
    * (§2.2; reference series.ex:1695 at_every, data_frame.ex mask/drop_nil).
    * Exercises the distributed row-index backbone on the ungrouped path. */
  private val q54: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "orders"))
      .mutateCol("v", F.when(F.col("o_orderstatus") === "O",
        F.col("o_totalprice")))
      .ordered(F.col("o_orderkey"))
      .atEvery(100)
      .dropNil("v")
      .mask(F.col("o_totalprice") > 50000)
      .select("o_orderkey", "v")
      .sortBy(Seq(F.col("o_orderkey")))
      .sdf

  /** math/trig battery (§2.3 series.ex sin/cos/tan/asin/atan/log/exp/pow/
    * sqrt/abs/sign/floor/ceil/clip): all codegen'd `functions._`, rounded
    * 6dp for cross-libm parity. Trig args bounded (discount/tax ∈ [0,0.1])
    * so argument reduction can't amplify ulp drift. */
  private val q55: (SparkSession, String) => DataFrame = (s, dir) =>
    Gdf(t(s, dir, "lineitem"))
      .mutateWith { implicit c =>
        val d = gcol("l_discount"); val q = gcol("l_quantity")
        val p = gcol("l_extendedprice")
        Seq(
          "sin_d" -> d.sin.round(6),
          "cos_d" -> d.cos.round(6),
          "tan_d" -> d.tan.round(6),
          "asin_d" -> d.asin.round(6),
          "atan_d" -> d.atan.round(6),
          "ln_p" -> p.ln.round(6),
          "log10_p" -> p.log(10.0).round(6),
          "exp_negd" -> (glit(0.0) - d).exp.round(6),
          "sqrt_p" -> p.sqrt.round(6),
          "pow_q" -> q.pow(glit(2.0)).round(6),
          "abs_c" -> (q - glit(25.0)).abs.round(6),
          "sign_c" -> (q - glit(25.0)).sign,
          "floor_p" -> p.floor,
          "ceil_p" -> p.ceil,
          "clip_q" -> q.clip(glit(10.0), glit(40.0)).round(6)) }
      .select("l_orderkey", "l_linenumber", "sin_d", "cos_d", "tan_d",
        "asin_d", "atan_d", "ln_p", "log10_p", "exp_negd", "sqrt_p",
        "pow_q", "abs_c", "sign_c", "floor_p", "ceil_p", "clip_q")
      // no sort: the oracle compare is row-order-insensitive, and a global
      // sort of 17 computed columns would be the query's entire cost
      .sdf

  /** CSV round trip as an oracle query: parquet → to_csv → from_csv (with
    * the source schema as dtypes) must reproduce the source values exactly
    * — doubles survive because Spark writes shortest-round-trip decimal
    * text (§2.1 from_csv/to_csv). The oracle reads the parquet directly. */
  private val q56: (SparkSession, String) => DataFrame = (s, dir) => {
    val src = Gdf(t(s, dir, "customer"))
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    val tmp = java.nio.file.Files.createTempDirectory("graft_q56").toFile.getPath
    graft.io.GraftIO.toCsv(src, tmp)
    graft.io.GraftIO.fromCsv(s, tmp, dtypes = Some(src.schema))
      .sortBy(Seq(F.col("c_custkey")))
      .sdf
  }

  /** Arrow IPC round trip as an oracle query: parquet → to_ipc (zstd) →
    * from_ipc is bit-exact by format (§2.1 from_ipc/to_ipc + compression
    * options, reference dataframe/io.rs:353-708). */
  private val q57: (SparkSession, String) => DataFrame = (s, dir) => {
    val src = Gdf(t(s, dir, "supplier"))
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val tmp = java.nio.file.Files.createTempDirectory("graft_q57").toFile
    val f = new java.io.File(tmp, "supplier.arrow").getPath
    graft.io.GraftIO.toIpc(src, f, compression = Some("zstd"))
    graft.io.GraftIO.fromIpc(s, f)
      .sortBy(Seq(F.col("s_suppkey")))
      .sdf
  }

  /** transpose with the uniform-dtype rule (§2.7; reference dataframe.rs:43):
    * an aggregated 3×2 frame of integer-valued doubles transposes into
    * (name, A, N, R) KEEPING DoubleType — integer-valued so the sums are
    * exact in any fold order. */
  private val q58: (SparkSession, String) => DataFrame = (s, dir) => {
    val agg = Gdf(t(s, dir, "lineitem"))
      .groupBy("l_returnflag")
      .summariseWith { implicit c => Seq(
        "sum_qty" -> sum(gcol("l_quantity")),
        "n_rows" -> Series(F.count(F.lit(1)).cast(
          org.apache.spark.sql.types.DoubleType), isAgg = true)) }
      .sortBy(Seq(F.col("l_returnflag")))
    Reshape.transpose(agg, header = Some("l_returnflag")).sdf
  }

  /** multimodal pipeline: media table (synthetic audio/video payloads +
    * REAL generated PNGs for the image rows) → size-balanced partitions →
    * decode (javax.imageio for images, deterministic fake fallback for the
    * rest) → real resize → frame-sample; per-kind stats (rows-only; both
    * codec paths are deterministic, SURVEY §7.2 step 8). */
  private val d11: (SparkSession, String) => DataFrame = (s, dir) =>
    d11Chain(s, dir)
      .groupBy("kind")
      .agg(F.count(F.lit(1)).as("n_rows"),
        F.round(F.sum(F.aggregate(F.col("features"), F.lit(0.0),
          (a, v) => a + v)), 4).as("feat_sum"),
        F.count_if(F.col("decoded_width").isNotNull ||
          F.col("decoded_rate").isNotNull).as("n_decoded"))
      .orderBy("kind")

  /** The shared d11/d50 multimodal pipeline up to frame sampling. */
  private def d11Chain(s: SparkSession, dir: String): DataFrame = {
    // real PNG + WAV payloads: doc_id-keyed (flat gray squares / sine
    // bursts), generated driver-side and broadcast through a join (small
    // dictionary of 16 tones). Video keeps the declared fake payload —
    // the JDK ships no video codec.
    val tones = (0 until 16).map { tone =>
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val v = tone * 16
      (0 until 16).foreach(y => (0 until 16).foreach(x =>
        img.setRGB(x, y, (v << 16) | (v << 8) | v)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      (tone.toLong, bos.toByteArray, wavBytes(200.0 + tone * 100))
    }
    val pngDict = F.broadcast(s.createDataFrame(tones).toDF("tone", "png", "wav"))
    val media = t(s, dir, "documents")
      .withColumn("tone", F.col("doc_id") % 16)
      .join(pngDict, Seq("tone"))
      .select(
        F.col("doc_id").as("media_id"),
        F.when(F.col("doc_id") % 3 === 0, "video")
          .when(F.col("doc_id") % 3 === 1, "image").otherwise("audio").as("kind"),
        F.when(F.col("doc_id") % 3 === 1, F.col("png"))
          .when(F.col("doc_id") % 3 === 2, F.col("wav"))
          .otherwise(Multimodal.syntheticPayload(F.col("doc_id"), 64)).as("payload"),
        F.lit(640).as("width"), F.lit(480).as("height"),
        F.lit(16000).as("sample_rate"),
        (F.col("doc_id") % 24 + 1).cast("int").as("n_frames"),
        F.lit("raw").as("format"))
    val balanced = Multimodal.balanceBySize(media, 8)
    val feat = Multimodal.extractFeatures(balanced, "payload", dims = 8,
      realDecode = true)
    val resized = Multimodal.resize(feat, 64, 64)
    Multimodal.sampleFrames(resized, stride = 4)
  }

  /** Structural contract for the multimodal pipeline (d11's correctness
    * signal): feature VALUES are decoder-specific (d11 stays rows-only),
    * but the pipeline's shape is deterministic and DuckDB-replayable —
    * per-kind row counts after frame sampling (video rows explode to
    * ceil(n_frames/stride) frames; n_frames = doc_id%24+1) and decode
    * coverage (every image/audio payload decodes via the REAL
    * javax.imageio / javax.sound path, no video decodes — the declared
    * stub). */
  private val d50: (SparkSession, String) => DataFrame = (s, dir) =>
    d11Chain(s, dir)
      .groupBy("kind")
      .agg(F.count(F.lit(1)).as("n_rows"),
        F.count_if(F.col("decoded_width").isNotNull ||
          F.col("decoded_rate").isNotNull).as("__nd"))
      .select(F.col("kind"), F.col("n_rows"),
        F.when(F.col("kind") === "video", F.col("__nd") === 0L)
          .otherwise(F.col("__nd") === F.col("n_rows"))
          .cast("int").as("decoded_ok"))
      .orderBy("kind")

  /** Deterministic PCM16 mono WAV: a `freq`-Hz sine burst (8 kHz, 400
    * frames). StrictMath keeps the samples bit-identical across JVMs. */
  private def wavBytes(freq: Double): Array[Byte] = {
    val rate = 8000f; val n = 400
    val pcm = new Array[Byte](n * 2)
    (0 until n).foreach { i =>
      val sm = (StrictMath.sin(2 * StrictMath.PI * freq * i / rate) * 12000)
        .toInt.toShort
      pcm(2 * i) = (sm & 0xFF).toByte
      pcm(2 * i + 1) = ((sm >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_agg" -> q01,
    "q02_project_arith" -> q02,
    "q03_filter_predicates" -> q03,
    "q04_sort_topk" -> q04,
    "q05_distinct" -> q05,
    "q06_join_star" -> q06,
    "q07_join_left_agg" -> q07,
    "q08_join_anti" -> q08,
    "q09_join_cross" -> q09,
    "q10_cumulative" -> q10,
    "q11_rolling_window" -> q11,
    "q12_shift" -> q12,
    "q13_rank" -> q13,
    "q14_agg_stats" -> q14,
    "q15_corr_cov" -> q15,
    "q16_pivot_wider" -> q16,
    "q17_pivot_longer" -> q17,
    "q18_explode_words" -> q18,
    "q19_unnest_struct" -> q19,
    "q20_dummies" -> q20,
    "q21_strings" -> q21,
    "q22_regex" -> q22,
    "q23_temporal" -> q23,
    "q24_strptime" -> q24,
    "q25_conditional_fill" -> q25,
    "q26_asof_join" -> q26,
    "q27_concat_rows" -> q27,
    "q28_slice" -> q28,
    "q29_frequencies" -> q29,
    "q30_cut" -> q30,
    "q31_ewm" -> q31,
    "q32_fill_direction" -> q32,
    "q33_mode" -> q33,
    "q34_argminmax" -> q34,
    "q35_product" -> q35,
    "q36_json" -> q36,
    "q37_list_ops" -> q37,
    "q38_peaks_rowindex" -> q38,
    "q39_head_grouped" -> q39,
    "q40_describe" -> q40,
    "q41_nil_count" -> q41,
    "q42_spearman" -> q42,
    "q43_qcut" -> q43,
    "q44_concat_columns" -> q44,
    "q45_categories" -> q45,
    "q46_sample" -> q46,
    "q47_sql" -> q47,
    "q48_duration" -> q48,
    "q49_strip_udf" -> q49,
    "q50_decimal" -> q50,
    "q51_sort_nils" -> q51,
    "q52_cut_frame" -> q52,
    "s01_stream_window" -> s01,
    "s02_stream_session" -> s02,
    "s03_stream_join" -> s03,
    "s04_stream_ingest_dedup" -> s04,
    "s05_stream_lake" -> s05,
    "s06_lake_compact" -> s06,
    "s07_stream_embed_ingest" -> s07,
    "s08_rollup_merge" -> s08,
    "s09_stream_rollup" -> s09,
    "s10_stream_upsert" -> s10,
    "s11_sq8_rescore_ingest" -> s11,
    "s12_tiered_embed_ingest" -> s12,
    "s13_tiered_ingest_dedup" -> s13,
    "d01_exact_dedup" -> d01,
    "d02_token_counts" -> d02,
    "d03_langid_quality" -> d03,
    "d04_cosine_topk" -> d04,
    "d05_minhash_pairs" -> d05,
    "d06_simhash" -> d06,
    "d07_ngram_jaccard" -> d07,
    "d08_simhash_pairs" -> d08,
    "d09_lsh_topk" -> d09,
    "d10_quality_fingerprint" -> d10,
    "d11_multimodal" -> d11,
    "d12_fingerprint" -> d12,
    "d13_embedding_neardup" -> d13,
    "d14_ivf_topk" -> d14,
    "d15_dedup_clusters" -> d15,
    "d16_dedup_near" -> d16,
    "d17_normalize" -> d17,
    "d18_vocabulary" -> d18,
    "d19_tfidf" -> d19,
    "d20_ngram_stages" -> d20,
    "d21_repetition" -> d21,
    "d22_scrub" -> d22,
    "d23_contamination" -> d23,
    "d24_dedup_lines" -> d24,
    "d25_pack_sequences" -> d25,
    "d26_quality_gate" -> d26,
    "d27_decontaminate" -> d27,
    "d28_hash_split" -> d28,
    "d29_mixture" -> d29,
    "d30_dedup_against" -> d30,
    "d31_bloom_gate" -> d31,
    "d32_topk_sample" -> d32,
    "d33_chunk" -> d33,
    "d34_clusters_star" -> d34,
    "d35_corpus_stats" -> d35,
    "d36_quantize" -> d36,
    "d37_pipeline" -> d37,
    "d38_quality_gate_approx" -> d38,
    "d39_corpus_stats_approx" -> d39,
    "d40_dedup_spans" -> d40,
    "d41_gopher_rules" -> d41,
    "d42_top_ngrams" -> d42,
    "d43_ivf_disk_index" -> d43,
    "d44_lsh_recall" -> d44,
    "d45_simhash_planted" -> d45,
    "d46_ivf_sq8" -> d46,
    "d71_sq8_rescore" -> d71,
    "d72_whitened_sq8_rescore" -> d72,
    "d48_fingerprint_planted" -> d48,
    "d49_bloom_contract" -> d49,
    "d50_multimodal_contract" -> d50,
    "d51_index_dedup" -> d51,
    "d54_ivf_append" -> d54,
    "d55_keep_best_dedup" -> d55,
    "d56_semantic_dedup" -> d56,
    "d57_semantic_clustered" -> d57,
    "d58_ivf_compact" -> d58,
    "d59_classifier_score" -> d59,
    "d60_drift_numeric" -> d60,
    "d61_drift_categorical" -> d61,
    "d62_snapshot_diff" -> d62,
    "d63_weighted_sample" -> d63,
    "d64_weighted_per_source" -> d64,
    "d65_unicode_nfc" -> d65,
    "d66_lm_logloss" -> d66,
    "d67_pca_contract" -> d67,
    "d68_whitened_ivf" -> d68,
    "d69_whitened_append" -> d69,
    "d70_whitened_sq8" -> d70,
    "q62_sample_contract" -> q62,
    "q53_select_shape" -> q53,
    "q54_positional" -> q54,
    "q55_math_funcs" -> q55,
    "q56_csv_roundtrip" -> q56,
    "q57_ipc_roundtrip" -> q57,
    "q58_transpose" -> q58,
    "q59_range_join" -> q59,
    "q60_series_utils" -> q60,
    "q61_argsort" -> q61,
    "q63_time_slice" -> q63,
    "q64_time_partitioned" -> q64,
    "q65_manifest_skip" -> q65,
    "q66_retention" -> q66,
    "q67_zorder_skip" -> q67,
    "q68_time_value_skip" -> q68,
    "q69_lake_upsert" -> q69,
    "q70_lake_delete" -> q70,
    "q71_train_shards" -> q71,
    "q72_time_travel" -> q72)

  /** Bench-only queries: runnable BY NAME through `graft.Bench` for
    * scaling studies, but excluded from [[queries]] — the driver's
    * correctness gate and full bench sweep never see them (d47's sketch
    * threshold has no DuckDB twin; registering it would add an
    * unnecessary rows-only row). */
  def benchOnlyQueries: Map[String, (SparkSession, String) => DataFrame] =
    Map("d47_pipeline_approx" -> d47,
      "d52_index_probe" -> d52, "d53_index_rescan" -> d53)

  // d34 runs a different distributed algorithm (star contraction) over the
  // same pair graph as d15 — the label contract is identical, so it is
  // checked against the identical closure oracle (appended after the map).
  def oracleSql: Map[String, String] = oracleSqlBase +
    ("d34_clusters_star" -> oracleSqlBase("d15_dedup_clusters")) +
    // exhaustive-probe IVF over the disk index == brute force by
    // construction — same oracle as the brute-force query
    ("d43_ivf_disk_index" -> oracleSqlBase("d04_cosine_topk")) +
    ("d54_ivf_append" -> oracleSqlBase("d04_cosine_topk")) +
    // compaction never re-assigns or drops vectors and the probe is
    // exhaustive — still exactly brute force over the full corpus
    ("d58_ivf_compact" -> oracleSqlBase("d04_cosine_topk")) +
    // SQ8 + exact rescore: the refine step re-ranks the quantized
    // candidates with full-precision cosines, so the answer is exactly
    // brute force — the same oracle, hash-equal (d46 stays the
    // tolerance-contract twin for the un-rescored path)
    ("d71_sq8_rescore" -> oracleSqlBase("d04_cosine_topk")) +
    // SQ8-indexed streaming ingest WITH per-batch exact rescore: the
    // refine removes the quantization error from the kill decision, so
    // the survivor fold is exactly the float path's — s07's own
    // exact-cosine oracle, hash-equal
    ("s11_sq8_rescore_ingest" ->
      oracleSqlBase("s07_stream_embed_ingest")) +
    // size-tiered in-line compaction (r17): tier folds are structurally
    // search-invariant, so the tiered stream's survivor fold is exactly
    // s07's — the same exact-cosine oracle, hash-equal
    ("s12_tiered_embed_ingest" ->
      oracleSqlBase("s07_stream_embed_ingest")) +
    // MinHash twin of the s12 gate: a tier fold is row-identical to a
    // one-segment append, so the tiered dedup-ingest survivor fold is
    // exactly s04's — the same exact shingle-Jaccard oracle, hash-equal
    ("s13_tiered_ingest_dedup" ->
      oracleSqlBase("s04_stream_ingest_dedup")) +
    // clustered SemDeDup ≡ the nClusters=1 brute-force contract on this
    // fixture: scaled copies co-assign with their originals and no
    // natural pair reaches the threshold (see the d57 scaladoc)
    ("d57_semantic_clustered" -> oracleSqlBase("d56_semantic_dedup"))

  private def oracleSqlBase: Map[String, String] = Map(
    "q01_agg" -> """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 4) AS sum_qty,
             round(sum(l_extendedprice), 4) AS sum_base_price,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
             round(avg(l_quantity), 6) AS avg_qty,
             round(avg(l_discount), 6) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q02_project_arith" -> """
      SELECT l_orderkey, l_linenumber,
             round(l_extendedprice * (1.0 - l_discount), 4) AS revenue,
             CAST(l_partkey // 100 AS BIGINT) AS part_bucket,
             CAST(l_partkey % 100 AS BIGINT) AS part_slot
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber""",
    "q03_filter_predicates" -> """
      SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
      FROM lineitem
      WHERE l_returnflag IN ('A','R') AND l_quantity > 45.0
        AND NOT (l_linestatus = 'O') AND l_shipdate IS NOT NULL
      ORDER BY l_orderkey, l_linenumber""",
    "q04_sort_topk" -> """
      SELECT l_orderkey, l_linenumber, l_extendedprice
      FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      LIMIT 100""",
    "q05_distinct" -> """
      SELECT DISTINCT l_returnflag, l_linestatus
      FROM lineitem ORDER BY l_returnflag, l_linestatus""",
    "q06_join_star" -> """
      SELECT c_mktsegment,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
             count(*) AS n_lineitems
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q07_join_left_agg" -> """
      SELECT c_custkey, count(o_orderkey) AS n_orders,
             coalesce(round(sum(o_totalprice), 4), 0.0) AS total_spent
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey ORDER BY c_custkey""",
    "q08_join_anti" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""",
    "q09_join_cross" -> """
      SELECT r_name, n_name FROM region CROSS JOIN nation
      ORDER BY r_name, n_name""",
    "q10_cumulative" -> """
      SELECT o_custkey, o_orderkey,
             CAST(row_number() OVER w - 1 AS INT) AS order_seq,
             round(sum(o_totalprice) OVER
               (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS running_spend
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey""",
    "q11_rolling_window" -> """
      SELECT o_custkey, o_orderkey,
             round(avg(o_totalprice) OVER
               (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS w_mean,
             min(o_totalprice) OVER
               (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS w_min,
             max(o_totalprice) OVER
               (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS w_max,
             round(median(o_totalprice) OVER
               (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS w_med,
             CASE WHEN count(o_totalprice) OVER
                    (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) >= 2
                  THEN round(stddev_samp(o_totalprice) OVER
                    (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4)
             END AS w_std
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey""",
    "q12_shift" -> """
      SELECT o_custkey, o_orderkey,
             lag(o_totalprice) OVER w AS prev_price,
             lead(o_totalprice) OVER w AS next_price
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey""",
    "q13_rank" -> """
      SELECT c_custkey, c_mktsegment,
             CAST(rank() OVER w AS INT) AS r_min,
             CAST(dense_rank() OVER w AS INT) AS r_dense
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)
      ORDER BY c_custkey""",
    "q14_agg_stats" -> """
      SELECT l_returnflag,
             round(var_samp(l_quantity), 6) AS var_qty,
             round(stddev_samp(l_quantity), 6) AS std_qty,
             round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
             round(quantile_cont(l_extendedprice, 0.9), 4) AS q90_price,
             min(l_quantity) AS min_qty,
             max(l_quantity) AS max_qty,
             count(DISTINCT l_partkey) AS n_parts
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q15_corr_cov" -> """
      SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
             round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
             round(skewness(l_extendedprice)
               * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0)), 6)
               AS skew_price
      FROM lineitem""",
    "q16_pivot_wider" -> """
      SELECT l_returnflag,
             round(sum(l_quantity) FILTER (l_linestatus = 'F'), 4) AS "F",
             round(sum(l_quantity) FILTER (l_linestatus = 'O'), 4) AS "O",
             round(sum(l_quantity) FILTER (l_linestatus = 'P'), 4) AS "P"
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q17_pivot_longer" -> """
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable,
             l_quantity AS value FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber, variable""",
    "q18_explode_words" -> """
      SELECT word, count(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word ORDER BY n DESC, word LIMIT 50""",
    "q19_unnest_struct" -> """
      SELECT doc_id,
             string_split(source, 'rc')[1] AS s,
             string_split(source, 'rc')[2] AS num
      FROM documents ORDER BY doc_id""",
    "q20_dummies" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
          AS "o_orderpriority_1-URGENT",
        CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END
          AS "o_orderpriority_2-HIGH",
        CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END
          AS "o_orderpriority_3-MEDIUM",
        CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END
          AS "o_orderpriority_4-NOT SPECIFIED",
        CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END
          AS "o_orderpriority_5-LOW"
      FROM orders ORDER BY o_orderkey""",
    "q21_strings" -> """
      SELECT p_partkey, upper(p_name) AS name_up, lower(p_brand) AS name_low,
             substr(p_name, 1, 5) AS name_sub,
             regexp_replace(p_name, 'a', '@', 'g') AS name_repl,
             (contains(p_type, 'STEEL') OR contains(p_name, 'steel'))
               AS has_steel,
             p_brand || '#' || CAST(p_partkey AS VARCHAR) AS label
      FROM part ORDER BY p_partkey""",
    "q22_regex" -> """
      SELECT doc_id, regexp_matches(text, 'data') AS has_data,
             CAST(len(regexp_extract_all(text, '[aeiou]+')) AS INT)
               AS n_vowel_runs,
             coalesce(regexp_extract(text, '\b(s[a-z]+)', 1), '')
               AS first_word_s
      FROM documents ORDER BY doc_id""",
    "q23_temporal" -> """
      SELECT o_orderkey,
             CAST(year(o_orderdate) AS BIGINT) AS y,
             CAST(month(o_orderdate) AS BIGINT) AS m,
             CAST(day(o_orderdate) AS BIGINT) AS d,
             CAST(isodow(o_orderdate) AS BIGINT) AS dow,
             CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
             CAST(weekofyear(o_orderdate) AS BIGINT) AS week,
             CAST(quarter(o_orderdate) AS BIGINT) AS qtr
      FROM orders ORDER BY o_orderkey""",
    "q24_strptime" -> """
      SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS date_str,
             CAST(o_orderdate AS DATE) AS reparsed
      FROM orders ORDER BY o_orderkey""",
    "q25_conditional_fill" -> """
      SELECT event_id,
             CASE WHEN value >= 50.0 THEN 'high'
                  WHEN value >= 10.0 THEN 'mid' ELSE 'low' END AS bucket,
             coalesce(nullif(value, 0.0), -1.0) AS v_filled,
             round(coalesce(nullif(value, 0.0),
               (SELECT avg(nullif(value, 0.0)) FROM events)), 6)
               AS v_mean_fill
      FROM events ORDER BY event_id""",
    "q26_asof_join" -> """
      SELECT c.event_id, c.user_id, e.value AS error_value
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        ON c.user_id = e.user_id AND c.ts >= e.ts
      ORDER BY c.event_id""",
    "q27_concat_rows" -> """
      SELECT * FROM (
        SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind
        FROM customer
        UNION ALL
        SELECT s_name, s_acctbal, 'supplier' FROM supplier)
      ORDER BY kind, name""",
    "q28_slice" -> """
      SELECT c_custkey, c_acctbal FROM customer
      ORDER BY c_acctbal DESC, c_custkey LIMIT 20 OFFSET 10""",
    "q29_frequencies" -> """
      SELECT o_orderpriority, count(*) AS counts
      FROM orders GROUP BY o_orderpriority
      ORDER BY counts DESC, o_orderpriority""",
    "q30_cut" -> """
      SELECT CASE WHEN l_quantity IS NULL THEN NULL
                  WHEN l_quantity <= 10.0 THEN '(-inf, 10]'
                  WHEN l_quantity <= 25.0 THEN '(10, 25]'
                  WHEN l_quantity <= 40.0 THEN '(25, 40]'
                  ELSE '(40, inf]' END AS qty_bin,
             count(*) AS n, round(avg(l_extendedprice), 4) AS avg_price
      FROM lineitem GROUP BY qty_bin ORDER BY qty_bin""",
    "q31_ewm" -> """
      WITH w AS (
        SELECT o_custkey, o_orderkey,
               list(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
        FROM orders)
      SELECT o_custkey, o_orderkey,
             round(list_sum(list_transform(xs,
                     (v, i) -> v * pow(0.5, len(xs) - i))) /
                   list_sum(list_transform(xs,
                     (v, i) -> pow(0.5, len(xs) - i))), 4) AS ewm_mean
      FROM w ORDER BY o_custkey, o_orderkey""",
    "q32_fill_direction" -> """
      SELECT event_id, user_id,
             last_value(v IGNORE NULLS) OVER
               (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill,
             first_value(v IGNORE NULLS) OVER
               (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_bfill
      FROM (SELECT *, CASE WHEN value >= 10.0 THEN value END AS v FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id""",
    "q33_mode" -> """
      SELECT l_returnflag, mode_qty FROM (
        SELECT l_returnflag, l_quantity AS mode_qty,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY count(*) DESC, l_quantity) AS rn
        FROM lineitem GROUP BY l_returnflag, l_quantity)
      WHERE rn = 1 ORDER BY l_returnflag""",
    "q34_argminmax" -> """
      SELECT o_orderpriority,
             arg_min(o_orderkey, o_totalprice) AS cheapest_order,
             arg_max(o_orderkey, o_totalprice) AS priciest_order
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q35_product" -> """
      SELECT l_orderkey, round(product(1.0 + l_tax), 6) AS tax_factor
      FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""",
    "q36_json" -> """
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_decoded
      FROM events ORDER BY event_id""",
    "q37_list_ops" -> """
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             list_contains(string_split(text, ' '), 'the') AS has_the,
             array_to_string(list_slice(string_split(text, ' '), 1, 3), '-')
               AS first3
      FROM documents ORDER BY doc_id""",
    "q38_peaks_rowindex" -> """
      SELECT event_id, user_id,
             CAST(row_number() OVER w - 1 AS BIGINT) AS idx,
             (coalesce(value > lag(value) OVER w, true) AND
              coalesce(value > lead(value) OVER w, true)) AS is_peak
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id""",
    "q39_head_grouped" -> """
      SELECT o_custkey, o_orderkey, o_orderdate FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders) WHERE rn <= 2 ORDER BY o_custkey, o_orderkey""",
    "q40_describe" -> """
      WITH a AS (SELECT
        CAST(count(l_quantity) AS DOUBLE) AS "l_quantity__count",
        CAST(count(*) FILTER (l_quantity IS NULL) AS DOUBLE)
          AS "l_quantity__nil_count",
        round(avg(l_quantity), 4) AS "l_quantity__mean",
        round(stddev_samp(l_quantity), 4) AS "l_quantity__std",
        round(CAST(min(l_quantity) AS DOUBLE), 4) AS "l_quantity__min",
        round(quantile_cont(l_quantity, 0.25), 4) AS "l_quantity__p25",
        round(quantile_cont(l_quantity, 0.5), 4) AS "l_quantity__p50",
        round(quantile_cont(l_quantity, 0.75), 4) AS "l_quantity__p75",
        round(CAST(max(l_quantity) AS DOUBLE), 4) AS "l_quantity__max",
        CAST(count(l_discount) AS DOUBLE) AS "l_discount__count",
        CAST(count(*) FILTER (l_discount IS NULL) AS DOUBLE)
          AS "l_discount__nil_count",
        round(avg(l_discount), 4) AS "l_discount__mean",
        round(stddev_samp(l_discount), 4) AS "l_discount__std",
        round(CAST(min(l_discount) AS DOUBLE), 4) AS "l_discount__min",
        round(quantile_cont(l_discount, 0.25), 4) AS "l_discount__p25",
        round(quantile_cont(l_discount, 0.5), 4) AS "l_discount__p50",
        round(quantile_cont(l_discount, 0.75), 4) AS "l_discount__p75",
        round(CAST(max(l_discount) AS DOUBLE), 4) AS "l_discount__max"
        FROM lineitem)
      SELECT split_part(key, '__', 1) AS "column",
             split_part(key, '__', 2) AS statistic, value
      FROM (UNPIVOT a ON COLUMNS(*) INTO NAME key VALUE value)
      ORDER BY "column", statistic""",
    "q41_nil_count" -> """
      SELECT count(*) FILTER (event_id IS NULL) AS event_id,
             count(*) FILTER (event_type = 'error') AS event_type,
             count(*) FILTER (NOT (value >= 10.0)) AS value
      FROM events""",
    "q42_spearman" -> """
      WITH r AS (SELECT
        rank() OVER (ORDER BY l_quantity) +
          (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS ra,
        rank() OVER (ORDER BY l_extendedprice) +
          (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS rb
      FROM lineitem)
      SELECT round(corr(ra, rb), 6) AS spearman FROM r""",
    "q43_qcut" -> """
      WITH b AS (SELECT
        round(quantile_cont(o_totalprice, 0.25), 4) AS q1,
        round(quantile_cont(o_totalprice, 0.5), 4) AS q2,
        round(quantile_cont(o_totalprice, 0.75), 4) AS q3 FROM orders)
      SELECT CASE WHEN o_totalprice <= q1 THEN 'q1'
                  WHEN o_totalprice <= q2 THEN 'q2'
                  WHEN o_totalprice <= q3 THEN 'q3' ELSE 'q4' END AS bin,
             count(*) AS n
      FROM orders, b GROUP BY bin ORDER BY bin""",
    "q44_concat_columns" -> """
      WITH a AS (SELECT c_custkey, c_name,
                   row_number() OVER (ORDER BY c_custkey) AS i FROM customer),
           b AS (SELECT c_acctbal AS bal_sorted,
                   row_number() OVER (ORDER BY c_acctbal, c_custkey) AS i
                 FROM customer)
      SELECT a.c_custkey, a.c_name, b.bal_sorted
      FROM a JOIN b USING (i) ORDER BY c_custkey""",
    "q45_categories" -> """
      SELECT c_mktsegment,
             CAST(dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT)
               AS code
      FROM (SELECT DISTINCT c_mktsegment FROM customer)
      ORDER BY c_mktsegment""",
    "q47_sql" -> """
      SELECT c_mktsegment, count(*) AS n, round(avg(c_acctbal), 4) AS avg_bal
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q48_duration" -> """
      SELECT l_orderkey, l_linenumber,
             CAST(datediff('day', CAST(o_orderdate AS DATE),
               CAST(l_shipdate AS DATE)) AS BIGINT) AS delay_days,
             CAST(epoch(l_shipdate) - epoch(o_orderdate) AS DOUBLE)
               AS delay_secs
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      ORDER BY l_orderkey, l_linenumber""",
    "q49_strip_udf" -> """
      SELECT p_partkey, trim(p_brand, 'B#') AS brand_trim,
             rtrim(p_name, 'aeiou') AS name_r,
             trim(p_brand, 'B#') || ':' || CAST(p_partkey % 7 AS VARCHAR)
               AS tag
      FROM part ORDER BY p_partkey""",
    "q50_decimal" -> """
      SELECT l_returnflag,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
               AS DECIMAL(38,2)) AS VARCHAR) AS sum_dec,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
               AS DOUBLE) / count(*), 6) AS avg_dec,
             CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
                           CAST(l_quantity AS DECIMAL(10,2))
                      AS DECIMAL(18,4)))
               AS DECIMAL(38,4)) AS VARCHAR) AS sum_gross,
             count(*) FILTER (WHERE l_orderkey % 1000 = 0) AS n_overflow_null
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q51_sort_nils" -> """
      SELECT event_id, CASE WHEN value >= 10.0 THEN value END AS v
      FROM events
      ORDER BY v DESC NULLS LAST, event_id
      LIMIT 200""",
    "q52_cut_frame" -> """
      WITH c AS (
        SELECT CASE WHEN value >= 10.0 THEN value END AS v FROM events
      ), b AS (
        SELECT v,
          CASE WHEN v IS NULL THEN NULL
               WHEN v <= 25.0 THEN 25.0
               WHEN v <= 50.0 THEN 50.0
               WHEN v <= 75.0 THEN 75.0
               ELSE CAST('infinity' AS DOUBLE) END AS break_point,
          CASE WHEN v IS NULL THEN NULL
               WHEN v <= 25.0 THEN '(-inf, 25]'
               WHEN v <= 50.0 THEN '(25, 50]'
               WHEN v <= 75.0 THEN '(50, 75]'
               ELSE '(75, inf]' END AS category
        FROM c)
      SELECT category, count(*) AS n, max(break_point) AS bp
      FROM b GROUP BY category ORDER BY category""",
    "s01_stream_window" -> """
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             count(*) AS n, round(sum(value), 4) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""",
    "s02_stream_session" -> """
      WITH e AS (SELECT user_id, ts, value FROM events
                 WHERE user_id IS NOT NULL),
           m AS (SELECT user_id, ts, value,
                        CASE WHEN lag(ts) OVER w IS NULL THEN 1
                             WHEN ts >= lag(ts) OVER w
                                  + INTERVAL 30 MINUTE THEN 1
                             ELSE 0 END AS brk
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           g AS (SELECT user_id, ts, value,
                        sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
                 FROM m)
      SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
             round(sum(value), 4) AS total_value
      FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "s03_stream_join" -> """
      WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
                 WHERE user_id IS NOT NULL)
      SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id
      FROM e a JOIN e b
        ON a.user_id = b.user_id
       AND a.event_type = 'view' AND b.event_type = 'purchase'
       AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 24 HOUR
      ORDER BY view_id, purchase_id""",
    // the streaming ingest fold replayed in exact shingle-Jaccard SQL:
    // batch k (doc_id mod 6 = 2k+1) dies against corpus ∪ survivors of
    // batches < k. At sf0.01 five docs die ONLY via survivors appended by
    // an earlier batch — a broken index-append path shows 5 extra rows
    "s04_stream_ingest_dedup" -> """
      WITH toks AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE []::VARCHAR[] END AS s FROM toks),
      acc0 AS (SELECT doc_id, s FROM sh WHERE doc_id % 2 = 0),
      b1 AS (SELECT doc_id, s FROM sh WHERE doc_id % 6 = 1),
      l1 AS (SELECT DISTINCT b.doc_id FROM b1 b, acc0 a
        WHERE CASE WHEN len(list_distinct(a.s || b.s)) > 0
          THEN len(list_intersect(a.s, b.s)) /
               CAST(len(list_distinct(a.s || b.s)) AS DOUBLE)
          ELSE 0.0 END >= 0.8),
      s1 AS (SELECT doc_id, s FROM b1
        WHERE doc_id NOT IN (SELECT doc_id FROM l1)),
      acc1 AS (SELECT * FROM acc0 UNION ALL SELECT * FROM s1),
      b2 AS (SELECT doc_id, s FROM sh WHERE doc_id % 6 = 3),
      l2 AS (SELECT DISTINCT b.doc_id FROM b2 b, acc1 a
        WHERE CASE WHEN len(list_distinct(a.s || b.s)) > 0
          THEN len(list_intersect(a.s, b.s)) /
               CAST(len(list_distinct(a.s || b.s)) AS DOUBLE)
          ELSE 0.0 END >= 0.8),
      s2 AS (SELECT doc_id, s FROM b2
        WHERE doc_id NOT IN (SELECT doc_id FROM l2)),
      acc2 AS (SELECT * FROM acc1 UNION ALL SELECT * FROM s2),
      b3 AS (SELECT doc_id, s FROM sh WHERE doc_id % 6 = 5),
      l3 AS (SELECT DISTINCT b.doc_id FROM b3 b, acc2 a
        WHERE CASE WHEN len(list_distinct(a.s || b.s)) > 0
          THEN len(list_intersect(a.s, b.s)) /
               CAST(len(list_distinct(a.s || b.s)) AS DOUBLE)
          ELSE 0.0 END >= 0.8),
      s3 AS (SELECT doc_id FROM b3
        WHERE doc_id NOT IN (SELECT doc_id FROM l3))
      SELECT doc_id FROM (SELECT doc_id FROM s1 UNION ALL
        SELECT doc_id FROM s2 UNION ALL SELECT doc_id FROM s3)
      ORDER BY doc_id""",
    "s05_stream_lake" -> """
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             count(*) AS n, round(sum(value), 4) AS total_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        AND ts <  TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY 1, 2 ORDER BY hour_start, event_type""",
    "s06_lake_compact" -> """
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             count(*) AS n, round(sum(value), 4) AS total_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        AND ts <  TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY 1, 2 ORDER BY hour_start, event_type""",
    "s07_stream_embed_ingest" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                 WHERE vec_id >= 5),
      base AS (SELECT vec_id, v FROM e WHERE vec_id % 3 = 0),
      b1 AS (SELECT vec_id, v FROM e WHERE vec_id % 3 = 1
             UNION ALL
             SELECT vec_id + 10000000, list_transform(v, x -> x * 2)
             FROM e WHERE vec_id % 3 = 0 AND vec_id < 20
             UNION ALL
             SELECT vec_id + 10000000, list_transform(v, x -> x * 2)
             FROM e WHERE vec_id % 3 = 2 AND vec_id < 35),
      s1 AS (SELECT x.vec_id, x.v FROM b1 x WHERE NOT EXISTS (
               SELECT 1 FROM base c
               WHERE list_dot_product(x.v, c.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(c.v, c.v))) >= 0.999)),
      i1 AS (SELECT vec_id, v FROM base
             UNION ALL SELECT vec_id, v FROM s1),
      b2 AS (SELECT vec_id, v FROM e WHERE vec_id % 3 = 2
             UNION ALL
             SELECT vec_id + 10000000, list_transform(v, x -> x * 2)
             FROM e WHERE vec_id % 3 = 1 AND vec_id < 20),
      s2 AS (SELECT x.vec_id, x.v FROM b2 x WHERE NOT EXISTS (
               SELECT 1 FROM i1 c
               WHERE list_dot_product(x.v, c.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(c.v, c.v))) >= 0.999))
      SELECT vec_id FROM (SELECT vec_id FROM s1
                          UNION ALL SELECT vec_id FROM s2) t
      ORDER BY vec_id""",
    // the rollup's segment fold + retry replace must equal one flat
    // aggregation over all events — min/max are element selections
    // (exact), sum carries the pinned 4-dp contract
    "s08_rollup_merge" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n, round(sum(value), 4) AS total,
             min(value) AS min, max(value) AS max
      FROM events GROUP BY 1, 2 ORDER BY day, event_type""",
    // the streaming path must land on the same flat aggregation
    "s09_stream_rollup" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n, round(sum(value), 4) AS total,
             min(value) AS min, max(value) AS max
      FROM events GROUP BY 1, 2 ORDER BY day, event_type""",
    // last-writer-wins per key, computed flat: b = the maximum batch
    // holding the doc (base = -1 via doc_id%4 - 1; update stripes are
    // doc_id%7 in 0..2); the update text applies iff that stripe IS the
    // winning batch
    "s10_stream_upsert" -> """
      WITH m AS (SELECT doc_id, source, text, n_chars,
          GREATEST(doc_id % 4 - 1,
            CASE WHEN doc_id % 7 <= 2 THEN doc_id % 7 ELSE -2 END) AS b
        FROM documents)
      SELECT doc_id, source,
        CASE WHEN doc_id % 7 = b THEN text || ' v' || b ELSE text END
          AS text,
        n_chars
      FROM m ORDER BY doc_id""",
    "d01_exact_dedup" -> """
      SELECT min(doc_id) AS doc_id, arg_min(n_chars, doc_id) AS n_chars
      FROM documents GROUP BY text ORDER BY doc_id""",
    "d02_token_counts" -> """
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\s+'))
             END AS n_tokens,
             CAST(len(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS n_subwords
      FROM documents ORDER BY doc_id""",
    "d03_langid_quality" -> """
      WITH toks AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents),
      r AS (
        SELECT doc_id,
          CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN
            ('der','die','und','das','ist','von','zu','mit','den','ein')))
            / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS r_de,
          CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN
            ('the','and','of','to','a','in','is','it','that','for')))
            / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS r_en,
          CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN
            ('el','la','de','que','y','en','un','es','los','una')))
            / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS r_es,
          CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN
            ('le','la','et','les','des','est','un','une','du','que')))
            / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS r_fr
        FROM toks)
      SELECT doc_id,
        CASE WHEN greatest(r_de, r_en, r_es, r_fr) = 0 THEN 'und'
             -- tie-break mirrors array_max over struct(score, lang):
             -- highest score, then lexicographically LAST language
             WHEN r_fr = greatest(r_de, r_en, r_es, r_fr) THEN 'fr'
             WHEN r_es = greatest(r_de, r_en, r_es, r_fr) THEN 'es'
             WHEN r_en = greatest(r_de, r_en, r_es, r_fr) THEN 'en'
             ELSE 'de' END AS lang_guess,
        round(r_en, 6) AS stop_ratio
      FROM r ORDER BY doc_id""",
    "d35_corpus_stats" -> """
      WITH toks AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS t,
               CASE WHEN len(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(lower(trim(text)), '\s+'))
               END AS tok
        FROM documents),
      r AS (
        SELECT tok,
          CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN
            ('der','die','und','das','ist','von','zu','mit','den','ein')))
            / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS r_de,
          CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN
            ('the','and','of','to','a','in','is','it','that','for')))
            / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS r_en,
          CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN
            ('el','la','de','que','y','en','un','es','los','una')))
            / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS r_es,
          CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN
            ('le','la','et','les','des','est','un','une','du','que')))
            / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS r_fr
        FROM toks)
      SELECT count(*) AS n_docs,
        CAST(sum(tok) AS BIGINT) AS n_tokens,
        round(avg(tok), 6) AS avg_doc_tokens,
        round(quantile_cont(tok, 0.5), 6) AS p50_tokens,
        round(quantile_cont(tok, 0.9), 6) AS p90_tokens,
        max(tok) AS max_tokens,
        count(*) FILTER (WHERE greatest(r_de, r_en, r_es, r_fr) > 0
          AND r_en = greatest(r_de, r_en, r_es, r_fr)
          AND r_es <> greatest(r_de, r_en, r_es, r_fr)
          AND r_fr <> greatest(r_de, r_en, r_es, r_fr)) AS n_english
      FROM r""",
    // tolerance-based oracles for the approx (sketch) quantile paths: the
    // Spark queries output the ε-quantile contract as ints; the oracle
    // pins them to 1 and exactly matches the non-sketch aggregates
    "d38_quality_gate_approx" -> """
      SELECT count(*) AS n_docs,
        1 AS rank_lower_ok, 1 AS rank_upper_ok, 1 AS gate_min_ok
      FROM documents""",
    // LSH top-k recall contract: seeded hyperplanes make recall
    // deterministic; the oracle pins full-k and the >=3/5 recall floor
    // to 1 for every query (bucket CONTENTS stay engine-specific — the
    // raw d09 rows remain rows-only by nature)
    "d44_lsh_recall" -> """
      SELECT vec_id AS query_id, 1 AS full_k, 1 AS recall_ok
      FROM embeddings WHERE vec_id < 5 ORDER BY query_id""",
    // simhash planted-duplicate recall: identical text => identical
    // signature => Hamming 0 => banding MUST pair it (pigeonhole);
    // signature values themselves stay engine-specific
    "d45_simhash_planted" -> """
      SELECT doc_id, 1 AS found, 1 AS dist_zero
      FROM documents WHERE doc_id < 50 ORDER BY doc_id""",
    // SQ8 IVF: dequantized scores are approximate by design; the oracle
    // pins the recall/error/row-count contracts per query
    "d46_ivf_sq8" -> """
      SELECT vec_id AS query_id, 1 AS recall_ok, 1 AS cos_err_ok,
        1 AS full_k
      FROM embeddings WHERE vec_id < 5 ORDER BY query_id""",
    // fingerprint determinism: identical text => identical fingerprint
    // (values engine-specific; equality is the cross-engine contract)
    "d48_fingerprint_planted" -> """
      SELECT doc_id, 1 AS fp_match
      FROM documents WHERE doc_id < 50 ORDER BY doc_id""",
    // bloom gate: no true member survives; false drops within the fpp
    // budget (which docs get false-dropped stays engine-specific)
    "d49_bloom_contract" -> """
      SELECT count(*) AS n_docs, 1 AS no_member_kept, 1 AS fp_budget_ok
      FROM documents""",
    // multimodal pipeline shape: per-kind row counts after frame
    // sampling + decode coverage (feature values stay decoder-specific)
    "d50_multimodal_contract" -> """
      WITH m AS (SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN 'video'
               WHEN doc_id % 3 = 1 THEN 'image' ELSE 'audio' END AS kind,
          doc_id % 24 + 1 AS n_frames
        FROM documents)
      SELECT kind,
        CAST(sum(CASE WHEN kind = 'video' THEN 1 + (n_frames - 1) // 4
                      ELSE 1 END) AS BIGINT) AS n_rows,
        1 AS decoded_ok
      FROM m GROUP BY kind ORDER BY kind""",
    // seeded sampling: structural contracts (cardinalities, membership);
    // the drawn rows themselves are engine-specific
    "q62_sample_contract" -> """
      SELECT DISTINCT l_returnflag, 2 AS n_grouped, 1 AS n_out_ok,
        1 AS member_ok
      FROM lineitem ORDER BY l_returnflag""",
    "d39_corpus_stats_approx" -> """
      WITH toks AS (
        SELECT CASE WHEN len(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(lower(trim(text)), '\s+'))
               END AS tok
        FROM documents)
      SELECT count(*) AS n_docs,
        CAST(sum(tok) AS BIGINT) AS n_tokens,
        max(tok) AS max_tokens,
        1 AS p50_lower_ok, 1 AS p50_upper_ok,
        1 AS p90_lower_ok, 1 AS p90_upper_ok
      FROM toks""",
    // duplicated-span dedup: k-gram frequency + coverage + positional
    // reassembly on gram strings (engine keys are xxhash64 — internal)
    "d40_dedup_spans" -> """
      WITH toks AS (SELECT doc_id,
          CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS t
        FROM documents),
      kg AS (SELECT doc_id, z.hp AS hp, z.gram AS gram FROM (
          SELECT doc_id, unnest(list_transform(
            generate_series(1, len(t) - 7),
            i -> struct_pack(hp := i,
                   gram := array_to_string(t[i:i+7], ' ')))) AS z
          FROM toks WHERE len(t) >= 8)),
      hot AS (SELECT gram FROM (SELECT gram, doc_id FROM kg GROUP BY 1, 2)
              GROUP BY gram HAVING count(*) >= 2),
      hits AS (SELECT doc_id, hp FROM kg JOIN hot USING (gram)),
      pos AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS i, t
              FROM toks WHERE len(t) > 0),
      kept AS (SELECT p.doc_id, p.i, p.t[p.i] AS tok FROM pos p
               WHERE NOT EXISTS (SELECT 1 FROM hits h
                 WHERE h.doc_id = p.doc_id
                   AND h.hp <= p.i AND p.i < h.hp + 8))
      SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text
      FROM kept GROUP BY doc_id ORDER BY doc_id""",
    // Gopher rule battery: every signal is a deterministic string/list
    // expression, replayed 1:1 (same tokenization, regexes with identical
    // java.util.regex/RE2 semantics, 6-dp rounding both sides)
    "d41_gopher_rules" -> """
      WITH base AS (SELECT doc_id, text,
          CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks,
          string_split(text, chr(10)) AS lines
        FROM documents),
      sig AS (SELECT doc_id,
        len(toks)::BIGINT AS word_count,
        CASE WHEN len(toks) > 0 THEN round(
          list_aggregate(list_transform(toks, t -> length(t)), 'sum')::DOUBLE
            / len(toks), 6) ELSE 0.0 END AS mean_word_len,
        CASE WHEN len(toks) > 0 THEN round(
          len(regexp_extract_all(text, '#|\.\.\.'))::DOUBLE / len(toks), 6)
          ELSE 0.0 END AS symbol_word_ratio,
        round(len(list_filter(lines,
            l -> regexp_matches(l, '^\s*[-*•‣▪]')))::DOUBLE
          / len(lines), 6) AS bullet_line_frac,
        round(len(list_filter(lines,
            l -> regexp_matches(l, '(\.\.\.|…)\s*$')))::DOUBLE
          / len(lines), 6) AS ellipsis_line_frac,
        CASE WHEN len(toks) > 0 THEN round(
          len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
            / len(toks), 6) ELSE 0.0 END AS alpha_word_frac,
        ((CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END)
         )::BIGINT AS req_stopword_hits
        FROM base)
      SELECT *, (word_count BETWEEN 50 AND 100000
          AND mean_word_len BETWEEN 3 AND 10
          AND symbol_word_ratio <= 0.1
          AND bullet_line_frac <= 0.9
          AND ellipsis_line_frac <= 0.3
          AND alpha_word_frac >= 0.8
          AND req_stopword_hits >= 2)::INT AS passes
      FROM sig ORDER BY doc_id""",
    // top-k bigrams: exact multiset counts with a pinned tie-break
    "d42_top_ngrams" -> """
      WITH toks AS (SELECT
          CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS t
        FROM documents),
      g AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
              i -> t[i] || ' ' || t[i+1])) AS ngram
            FROM toks WHERE len(t) >= 2)
      SELECT ngram, count(*)::BIGINT AS freq FROM g
      GROUP BY ngram ORDER BY freq DESC, ngram ASC LIMIT 25""",
    // brute-force exact n-gram Jaccard over all pairs — the oracle for BOTH
    // near-dup pipelines (recall losses in LSH banding / df-capped postings
    // would surface as missing rows)
    "d05_minhash_pairs" -> """
      WITH toks AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE []::VARCHAR[] END AS s FROM toks),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CASE WHEN len(list_distinct(a.s || b.s)) > 0
             THEN len(list_intersect(a.s, b.s)) /
                  CAST(len(list_distinct(a.s || b.s)) AS DOUBLE)
             ELSE 0.0 END AS j
       FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs
      WHERE j >= 0.8 ORDER BY id_a, id_b""",
    "d07_ngram_jaccard" -> """
      WITH toks AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE []::VARCHAR[] END AS s FROM toks),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CASE WHEN len(list_distinct(a.s || b.s)) > 0
             THEN len(list_intersect(a.s, b.s)) /
                  CAST(len(list_distinct(a.s || b.s)) AS DOUBLE)
             ELSE 0.0 END AS j
       FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs
      WHERE j >= 0.8 ORDER BY id_a, id_b""",
    "d10_quality_fingerprint" -> """
      WITH b AS (SELECT doc_id,
        CAST(length(text) AS DOUBLE) AS len,
        CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
          AS alpha,
        CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
          AS punct,
        string_split_regex(lower(trim(text)), '\s+') AS t
       FROM documents),
      c AS (SELECT doc_id,
        CASE WHEN len > 0 THEN alpha / len ELSE 0.0 END AS ar,
        CASE WHEN len > 0 THEN punct / len ELSE 0.0 END AS pr,
        CASE WHEN len(t) > 0 THEN
          CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
          ELSE 0.0 END AS mwl,
        CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN
          ('the','and','of','to','a','in','is','it','that','for')))
          / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS sr
       FROM b)
      SELECT doc_id,
        round(ar*0.4 + (1.0 - least(pr*10, 1.0))*0.2 +
          (CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.0 END)*0.2 +
          (CASE WHEN sr > 0.01 THEN 1.0 ELSE 0.0 END)*0.2, 6) AS quality
      FROM c ORDER BY doc_id""",
    "d04_cosine_topk" -> """
      WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 5),
           c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
                 FROM embeddings WHERE vec_id >= 5),
           scored AS (
             SELECT query_id, corpus_id,
                    list_dot_product(qv, cv) /
                      (sqrt(list_dot_product(qv, qv)) *
                       sqrt(list_dot_product(cv, cv))) AS cosine
             FROM q CROSS JOIN c),
           ranked AS (
             SELECT query_id, corpus_id,
                    CAST(row_number() OVER
                      (PARTITION BY query_id
                       ORDER BY cosine DESC, corpus_id) AS INT) AS rank,
                    round(cosine, 6) AS cosine
             FROM scored)
      SELECT query_id, corpus_id, rank, cosine FROM ranked
      WHERE rank <= 5 ORDER BY query_id, rank""",
    "d14_ivf_topk" -> """
      WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 5),
           c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
                 FROM embeddings WHERE vec_id >= 5),
           scored AS (
             SELECT query_id, corpus_id,
                    list_dot_product(qv, cv) /
                      (sqrt(list_dot_product(qv, qv)) *
                       sqrt(list_dot_product(cv, cv))) AS cosine
             FROM q CROSS JOIN c),
           ranked AS (
             SELECT query_id, corpus_id,
                    CAST(row_number() OVER
                      (PARTITION BY query_id
                       ORDER BY cosine DESC, corpus_id) AS INT) AS rank,
                    round(cosine, 6) AS cosine
             FROM scored)
      SELECT query_id, corpus_id, rank, cosine FROM ranked
      WHERE rank <= 5 ORDER BY query_id, rank""",
    "d13_embedding_neardup" -> """
      WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           aug AS (SELECT vec_id, v FROM base
                   UNION ALL
                   SELECT vec_id + 10000000, list_transform(v, x -> x * 2)
                   FROM base WHERE vec_id < 100),
           p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                        list_dot_product(a.v, b.v) /
                          (sqrt(list_dot_product(a.v, a.v)) *
                           sqrt(list_dot_product(b.v, b.v))) AS c
                 FROM aug a JOIN aug b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b, round(c, 6) AS cosine FROM p
      WHERE c >= 0.999 ORDER BY id_a, id_b""",
    "d15_dedup_clusters" -> """
      WITH RECURSIVE toks AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE []::VARCHAR[] END AS s FROM toks),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_distinct(a.s || b.s)) > 0
          AND len(list_intersect(a.s, b.s)) /
              CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.8),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach AS (SELECT src AS id, src AS r FROM edges
                UNION
                SELECT e.src, t.r FROM edges e JOIN reach t ON t.id = e.dst)
      SELECT id, min(r) AS cluster FROM reach GROUP BY id ORDER BY id""",
    // d18's vocabulary banding → fixed-point signed-log weights → per-doc
    // weighted sum → sigmoid; the integer-valued weight sum is exact in
    // both engines, so the remaining cross-engine float ops are one
    // multiply, one exp, the pinned 6-dp round — and the weight
    // derivation's floor(1000·ln(1+tf)), whose discontinuity is the same
    // dfBound-class accepted residual as every floor-banded oracle here
    // (a flip needs the true value within ~1 ulp of the boundary;
    // ln(1+integer) never lands on exact integers)
    "d59_classifier_score" -> """
      WITH toks AS (SELECT doc_id,
          CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS t
        FROM documents),
      occ AS (SELECT doc_id, unnest(t) AS term FROM toks),
      perdoc AS (SELECT doc_id, term, count(*) AS tf FROM occ GROUP BY 1, 2),
      vocab AS (SELECT term, sum(tf) AS term_freq FROM perdoc GROUP BY term
                HAVING count(*) >= 2 AND count(*) <=
                  floor(0.9 * (SELECT count(*) FROM documents))),
      w AS (SELECT term,
              (CASE WHEN length(term) % 2 = 0 THEN 1.0 ELSE -1.0 END) *
                floor(1000.0 * ln(1.0 + term_freq)) AS weight
            FROM vocab),
      s AS (SELECT occ.doc_id, sum(w.weight) AS sc FROM occ
            JOIN w USING (term) GROUP BY 1)
      SELECT d.doc_id,
        round(1.0 / (1.0 + exp(-(0.001 * coalesce(s.sc, 0.0) - 0.5))), 6)
          AS score
      FROM documents d LEFT JOIN s USING (doc_id) ORDER BY doc_id""",
    // PSI with Jeffreys add-0.5 smoothing, k = breaks+1 = 5 buckets
    "d60_drift_numeric" -> """
      WITH ca AS (SELECT (n_chars >= 100)::INT + (n_chars >= 200)::INT +
               (n_chars >= 400)::INT + (n_chars >= 800)::INT AS bucket
             FROM documents WHERE doc_id % 2 = 0),
      cb AS (SELECT (n_chars >= 100)::INT + (n_chars >= 200)::INT +
               (n_chars >= 400)::INT + (n_chars >= 800)::INT AS bucket
             FROM documents WHERE doc_id % 2 = 1),
      ga AS (SELECT bucket, count(*) AS n_a FROM ca GROUP BY 1),
      gb AS (SELECT bucket, count(*) AS n_b FROM cb GROUP BY 1),
      j AS (SELECT coalesce(ga.bucket, gb.bucket) AS bucket,
              coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
            FROM ga FULL JOIN gb ON ga.bucket = gb.bucket),
      ta AS (SELECT count(*) AS t FROM ca),
      tb AS (SELECT count(*) AS t FROM cb)
      SELECT bucket, n_a, n_b,
        round((n_a + 0.5) / (ta.t + 2.5), 6) AS share_a,
        round((n_b + 0.5) / (tb.t + 2.5), 6) AS share_b,
        round(((n_a + 0.5) / (ta.t + 2.5) - (n_b + 0.5) / (tb.t + 2.5)) *
          ln(((n_a + 0.5) / (ta.t + 2.5)) /
             ((n_b + 0.5) / (tb.t + 2.5))), 6) AS contribution
      FROM j, ta, tb ORDER BY bucket""",
    // categorical PSI: k = distinct labels across both snapshots
    "d61_drift_categorical" -> """
      WITH ca AS (SELECT source AS label FROM documents
                  WHERE doc_id % 2 = 0 AND source IS NOT NULL),
      cb AS (SELECT source AS label FROM documents
             WHERE doc_id % 2 = 1 AND source IS NOT NULL),
      ga AS (SELECT label, count(*) AS n_a FROM ca GROUP BY 1),
      gb AS (SELECT label, count(*) AS n_b FROM cb GROUP BY 1),
      j AS (SELECT coalesce(ga.label, gb.label) AS label,
              coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
            FROM ga FULL JOIN gb ON ga.label = gb.label),
      ta AS (SELECT count(*) AS t FROM ca),
      tb AS (SELECT count(*) AS t FROM cb),
      kk AS (SELECT count(DISTINCT label) AS k FROM
               (SELECT label FROM ca UNION ALL SELECT label FROM cb))
      SELECT label, n_a, n_b,
        round((n_a + 0.5) / (ta.t + 0.5 * kk.k), 6) AS share_a,
        round((n_b + 0.5) / (tb.t + 0.5 * kk.k), 6) AS share_b,
        round(((n_a + 0.5) / (ta.t + 0.5 * kk.k) -
               (n_b + 0.5) / (tb.t + 0.5 * kk.k)) *
          ln(((n_a + 0.5) / (ta.t + 0.5 * kk.k)) /
             ((n_b + 0.5) / (tb.t + 0.5 * kk.k))), 6) AS contribution
      FROM j, ta, tb, kk ORDER BY label""",
    // E-S rank replayed with the same exact-integer uniform: md5 hex32,
    // +0.5, /2^32, ln, divide by weight — selection must agree unless
    // two ranks collide within float ulp (distinct md5 makes ranks
    // well-separated)
    "d63_weighted_sample" -> """
      WITH r AS (SELECT doc_id, source, n_chars,
          ln((('0x' || substr(md5(doc_id::VARCHAR || 'w42'), 1, 8))::BIGINT
              + 0.5) / 4294967296.0) / n_chars AS rk
        FROM documents)
      SELECT doc_id, source, n_chars FROM
        (SELECT * FROM r ORDER BY rk DESC, doc_id::VARCHAR LIMIT 50)
      ORDER BY doc_id""",
    // DuckDB nfc_normalize replays NFC; the planted suffix (combining
    // acute + fi-ligature) makes composition load-bearing on every row
    "d65_unicode_nfc" -> """
      SELECT doc_id,
        nfc_normalize(text || ' e' || chr(769) || ' ' || chr(64257))
          AS text_nfc
      FROM documents ORDER BY doc_id""",
    // add-one smoothed unigram log-loss vs the even-id reference half;
    // per-doc avg of -ln p at the pinned 6-dp contract
    "d66_lm_logloss" -> """
      WITH rt AS (SELECT CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS t
             FROM documents WHERE doc_id % 2 = 0),
      occ AS (SELECT unnest(t) AS term FROM rt),
      counts AS (SELECT term, count(*) AS c FROM occ GROUP BY 1),
      nn AS (SELECT count(*) AS n FROM occ),
      vv AS (SELECT count(*) AS v FROM counts),
      dt AS (SELECT doc_id, CASE WHEN len(trim(text)) = 0
               THEN []::VARCHAR[]
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS t
             FROM documents),
      docc AS (SELECT doc_id, unnest(t) AS term FROM dt),
      s AS (SELECT d.doc_id, round(avg(-ln(
              (coalesce(c.c, 0) + 1) / (nn.n + vv.v + 1.0))), 6)
              AS log_loss
            FROM docc d LEFT JOIN counts c USING (term), nn, vv
            GROUP BY d.doc_id)
      SELECT d.doc_id, s.log_loss FROM documents d LEFT JOIN s
        USING (doc_id) ORDER BY doc_id""",
    // the same E-S rank inside a per-source window
    "d64_weighted_per_source" -> """
      WITH r AS (SELECT doc_id, source, n_chars,
          ln((('0x' || substr(md5(doc_id::VARCHAR || 'w42'), 1, 8))::BIGINT
              + 0.5) / 4294967296.0) / n_chars AS rk
        FROM documents)
      SELECT doc_id, source, n_chars FROM
        (SELECT *, row_number() OVER (PARTITION BY source
           ORDER BY rk DESC, doc_id::VARCHAR) AS rn FROM r)
      WHERE rn <= 10 ORDER BY doc_id""",
    // d15's recursive closure + d26's quality formula + window arg-max
    "d55_keep_best_dedup" -> """
      WITH RECURSIVE toks AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE []::VARCHAR[] END AS s FROM toks),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_distinct(a.s || b.s)) > 0
          AND len(list_intersect(a.s, b.s)) /
              CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.8),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach AS (SELECT src AS id, src AS r FROM edges
                UNION
                SELECT e.src, t.r FROM edges e JOIN reach t ON t.id = e.dst),
      clus AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
      b AS (SELECT doc_id,
        CAST(length(text) AS DOUBLE) AS len,
        CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
          AS alpha,
        CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
          AS punct,
        string_split_regex(lower(trim(text)), '\s+') AS t
       FROM documents),
      c AS (SELECT doc_id,
        CASE WHEN len > 0 THEN alpha / len ELSE 0.0 END AS ar,
        CASE WHEN len > 0 THEN punct / len ELSE 0.0 END AS pr,
        CASE WHEN len(t) > 0 THEN
          CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
          ELSE 0.0 END AS mwl,
        CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN
          ('the','and','of','to','a','in','is','it','that','for')))
          / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS sr
       FROM b),
      qual AS (SELECT doc_id,
        round(ar*0.4 + (1.0 - least(pr*10, 1.0))*0.2 +
          (CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.0 END)*0.2 +
          (CASE WHEN sr > 0.01 THEN 1.0 ELSE 0.0 END)*0.2, 6) AS quality
       FROM c),
      ranked AS (SELECT c2.cluster, c2.id,
             row_number() OVER (PARTITION BY c2.cluster
               ORDER BY q.quality DESC NULLS LAST, c2.id ASC) AS rn
        FROM clus c2 JOIN qual q ON q.doc_id = c2.id),
      losers AS (SELECT id FROM ranked WHERE rn > 1)
      SELECT d.doc_id, q.quality
      FROM documents d JOIN qual q ON q.doc_id = d.doc_id
      WHERE d.doc_id NOT IN (SELECT id FROM losers)
      ORDER BY d.doc_id""",
    // brute-force min-id dominance over the planted-copy fixture: b dies
    // iff some lower-id a has cosine >= 0.95
    "d56_semantic_dedup" -> """
      WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                    WHERE vec_id < 10000),
           aug AS (SELECT vec_id, v FROM base
                   UNION ALL
                   SELECT vec_id + 10000000, list_transform(v, x -> x * 2)
                   FROM base WHERE vec_id < 100
                   UNION ALL
                   SELECT vec_id + 20000000, list_transform(v, x -> x * 0.5)
                   FROM base WHERE vec_id < 50),
           losers AS (SELECT DISTINCT b.vec_id AS id
             FROM aug a JOIN aug b ON a.vec_id < b.vec_id
             WHERE list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v))) >= 0.95)
      SELECT vec_id FROM aug WHERE vec_id NOT IN (SELECT id FROM losers)
      ORDER BY vec_id""",
    "d16_dedup_near" -> """
      WITH RECURSIVE toks AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE []::VARCHAR[] END AS s FROM toks),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_distinct(a.s || b.s)) > 0
          AND len(list_intersect(a.s, b.s)) /
              CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.8),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach AS (SELECT src AS id, src AS r FROM edges
                UNION
                SELECT e.src, t.r FROM edges e JOIN reach t ON t.id = e.dst),
      clusters AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster)
      ORDER BY doc_id""",
    "d17_normalize" -> """
      SELECT doc_id,
             trim(regexp_replace(
               lower(strip_accents(translate(text, 'aeo', 'áéö'))),
               '\s+', ' ', 'g')) AS norm
      FROM documents ORDER BY doc_id""",
    "d18_vocabulary" -> """
      WITH toks AS (SELECT doc_id, unnest(
               CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE string_split_regex(lower(trim(text)), '\s+')
               END) AS token
             FROM documents),
      perdoc AS (SELECT doc_id, token, count(*) AS tf
                 FROM toks GROUP BY doc_id, token),
      vocab AS (SELECT token, count(*) AS doc_freq,
                       CAST(sum(tf) AS BIGINT) AS term_freq
                FROM perdoc GROUP BY token)
      SELECT token, doc_freq, term_freq FROM vocab
      WHERE doc_freq >= 2
        AND doc_freq <=
          CAST(FLOOR(0.9 * (SELECT count(*) FROM documents)) AS BIGINT)
      ORDER BY token""",
    "d21_repetition" -> """
      WITH t AS (SELECT doc_id,
        text || chr(10) || substr(text, 1, 40) || chr(10) ||
          substr(text, 1, 40) AS tx FROM documents),
      lines AS (SELECT doc_id,
        unnest(list_filter(string_split(tx, chr(10)), l -> len(l) > 0))
          AS line FROM t),
      lc AS (SELECT doc_id, line, count(*) AS c, len(line) AS ln
             FROM lines GROUP BY doc_id, line),
      lstat AS (SELECT doc_id, sum(c) AS n_lines, sum(c * ln) AS chars,
                       sum(c - 1) AS dup_lines, sum((c - 1) * ln) AS dup_chars
                FROM lc GROUP BY doc_id),
      toks AS (SELECT doc_id,
        string_split_regex(lower(trim(tx)), '\s+') AS w FROM t),
      bi AS (SELECT doc_id, unnest(list_transform(
        generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])) AS g
        FROM toks WHERE len(w) >= 2),
      bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g),
      bstat AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot
                FROM bc GROUP BY doc_id)
      SELECT d.doc_id,
        round(COALESCE(l.dup_lines * 1.0 / NULLIF(l.n_lines, 0), 0), 6)
          AS dup_line_frac,
        round(COALESCE(l.dup_chars * 1.0 / NULLIF(l.chars, 0), 0), 6)
          AS dup_line_char_frac,
        round(COALESCE(b.mx * 1.0 / NULLIF(b.tot, 0), 0), 6)
          AS top_bigram_share
      FROM documents d
      LEFT JOIN lstat l USING (doc_id) LEFT JOIN bstat b USING (doc_id)
      ORDER BY d.doc_id""",
    "d22_scrub" -> """
      WITH t AS (SELECT doc_id,
        text || ' contact user' || CAST(doc_id AS VARCHAR) ||
          '@example.com or http://site' || CAST(doc_id AS VARCHAR) ||
          '.example/path?q=1 at 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
          '.7 end' AS tx FROM documents)
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(tx,
          'https?://[^\s]+', '<URL>', 'g'),
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS scrubbed
      FROM t ORDER BY doc_id""",
    "d23_contamination" -> """
      WITH toks AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE []::VARCHAR[] END AS s FROM toks),
      btoks AS (SELECT doc_id AS bench_id,
             string_split_regex(lower(trim(substr(text, 1, 200))), '\s+') AS t
             FROM documents WHERE doc_id % 25 = 0),
      bsh AS (SELECT bench_id,
        CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE []::VARCHAR[] END AS s FROM btoks),
      pairs AS (SELECT c.doc_id, b.bench_id,
          CAST(len(list_intersect(c.s, b.s)) AS BIGINT) AS n_shared,
          len(b.s) AS bn
        FROM sh c CROSS JOIN bsh b)
      SELECT doc_id, bench_id, n_shared,
             round(n_shared * 1.0 / bn, 6) AS overlap_ratio
      FROM pairs WHERE n_shared >= 5 ORDER BY doc_id, bench_id""",
    "d24_dedup_lines" -> """
      WITH t AS (SELECT doc_id,
        text || chr(10) || 'shared footer ' || CAST(doc_id % 7 AS VARCHAR)
             || chr(10) || 'unique line ' || CAST(doc_id AS VARCHAR) AS tx
        FROM documents),
      l AS (SELECT doc_id, string_split(tx, chr(10)) AS ls FROM t),
      lines AS (SELECT doc_id,
        unnest(list_transform(generate_series(1, len(ls)),
          i -> struct_pack(pos := i, line := ls[i]))) AS z FROM l),
      lp AS (SELECT doc_id, z.pos AS pos, z.line AS line FROM lines),
      freq AS (SELECT trim(line) AS key, count(DISTINCT doc_id) AS nd
               FROM lp GROUP BY 1),
      keep AS (SELECT lp.doc_id, lp.pos, lp.line
               FROM lp JOIN freq ON trim(lp.line) = freq.key
               WHERE freq.nd < 10)
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
      FROM keep GROUP BY doc_id ORDER BY doc_id""",
    "d27_decontaminate" -> """
      WITH toks AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE []::VARCHAR[] END AS s FROM toks),
      btoks AS (SELECT string_split_regex(lower(trim(substr(text, 1, 200))),
          '\s+') AS t FROM documents WHERE doc_id % 25 = 0),
      bsh AS (SELECT
        CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE []::VARCHAR[] END AS s FROM btoks),
      bu AS (SELECT list_distinct(flatten(list(s))) AS u FROM bsh)
      SELECT doc_id FROM sh, bu
      WHERE len(list_intersect(sh.s, bu.u)) < 5
      ORDER BY doc_id""",
    // thresholds are floor(cum_weight * 65536) as 4-hex-char strings:
    // 0.8 -> cccc, 0.9 -> e666; lexicographic hex order == numeric order
    "d28_hash_split" -> """
      SELECT doc_id,
        CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 's42'), 1, 4) < 'cccc'
               THEN 'train'
             WHEN substr(md5(CAST(doc_id AS VARCHAR) || 's42'), 1, 4) < 'e666'
               THEN 'val'
             ELSE 'test' END AS split
      FROM documents ORDER BY doc_id""",
    "d29_mixture" -> """
      WITH tok AS (SELECT doc_id, source,
          substr(md5(CAST(doc_id AS VARCHAR) || 'm1'), 1, 4) AS h4,
          CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS t
        FROM documents),
      pb AS (SELECT source, h4, sum(t) AS btok FROM tok GROUP BY 1, 2),
      cum AS (SELECT source, h4,
          COALESCE(sum(btok) OVER (PARTITION BY source ORDER BY h4
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        FROM pb),
      adm AS (SELECT source, h4 FROM cum
        WHERE bef < CASE source WHEN 'src0' THEN 4000 WHEN 'src1' THEN 2000
                    WHEN 'src2' THEN 2000 ELSE 0 END)
      SELECT tok.doc_id, tok.source FROM tok JOIN adm USING (source, h4)
      ORDER BY doc_id""",
    "d30_dedup_against" -> """
      WITH toks AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE []::VARCHAR[] END AS s FROM toks),
      loser AS (SELECT DISTINCT a.doc_id FROM sh a, sh b
        WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
          AND CASE WHEN len(list_distinct(a.s || b.s)) > 0
               THEN len(list_intersect(a.s, b.s)) /
                    CAST(len(list_distinct(a.s || b.s)) AS DOUBLE)
               ELSE 0.0 END >= 0.8)
      SELECT doc_id FROM documents
      WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM loser)
      ORDER BY doc_id""",
    "d51_index_dedup" -> """
      WITH toks AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE []::VARCHAR[] END AS s FROM toks),
      batch AS (SELECT doc_id, s FROM sh WHERE doc_id % 2 = 1
                UNION ALL
                SELECT doc_id + 1000000, s FROM sh
                WHERE doc_id % 2 = 0 AND doc_id < 50),
      loser AS (SELECT DISTINCT b.doc_id FROM batch b, sh a
        WHERE a.doc_id % 2 = 0
          AND CASE WHEN len(list_distinct(b.s || a.s)) > 0
               THEN len(list_intersect(b.s, a.s)) /
                    CAST(len(list_distinct(b.s || a.s)) AS DOUBLE)
               ELSE 0.0 END >= 0.8)
      SELECT doc_id FROM batch WHERE doc_id NOT IN (SELECT doc_id FROM loser)
      ORDER BY doc_id""",
    "d37_pipeline" -> """
      WITH norm AS (SELECT doc_id,
          trim(regexp_replace(
            lower(strip_accents(translate(text, 'aeo', 'áéö'))),
            '\s+', ' ', 'g')) AS n
        FROM documents),
      qb AS (SELECT doc_id, n,
          CAST(length(n) AS DOUBLE) AS len,
          CAST(length(regexp_replace(n, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
            AS alpha,
          CAST(length(regexp_replace(n, '[^.,;:!?]', '', 'g')) AS DOUBLE)
            AS punct,
          CASE WHEN len(trim(n)) = 0 THEN []::VARCHAR[]
               ELSE string_split_regex(lower(trim(n)), '\s+') END AS t
        FROM norm),
      qual AS (SELECT doc_id, n, t,
          round((CASE WHEN len > 0 THEN alpha / len ELSE 0.0 END) * 0.4
            + (1.0 - least((CASE WHEN len > 0 THEN punct / len
                ELSE 0.0 END) * 10, 1.0)) * 0.2
            + (CASE WHEN len(t) > 0
                 AND CAST(list_sum(list_transform(t, x -> length(x)))
                   AS DOUBLE) / len(t) BETWEEN 3 AND 10
               THEN 1.0 ELSE 0.0 END) * 0.2
            + (CASE WHEN len(t) > 0 AND len(list_filter(t, x -> x IN
                 ('the','and','of','to','a','in','is','it','that','for')))
                 / CAST(len(t) AS DOUBLE) > 0.01
               THEN 1.0 ELSE 0.0 END) * 0.2, 6) AS quality
        FROM qb),
      gated AS (SELECT doc_id, n, t FROM qual
        WHERE quality >= (SELECT quantile_cont(quality, 0.5) FROM qual)),
      bn AS (SELECT trim(regexp_replace(
            lower(strip_accents(translate(substr(text, 1, 200),
              'aeo', 'áéö'))), '\s+', ' ', 'g')) AS b
        FROM documents WHERE doc_id % 25 = 0),
      btok AS (SELECT string_split_regex(lower(trim(b)), '\s+') AS t FROM bn),
      bsh AS (SELECT CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(generate_series(1, len(t)-2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE []::VARCHAR[] END AS s FROM btok),
      bu AS (SELECT list_distinct(flatten(list(s))) AS u FROM bsh),
      gsh AS (SELECT doc_id, n, t, CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(generate_series(1, len(t)-2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE []::VARCHAR[] END AS s FROM gated),
      clean AS (SELECT doc_id, n, t FROM gsh, bu
        WHERE len(list_intersect(gsh.s, bu.u)) < 5),
      train AS (SELECT doc_id, n, t FROM clean
        WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'p1'), 1, 4) < 'cccc'),
      c AS (SELECT doc_id, t, len(t) AS ntok,
          GREATEST(CAST(ceil((len(t) - 40) / 32.0) AS BIGINT), 0) AS extra
        FROM train WHERE len(trim(n)) > 0),
      e AS (SELECT doc_id, t, ntok,
          unnest(generate_series(0, extra)) AS chunk_id FROM c)
      SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        array_to_string(t[(chunk_id*32+1):(chunk_id*32+40)], ' ')
          AS chunk_text,
        LEAST(40, ntok - chunk_id*32) AS n_tokens
      FROM e ORDER BY doc_id, chunk_id""",
    "d36_quantize" -> """
      WITH b AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      s AS (SELECT vec_id, v,
          list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM b),
      q AS (SELECT vec_id, v, scale,
          CASE WHEN scale > 0
               THEN list_transform(v, x -> CAST(round(x / scale) AS BIGINT))
               ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qs
        FROM s),
      d AS (SELECT vec_id, v, scale, qs,
          list_transform(qs, x -> x * scale) AS dq FROM q)
      SELECT vec_id, round(scale, 6) AS scale,
        CAST(list_sum(qs) AS BIGINT) AS q_sum,
        array_to_string(qs[1:8], ',') AS q_head,
        round(list_dot_product(v, dq) /
          (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(dq, dq))), 4)
          AS recon_cos
      FROM d ORDER BY vec_id""",
    "d32_topk_sample" -> """
      WITH r AS (SELECT doc_id, source,
          row_number() OVER (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR) || 't1'),
                     CAST(doc_id AS VARCHAR)) AS rn
        FROM documents)
      SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""",
    // size=40, overlap=8 -> stride=32; DuckDB list slices are 1-based
    // inclusive and clamp at the list end, matching Spark's slice()
    "d33_chunk" -> """
      WITH toks AS (SELECT doc_id,
          CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE string_split_regex(lower(trim(text)), '\s+') END AS t
        FROM documents),
      c AS (SELECT doc_id, t, len(t) AS n,
          GREATEST(CAST(ceil((len(t) - 40) / 32.0) AS BIGINT), 0) AS extra
        FROM toks WHERE len(t) > 0),
      e AS (SELECT doc_id, t, n,
          unnest(generate_series(0, extra)) AS chunk_id FROM c)
      SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        array_to_string(t[(chunk_id*32+1):(chunk_id*32+40)], ' ')
          AS chunk_text,
        LEAST(40, n - chunk_id*32) AS n_tokens
      FROM e ORDER BY doc_id, chunk_id""",
    "d26_quality_gate" -> """
      WITH b AS (SELECT doc_id,
        CAST(length(text) AS DOUBLE) AS len,
        CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
          AS alpha,
        CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
          AS punct,
        string_split_regex(lower(trim(text)), '\s+') AS t
       FROM documents),
      c AS (SELECT doc_id,
        CASE WHEN len > 0 THEN alpha / len ELSE 0.0 END AS ar,
        CASE WHEN len > 0 THEN punct / len ELSE 0.0 END AS pr,
        CASE WHEN len(t) > 0 THEN
          CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
          ELSE 0.0 END AS mwl,
        CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN
          ('the','and','of','to','a','in','is','it','that','for')))
          / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS sr
       FROM b),
      qual AS (SELECT doc_id,
        round(ar*0.4 + (1.0 - least(pr*10, 1.0))*0.2 +
          (CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.0 END)*0.2 +
          (CASE WHEN sr > 0.01 THEN 1.0 ELSE 0.0 END)*0.2, 6) AS quality
       FROM c)
      SELECT doc_id, quality FROM qual
      WHERE quality >= (SELECT quantile_cont(quality, 0.5) FROM qual)
      ORDER BY doc_id""",
    "d25_pack_sequences" -> """
      WITH tok AS (SELECT doc_id,
          CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS t
        FROM documents),
      c AS (SELECT doc_id, t,
          COALESCE(sum(t) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
        FROM tok)
      SELECT doc_id, CAST(p AS BIGINT) AS tokens_before,
             CAST(p // 2000 AS BIGINT) AS bin
      FROM c ORDER BY doc_id""",
    "d20_ngram_stages" -> """
      WITH toks AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
          generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE []::VARCHAR[] END AS s FROM toks),
      posting AS (SELECT doc_id, unnest(s) AS g FROM sh),
      buckets AS (SELECT g, count(*) AS df FROM posting GROUP BY g),
      rare AS (SELECT g, df FROM buckets WHERE df BETWEEN 2 AND 20),
      rp AS (SELECT p.g, p.doc_id FROM posting p JOIN rare r ON p.g = r.g),
      co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
             FROM rp a JOIN rp b ON a.g = b.g AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT stage, n FROM (
        SELECT '1_postings' AS stage, count(*) AS n FROM posting
        UNION ALL SELECT '2_rare_shingles', count(*) FROM rare
        UNION ALL SELECT '3_candidate_pairs',
          COALESCE(CAST(sum(df * (df - 1) // 2) AS BIGINT), 0) FROM rare
        UNION ALL SELECT '4_cooccur_pairs', count(*) FROM co WHERE c >= 2
      ) ORDER BY stage""",
    "d19_tfidf" -> """
      WITH toks AS (SELECT doc_id, unnest(
               CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE string_split_regex(lower(trim(text)), '\s+')
               END) AS token
             FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf
             FROM toks GROUP BY doc_id, token),
      dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token
              HAVING count(*) <=
                CAST(FLOOR(0.5 * (SELECT count(*) FROM documents)) AS BIGINT)),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      scored AS (SELECT doc_id, token, tf, df,
                        round(tf * ln(n.n / df), 6) AS score
                 FROM tf JOIN dfq USING (token) CROSS JOIN n),
      ranked AS (SELECT doc_id, token, score,
                        CAST(row_number() OVER
                          (PARTITION BY doc_id
                           ORDER BY score DESC, token) AS INT) AS rank
                 FROM scored)
      SELECT doc_id, token, score, rank FROM ranked
      WHERE rank <= 5 ORDER BY doc_id, rank""",
    "q53_select_shape" -> """
      SELECT c_custkey AS custkey, c_acctbal AS balance, c_name AS name,
             c_mktsegment AS mktsegment
      FROM customer ORDER BY custkey""",
    "q54_positional" -> """
      WITH r AS (SELECT o_orderkey, o_totalprice,
                        CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS v,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS i
                 FROM orders)
      SELECT o_orderkey, v FROM r
      WHERE i % 100 = 0 AND v IS NOT NULL AND o_totalprice > 50000
      ORDER BY o_orderkey""",
    "q55_math_funcs" -> """
      SELECT l_orderkey, l_linenumber,
             round(sin(l_discount), 6) AS sin_d,
             round(cos(l_discount), 6) AS cos_d,
             round(tan(l_discount), 6) AS tan_d,
             round(asin(l_discount), 6) AS asin_d,
             round(atan(l_discount), 6) AS atan_d,
             round(ln(l_extendedprice), 6) AS ln_p,
             round(ln(l_extendedprice) / ln(10), 6) AS log10_p,
             round(exp(0.0 - l_discount), 6) AS exp_negd,
             round(sqrt(l_extendedprice), 6) AS sqrt_p,
             round(pow(l_quantity, 2), 6) AS pow_q,
             round(abs(l_quantity - 25.0), 6) AS abs_c,
             CAST(sign(l_quantity - 25.0) AS BIGINT) AS sign_c,
             CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
             CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
             round(greatest(least(l_quantity, 40.0), 10.0), 6) AS clip_q
      FROM lineitem""",
    "q56_csv_roundtrip" -> """
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment
      FROM customer ORDER BY c_custkey""",
    "q57_ipc_roundtrip" -> """
      SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      FROM supplier ORDER BY s_suppkey""",
    "q58_transpose" -> """
      SELECT 'sum_qty' AS name,
             sum(l_quantity) FILTER (l_returnflag = 'A') AS "A",
             sum(l_quantity) FILTER (l_returnflag = 'N') AS "N",
             sum(l_quantity) FILTER (l_returnflag = 'R') AS "R"
      FROM lineitem
      UNION ALL
      SELECT 'n_rows',
             CAST(count(*) FILTER (l_returnflag = 'A') AS DOUBLE),
             CAST(count(*) FILTER (l_returnflag = 'N') AS DOUBLE),
             CAST(count(*) FILTER (l_returnflag = 'R') AS DOUBLE)
      FROM lineitem""",
    "q59_range_join" -> """
      WITH e AS (SELECT event_id AS error_id, ts FROM events
                 WHERE event_type = 'error'),
           c AS (SELECT event_id AS click_id, ts FROM events
                 WHERE event_type = 'click')
      SELECT error_id, click_id FROM e JOIN c
        ON c.ts BETWEEN e.ts AND e.ts + INTERVAL 5 MINUTE
      ORDER BY error_id, click_id""",
    "q63_time_slice" -> """
      WITH ev AS (SELECT event_id, ts, event_type FROM events
                  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                    AND ts <  TIMESTAMP '2024-01-11 00:00:00'),
           e AS (SELECT event_id AS error_id, ts FROM ev
                 WHERE event_type = 'error'),
           c AS (SELECT event_id AS click_id, ts FROM ev
                 WHERE event_type = 'click')
      SELECT error_id, click_id FROM e JOIN c
        ON c.ts BETWEEN e.ts AND e.ts + INTERVAL 5 MINUTE
      ORDER BY error_id, click_id""",
    "q64_time_partitioned" -> """
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             count(*) AS n, round(sum(value), 4) AS total_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts <  TIMESTAMP '2024-01-11 00:00:00'
      GROUP BY 1, 2 ORDER BY hour_start, event_type""",
    // manifest skipping is an IO strategy, not a semantics change: the
    // oracle is the plain inclusive band filter
    "q65_manifest_skip" -> """
      SELECT doc_id, source, n_chars FROM documents
      WHERE n_chars BETWEEN 200 AND 400 ORDER BY doc_id""",
    // z-order is an IO strategy: the oracle is the plain AND band filter
    "q67_zorder_skip" -> """
      SELECT doc_id, source, n_chars FROM documents
      WHERE n_chars BETWEEN 200 AND 500 AND doc_id BETWEEN 0 AND 250
      ORDER BY doc_id""",
    // two-axis skipping is an IO strategy: the oracle is the plain
    // day+band AND filter (ts band inclusive of the day's last ns)
    "q68_time_value_skip" -> """
      SELECT event_type, count(*) AS n,
             round(sum(value), 4) AS total_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts <  TIMESTAMP '2024-01-11 00:00:00'
        AND value BETWEEN 200.0 AND 800.0
      GROUP BY 1 ORDER BY event_type""",
    // upsert = MERGE semantics replayed flat: the batch wins its keys,
    // everything else survives untouched
    "q69_lake_upsert" -> """
      WITH batch AS (
        SELECT doc_id, source, text || ' v2' AS text,
               n_chars + 3 AS n_chars
        FROM documents WHERE doc_id BETWEEN 100 AND 149
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, source, text, n_chars
        FROM documents WHERE doc_id < 50)
      SELECT doc_id, source, text, n_chars FROM batch
      UNION ALL
      SELECT doc_id, source, text, n_chars FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM batch)
      ORDER BY doc_id""",
    // keyed delete = plain NOT-IN over the raw table
    "q70_lake_delete" -> """
      SELECT doc_id, source, n_chars FROM documents
      WHERE doc_id % 7 != 0 ORDER BY doc_id""",
    // PCA invariants are engine-side deterministic flags; the oracle
    // holds them constant and pins the data-bound corpus count
    "d67_pca_contract" -> """
      SELECT count(*) AS n_vecs, 1 AS orthonormal_ok, 1 AS descending_ok,
        1 AS variance_match_ok, 1 AS whiten_unit_ok FROM embeddings""",
    // whitened-IVF invariants are engine-side executed identities; the
    // oracle holds the flags constant and pins the data-bound counts
    // (5 queries x k=10 results from the exhaustive probe)
    "d68_whitened_ivf" -> """
      SELECT count(*) AS n_vecs, 50::BIGINT AS n_results,
        1 AS exhaustive_equals_brute_ok, 1 AS model_roundtrip_ok,
        1 AS metric_changed_ok FROM embeddings""",
    // whitened-append lifecycle invariants are engine-side executed
    // identities (exhaustive probe ≡ whitened brute force over the full
    // corpus; raw append/search refused); the oracle holds the flags
    // constant and pins the data-bound counts
    "d69_whitened_append" -> """
      SELECT count(*) AS n_vecs, 50::BIGINT AS n_results,
        1 AS append_equals_brute_ok, 1 AS raw_append_refused_ok,
        1 AS raw_search_refused_ok FROM embeddings""",
    // whitened+SQ8 composition: d46's tolerance contract in the whitened
    // space, plus executed witnesses (int8 payload on disk, raw verb
    // refused) held constant
    "d70_whitened_sq8" -> """
      SELECT vec_id AS query_id, 1 AS recall_ok, 1 AS cos_err_ok,
        1 AS full_k, 1 AS sq8_stored_ok, 1 AS raw_refused_ok
      FROM embeddings WHERE vec_id < 5 ORDER BY query_id""",
    // whitened+SQ8+rescore: the refine removes the quantization error,
    // so the executed identity is EXACT equality with whitened brute
    // force (bit-level, both paths score the same projected doubles);
    // the oracle holds the flags constant and pins the data-bound
    // counts (5 queries x k=5 refined results)
    "d72_whitened_sq8_rescore" -> """
      SELECT count(*) AS n_vecs, 25::BIGINT AS n_results,
        1 AS rescore_equals_brute_ok, 1 AS dist_equals_local_ok
      FROM embeddings""",
    // the deterministic shuffle replayed verbatim: exact-integer md5
    // shard + per-shard rank of the full hash
    // both lake versions replayed flat: version 0 = the even-id base,
    // version 1 = MERGE(base, updates on %10 + odd-id inserts < 50)
    "q72_time_travel" -> """
      WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
      batch AS (
        SELECT doc_id, text || ' v2' AS text FROM documents
        WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id, text || ' new' AS text FROM documents
        WHERE doc_id % 2 = 1 AND doc_id < 50),
      merged AS (
        SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM batch)
        UNION ALL SELECT * FROM batch)
      SELECT 0::BIGINT AS version, doc_id, text FROM base
      UNION ALL
      SELECT 1::BIGINT AS version, doc_id, text FROM merged
      ORDER BY version, doc_id""",
    "q71_train_shards" -> """
      WITH h AS (SELECT doc_id,
          ('0x' || substr(md5(doc_id::VARCHAR || 'sh42'), 1, 8))::BIGINT
            % 16 AS shard,
          md5(doc_id::VARCHAR || 'sh42') AS hfull
        FROM documents)
      SELECT doc_id, shard,
        row_number() OVER (PARTITION BY shard
                           ORDER BY hfull, doc_id::VARCHAR) AS pos
      FROM h ORDER BY doc_id""",
    // retention = the raw table filtered at the day cutoff
    "q66_retention" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n, round(sum(value), 4) AS total_value
      FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      GROUP BY 1, 2 ORDER BY day, event_type""",
    // the oracle compares TRUE text equality; the engine's 64-bit
    // content-hash compare can only disagree via a collision
    "d62_snapshot_diff" -> """
      WITH prev AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
      cur AS (SELECT doc_id,
                CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
                  AS text
              FROM documents WHERE doc_id >= 50)
      SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
        CASE WHEN p.doc_id IS NULL THEN 'added'
             WHEN c.doc_id IS NULL THEN 'removed'
             WHEN p.text IS NOT DISTINCT FROM c.text
               THEN 'unchanged'
             ELSE 'changed' END AS status
      FROM prev p FULL JOIN cur c ON p.doc_id = c.doc_id
      ORDER BY doc_id""",
    "q60_series_utils" -> """
      SELECT
        (SELECT min(i) FROM
           (SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS i,
                   l_returnflag
            FROM lineitem) WHERE l_returnflag = 'R') AS "index",
        bool_and(l_returnflag = l_linestatus) AS flags_equal,
        bool_and(l_returnflag = l_returnflag) AS self_equal
      FROM lineitem""",
    "q61_argsort" -> """
      SELECT i AS "index" FROM
        (SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS i,
                l_extendedprice
         FROM lineitem)
      ORDER BY l_extendedprice, i LIMIT 100""")
}
