package graft.monitoring

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model / data monitoring: PSI drift, missing-rate shift, volume drop.
  *
  * Re-expresses the reference's model monitoring (reference
  * src/ml/model_monitoring.py:78-124 PSI, :126-134 missing, :154-172
  * volume) with two Spark-first changes:
  *   - histograms stay distributed — the reference collects per-bucket
  *     counts to the driver and loops in Python; graft computes the PSI
  *     sum as one aggregate, so only the final per-feature row moves.
  *   - bins are deterministic fixed-width over the baseline min/max, not
  *     `approxQuantile` (whose sampling is neither oracle-stable nor
  *     run-stable). Fixed-width bins are one extra tiny aggregate and
  *     reproduce bit-identically on any engine.
  *
  * All monitored features melt into (feature, x) rows via `stack`, so N
  * features cost one scan, not N (the reference runs one job per feature
  * per check).
  */
object Monitoring {

  private def melted(df: DataFrame, cols: Seq[String], castTo: String, splitDate: String) = {
    val stackExpr =
      s"stack(${cols.size}, ${cols.map(c => s"'$c', cast(`$c` as $castTo)").mkString(", ")}) as (feature, x)"
    df.select(expr(stackExpr), col("event_date"))
      .withColumn("is_base",
        when(col("event_date") <= lit(splitDate).cast("date"), 1).otherwise(0))
  }

  /** Shared binning stage for [[psi]] and [[ksStat]]: melt the features,
    * derive deterministic fixed-width bins over the baseline [min, max]
    * (current-window values clamp into the edge bins), and return per-
    * (feature, bin) base/current counts joined with per-feature totals.
    * ONE implementation on purpose — the two statistics are only
    * comparable because they histogram at identical bin edges. */
  private def binnedCounts(df: DataFrame, cols: Seq[String], splitDate: String,
      bins: Int): DataFrame = {
    val m = melted(df, cols, "double", splitDate).filter(col("x").isNotNull)
    val stats = m.filter(col("is_base") === 1)
      .groupBy("feature").agg(min("x").as("lo"), max("x").as("hi"))
    val width = (col("hi") - col("lo")) / bins
    val binned = m.join(broadcast(stats), Seq("feature"))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(greatest(floor((col("x") - col("lo")) / width), lit(0)), lit(bins - 1)))
          .cast("int"))
    val counts = binned.groupBy("feature", "bin").agg(
      sum("is_base").as("b_cnt"),
      sum(lit(1) - col("is_base")).as("c_cnt"))
    val tot = counts.groupBy("feature").agg(
      sum("b_cnt").as("b_tot"), sum("c_cnt").as("c_tot"))
    counts.join(broadcast(tot), Seq("feature"))
  }

  /** Population-stability index per feature: 10 fixed-width bins over the
    * baseline [min, max]; current-window values clamp into the edge bins.
    * Output: one row per feature (feature, base_count, cur_count, psi).
    *
    * Determinism: each bin's term derives from exact integer ratios, but
    * its ln rides libm ([[graft.functions.NativeLog]] — the Math.log
    * variant that matches glibc on 99.97% of args vs StrictMath's 97.2%)
    * and the 10-term sum is accumulation-order-sensitive; terms are
    * summed as ×10⁶ rounded integer images (order-independent) and
    * divided once — psi is an exact sum of 1e-6-quantized terms. */
  def psi(df: DataFrame, cols: Seq[String], splitDate: String, bins: Int = 10): DataFrame = {
    val bPct = greatest(col("b_cnt") / col("b_tot"), lit(1e-6))
    val cPct = greatest(col("c_cnt") / col("c_tot"), lit(1e-6))
    val term = (cPct - bPct) * graft.functions.GraftFunctions.nativeLn(cPct / bPct)
    binnedCounts(df, cols, splitDate, bins)
      .groupBy(col("feature"), col("b_tot").as("base_count"), col("c_tot").as("cur_count"))
      .agg((sum(round(term * 1e6)) / 1e6).as("psi"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic per feature: the max
    * gap between baseline and current empirical CDFs, evaluated at the
    * same deterministic fixed-width bin edges as [[psi]]. PSI weights the
    * whole distribution (and saturates on disjoint supports); KS reads
    * out the single worst CDF displacement — a sharper alarm for median
    * shifts, and the two together are the standard drift dashboard pair.
    *
    * Binned on purpose: the exact statistic needs a global ordered CDF
    * (an unpartitioned window — single-task at any scale); bin-edge
    * evaluation underestimates KS by at most the probability mass of one
    * bin and keeps the plan a (feature, bin)-keyed aggregate plus a
    * window over ≤ `bins` rows per feature. Integer-ratio arithmetic
    * throughout → bit-identical on any engine. */
  /** Reference-window histogram as driver-side model metadata: fixed-width
    * bin fractions over [lo, hi], clamped at 1e-6 like [[psi]]'s base
    * side. KB-sized at any corpus scale (bins doubles + two bounds) — the
    * ONE legitimate collect in the monitoring stack, because a drift
    * baseline IS model metadata that ships with the model, not data. Used
    * by [[graft.streaming.Streams.psiAlertStream]] to fold the baseline
    * into stream-side literals. */
  def baselineHistogram(df: DataFrame, valueCol: String,
      bins: Int = 10): (Double, Double, Array[Double]) = {
    val vals = df.select(col(valueCol).cast("double").as("x")).filter(col("x").isNotNull)
    val bounds = vals.agg(min("x"), max("x")).head()
    require(!bounds.isNullAt(0),
      s"drift baseline for '$valueCol' has no non-null rows — a histogram over nothing would NPE downstream")
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    val width = (hi - lo) / bins
    val binCol =
      if (hi == lo) lit(0)
      else least(greatest(floor((col("x") - lit(lo)) / lit(width)), lit(0)), lit(bins - 1)).cast("int")
    val counts = vals.withColumn("bin", binCol)
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Int]("bin") -> r.getAs[Long]("n")).toMap
    val total = counts.values.sum.toDouble
    val pcts = Array.tabulate(bins)(i => math.max(counts.getOrElse(i, 0L) / total, 1e-6))
    (lo, hi, pcts)
  }

  def ksStat(df: DataFrame, cols: Seq[String], splitDate: String, bins: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("feature").orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    binnedCounts(df, cols, splitDate, bins)
      .withColumn("b_cum", sum("b_cnt").over(w))
      .withColumn("c_cum", sum("c_cnt").over(w))
      .groupBy(col("feature"), col("b_tot").cast("long").as("base_count"),
        col("c_tot").cast("long").as("cur_count"))
      .agg(max(abs(col("b_cum") / col("b_tot") - col("c_cum") / col("c_tot"))).as("ks"))
  }

  /** Two-sample chi-square homogeneity statistic per CATEGORICAL feature —
    * the drift alarm for discrete columns, where PSI/KS's fixed-width
    * numeric bins don't apply: each distinct value is its own cell, and
    * the statistic asks whether baseline and current windows draw from
    * the same categorical distribution. Expected cell counts come from
    * the pooled margins (E = row_total × window_total / N), the standard
    * contingency-table form.
    *
    * Scale: one melted scan, one (feature, category)-keyed aggregate, a
    * broadcast of per-feature totals, and a per-feature roll-up — the
    * same plan family as [[psi]]. Category cardinality bounds the shuffle
    * (categorical monitoring columns are low-cardinality by definition;
    * cap upstream with a heavy-hitters pass if a column isn't).
    * chi2 rounds to 6 dp: the cell-term sum accumulates doubles in
    * engine-specific order. When either window has ZERO rows for a
    * feature the statistic is undefined (every expected count is 0);
    * chi2 is null then, not NaN/Infinity — an empty window must read
    * as "no evidence", never as a poisoned drift alarm. */
  def chiSquare(df: DataFrame, cols: Seq[String], splitDate: String): DataFrame = {
    val m = melted(df, cols, "string", splitDate).filter(col("x").isNotNull)
    val counts = m.groupBy("feature", "x").agg(
      sum("is_base").as("b_cnt"),
      sum(lit(1) - col("is_base")).as("c_cnt"))
    val tot = counts.groupBy("feature").agg(
      sum("b_cnt").as("b_tot"), sum("c_cnt").as("c_tot"),
      count(lit(1)).as("n_categories"))
    val n = col("b_tot") + col("c_tot")
    val eB = (col("b_cnt") + col("c_cnt")) * col("b_tot") / n
    val eC = (col("b_cnt") + col("c_cnt")) * col("c_tot") / n
    counts.join(broadcast(tot), Seq("feature"))
      .groupBy(col("feature"), col("b_tot").cast("long").as("base_count"),
        col("c_tot").cast("long").as("cur_count"), col("n_categories"))
      // guard: counts only holds observed categories (b_cnt+c_cnt >= 1),
      // so eB = 0 iff b_tot = 0 (and eC = 0 iff c_tot = 0) — nulling on
      // the window totals covers every zero-expected cell
      .agg(round(sum(when(col("b_tot") > 0 && col("c_tot") > 0,
        pow(col("b_cnt") - eB, 2) / eB + pow(col("c_cnt") - eC, 2) / eC)), 6).as("chi2"))
      .select(col("feature"), col("base_count"), col("cur_count"),
        col("n_categories"), (col("n_categories") - 1).as("dof"), col("chi2"))
  }

  /** Embedding-distribution drift per label: cosine between the baseline
    * and current CENTROIDS plus the centroid-norm ratio — the cheap
    * first-line alarm for "did the upstream embedding model change"
    * (a re-trained or silently re-versioned encoder moves centroids long
    * before downstream metrics notice). Baseline/current split is
    * `vec_id % 2` here (deterministic, sf-independent); production
    * callers split on ingest time the same way.
    *
    * Scale: posexplode → one (label, pos)-keyed aggregate (shuffle rows
    * = labels × dim, NOT corpus size) → one label-keyed roll-up of the
    * dim-length centroid vectors. The corpus scans once; nothing
    * corpus-sized shuffles. Cosine/norms round to 6 dp (double-sum
    * accumulation order). */
  def embeddingDrift(emb: DataFrame): DataFrame = {
    val isBase = col("vec_id") % 2 === 0
    val perPos = emb
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(when(isBase, col("v").cast("double"))).as("b_sum"),
        sum(when(!isBase, col("v").cast("double"))).as("c_sum"),
        sum(when(isBase, 1L).otherwise(0L)).as("b_n"),
        sum(when(!isBase, 1L).otherwise(0L)).as("c_n"))
    perPos
      .select(col("label"),
        (col("b_sum") / nullif(col("b_n"), lit(0L))).as("mb"),
        (col("c_sum") / nullif(col("c_n"), lit(0L))).as("mc"),
        col("b_n"), col("c_n"))
      .groupBy(col("label"))
      .agg(
        max(col("b_n")).as("base_n"), max(col("c_n")).as("cur_n"),
        sum(col("mb") * col("mc")).as("dot"),
        sum(col("mb") * col("mb")).as("nb2"),
        sum(col("mc") * col("mc")).as("nc2"))
      .select(col("label"), col("base_n"), col("cur_n"),
        round(col("dot") / sqrt(col("nb2") * col("nc2")), 6).as("centroid_cosine"),
        round(sqrt(col("nc2") / col("nb2")), 6).as("norm_ratio"))
  }

  /** Missing-rate per feature in baseline vs current window + shift.
    * One scan for all features. */
  def missingRates(df: DataFrame, cols: Seq[String], splitDate: String): DataFrame = {
    val stackExpr =
      s"stack(${cols.size}, ${cols.map(c => s"'$c', cast(`$c` is null as int)").mkString(", ")}) as (feature, is_null)"
    val m = df.select(expr(stackExpr), col("event_date"))
      .withColumn("is_base",
        when(col("event_date") <= lit(splitDate).cast("date"), 1).otherwise(0))
    m.groupBy("feature")
      .agg(
        sum("is_base").as("base_total"),
        sum(col("is_base") * col("is_null")).as("base_null"),
        sum(lit(1) - col("is_base")).as("cur_total"),
        sum((lit(1) - col("is_base")) * col("is_null")).as("cur_null"))
      .select(
        col("feature"), col("base_total"), col("cur_total"),
        (col("base_null") / col("base_total")).as("base_missing_rate"),
        (col("cur_null") / col("cur_total")).as("cur_missing_rate"),
        (col("cur_null") / col("cur_total") - col("base_null") / col("base_total")).as("shift"))
  }

  /** Serving-latency stats (reference model_monitoring.py:154-172 reads
    * JSONL API logs on the driver and sorts in Python; graft computes the
    * exact percentiles distributed from whatever frame carries the latency
    * column). */
  def latencyStats(df: DataFrame, latencyCol: String): DataFrame =
    df.agg(
      count(col(latencyCol)).as("n"),
      percentile(col(latencyCol), lit(0.5)).as("p50"),
      percentile(col(latencyCol), lit(0.95)).as("p95"),
      avg(col(latencyCol)).as("mean"))

  /** Volume monitoring: row counts and active days per window, daily-rate
    * ratio, and a <80% drop alert (reference model_monitoring.py:154-172).
    * Single aggregate pass, single output row. */
  def volume(df: DataFrame, splitDate: String, alertBelow: Double = 0.8): DataFrame = {
    val isBase = when(col("event_date") <= lit(splitDate).cast("date"), 1).otherwise(0)
    val agg = df.agg(
      sum(isBase).as("base_count"),
      sum(lit(1) - isBase).as("cur_count"),
      countDistinct(when(isBase === 1, col("event_date"))).as("base_days"),
      countDistinct(when(isBase === 0, col("event_date"))).as("cur_days"))
    agg.select(
      col("base_count"), col("cur_count"), col("base_days"), col("cur_days"),
      (col("base_count") / col("base_days")).as("base_daily_avg"),
      (col("cur_count") / col("cur_days")).as("cur_daily_avg"),
      ((col("cur_count") / col("cur_days")) / (col("base_count") / col("base_days"))).as("volume_ratio"),
      when((col("cur_count") / col("cur_days")) / (col("base_count") / col("base_days")) < alertBelow, 1)
        .otherwise(0).as("volume_alert"))
  }

  /** Single change-point detection over the daily volume series —
    * binary-segmentation's CUSUM-style split statistic: for each
    * candidate split t of the n daily counts,
    * G_t = sqrt(t·(n−t)/n) · |mean(x₁..t) − mean(x_{t+1}..n)|,
    * and the detected change point is the argmax. [[volume]] compares a
    * FIXED split's two windows; this finds WHERE the level shifted —
    * the alarm you run when you don't know the deploy date.
    *
    * Scale: the raw data collapses to one row per day in the first
    * hash-aggregate (the only pass over the corpus); everything after —
    * prefix sums, candidate scores, argmax — runs on the |days| series,
    * which grows with the calendar, never the data (same argument as
    * `agg_ret`'s days² space). The unpartitioned window and 1-row total
    * join are over that bounded series. All arithmetic is exact-integer
    * sums and IEEE-correctly-rounded ops in a fixed expression order →
    * identical doubles on any engine.
    *
    * Output: one row — (change_date, n_days, g_stat, mean_before,
    * mean_after) where change_date is the LAST day of the left segment. */
  def changePoint(df: DataFrame, dateCol: String = "event_date"): DataFrame = {
    val daily = df.groupBy(col(dateCol).as("change_date"))
      .agg(count(lit(1)).as("x"))
    val ord = org.apache.spark.sql.expressions.Window.orderBy("change_date")
    val cum = org.apache.spark.sql.expressions.Window.orderBy("change_date")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = daily.agg(sum("x").as("tot"), count(lit(1)).as("n"))
    daily
      .withColumn("t", row_number().over(ord).cast("long"))
      .withColumn("cum", sum("x").over(cum))
      .crossJoin(broadcast(tot))
      .filter(col("t") < col("n"))
      .withColumn("mean_before", col("cum").cast("double") / col("t"))
      .withColumn("mean_after",
        (col("tot") - col("cum")).cast("double") / (col("n") - col("t")))
      .withColumn("g_stat",
        sqrt((col("t") * (col("n") - col("t"))).cast("double") / col("n")) *
          abs(col("mean_before") - col("mean_after")))
      .orderBy(col("g_stat").desc, col("change_date"))
      .limit(1)
      .select("change_date", "n", "g_stat", "mean_before", "mean_after")
      .withColumnRenamed("n", "n_days")
  }

  /** Seasonal anomaly detection on hourly zone demand: each (zone,
    * hour-of-week) cell gets a robust profile (exact q1/q3 over the
    * cell's history) and every hour is flagged against its cell's Tukey
    * fences q1 − k·IQR / q3 + k·IQR — the classic "traffic is weird for
    * a Tuesday 8am in zone 12" monitor, robust to the weekly cycle that
    * makes plain z-scores useless on demand data.
    *
    * Scale: the corpus collapses to (zone × hour) counts in the first
    * aggregate — the only pass over raw data. The profile groups that
    * series by (zone, hour-of-week): per-group state is the cell's
    * HISTORY (one value per week on the calendar), growing with time
    * span, never data volume; the profile table itself is
    * |zones| × 168 — broadcast back onto the hourly series. Counts are
    * exact integers; the interpolated quantiles and fences are
    * fixed-order float ops on them → engine-identical. */
  def seasonalAnomaly(silver: DataFrame, fence: Double = 3.0): DataFrame = {
    val hourly = silver
      .filter(col("zone_id").isNotNull)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("zone_id"))
      .agg(count(lit(1)).as("n_events"))
    val how = ((dayofweek(col("hour_ts")) - 1) * 24 + hour(col("hour_ts")))
      .as("how")
    val profile = hourly
      .select(col("zone_id"), how, col("n_events"))
      .groupBy("zone_id", "how")
      .agg(
        expr("percentile(n_events, 0.25)").as("q1"),
        expr("percentile(n_events, 0.75)").as("q3"))
    hourly
      .withColumn("how", how)
      .join(broadcast(profile), Seq("zone_id", "how"))
      .withColumn("lo", col("q1") - lit(fence) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(fence) * (col("q3") - col("q1")))
      .withColumn("is_anom",
        when(col("n_events") < col("lo") || col("n_events") > col("hi"), lit(1))
          .otherwise(lit(0)))
      .select("hour_ts", "zone_id", "n_events", "q1", "q3", "lo", "hi", "is_anom")
  }
}
