package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.graft.CheckpointOps

/** Event-rate anomaly detection — "did the error rate spike this hour?":
  * the monitoring consumer at the end of the reference's log-collector
  * pipelines (Flume/log-service sinks feed exactly this kind of alerting
  * query downstream).
  *
  * Method: per (series, time-bucket) counts, then a z-score of each
  * bucket against its TRAILING window of `lookback` buckets (the bucket
  * itself excluded — a spike must not inflate its own baseline).
  *
  * Engine-reproducibility: the baseline variance is computed from EXACT
  * integer window sums (Σc and Σc² are BIGINTs — bucket counts are
  * integers, so both sums are exact in any engine) with one fixed
  * double-arithmetic formula, `(Σc² − (Σc)²/n)/(n−1)` — never from a
  * built-in `stddev`, whose accumulation algorithm (Welford vs naive)
  * differs across engines in final ULPs. The q159 oracle mirrors the
  * formula token-for-token and hash-matches.
  *
  * Scale: one map-side-combined count aggregate over the events (output
  * is series×calendar-sized), then one window pass over THAT — the
  * window sorts series×buckets, never events. Alert tables stay tiny at
  * any corpus size.
  */
object Anomaly {

  /** Per-(series, bucket) rate table with trailing-baseline z-scores:
    * (series, bucket, n, baseline_mean, baseline_sd, z, is_anomaly).
    * Buckets with fewer than `minPoints` trailing points (series start)
    * or zero baseline variance get NULL z and are never flagged.
    * `bucket` is a `date_trunc` unit ("hour", "day", ...). */
  def rateAnomalies(events: DataFrame, seriesCol: String, tsCol: String,
      bucket: String = "hour", lookback: Int = 24, minPoints: Int = 8,
      zThreshold: Double = 3.0, dense: Boolean = false,
      twoSided: Boolean = false): DataFrame = {
    require(lookback >= 2 && minPoints >= 2 && minPoints <= lookback,
      s"need 2 <= minPoints <= lookback, got $minPoints/$lookback")
    val sparse = events
      .groupBy(col(seriesCol).as("series"),
        date_trunc(bucket, col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("n"))
    // `dense` fills each series' calendar with explicit ZERO buckets
    // before scoring — without it a total outage is a MISSING row that
    // neither scores nor feeds baselines, and the operator can only see
    // spikes. `twoSided` flags |z|, catching those drops.
    val counts = if (!dense) sparse else {
      val step = Map("hour" -> "interval 1 hour", "day" -> "interval 1 day",
        "week" -> "interval 7 days")
      require(step.contains(bucket),
        s"dense calendars support hour/day/week buckets, got $bucket")
      val checkpointed = CheckpointOps(sparse, eager = false)
      checkpointed
        .groupBy(col("series"))
        .agg(min(col("bucket")).as("__lo"), max(col("bucket")).as("__hi"))
        .select(col("series"),
          explode(sequence(col("__lo"), col("__hi"),
            expr(step(bucket)))).as("bucket"))
        .join(checkpointed, Seq("series", "bucket"), "left")
        .select(col("series"), col("bucket"),
          coalesce(col("n"), lit(0L)).as("n"))
    }
    val w = Window.partitionBy(col("series")).orderBy(col("bucket"))
      .rowsBetween(-lookback, -1)
    // exact integer sums over the trailing frame; all double math happens
    // in ONE fixed expression order below
    val withSums = counts
      .withColumn("__k", count(col("n")).over(w))
      .withColumn("__s1", sum(col("n")).over(w))
      .withColumn("__s2", sum(col("n") * col("n")).over(w))
    val k = col("__k").cast("double")
    val s1 = col("__s1").cast("double")
    val s2 = col("__s2").cast("double")
    val mean = s1 / k
    val variance = (s2 - s1 * s1 / k) / (k - 1)
    val sd = sqrt(variance)
    withSums
      .withColumn("baseline_mean",
        when(col("__k") >= minPoints, round(mean, 6)))
      .withColumn("baseline_sd",
        when(col("__k") >= minPoints, round(sd, 6)))
      .withColumn("z",
        when(col("__k") >= minPoints && variance > 0,
          round((col("n").cast("double") - mean) / sd, 6)))
      .withColumn("is_anomaly",
        coalesce(
          if (twoSided) abs(col("z")) > zThreshold
          else col("z") > zThreshold,
          lit(false)))
      .drop("__k", "__s1", "__s2")
  }

  /** Robust per-series outlier flags — the median/MAD counterpart of
    * [[rateAnomalies]]' mean/sd z-score, for VALUE columns where a few
    * extreme points wreck a moment-based baseline (mean and stddev are
    * both dragged by the outliers they are supposed to find; the median
    * and the median-absolute-deviation are not):
    *
    *   robust_z = 0.6745 · (v − median) / MAD
    *
    * (0.6745 ≈ Φ⁻¹(0.75) rescales MAD to σ under normality — the
    * standard Iglewicz-Hoaglin form; |robust_z| > 3.5 is their
    * recommended cut, the `k` default.) A series whose MAD is 0 (over
    * half the points identical) yields NULL z and never flags — the
    * [[rateAnomalies]] zero-variance contract. NULL values pass through
    * unflagged with NULL z; NaN likewise (unordered).
    *
    * Scale: two exact per-series percentile aggregates (group-sized
    * buffers — series are few by definition; the 100 TB path swaps
    * `percentile_approx` in) + broadcast joins of the series-sized
    * stats; flagging is per-row codegen. Appends `median`, `mad`,
    * `robust_z`, `is_outlier`. */
  def robustOutliers(df: DataFrame, seriesCol: String, value: Column,
      k: Double = 3.5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val appended = Seq("median", "mad", "robust_z", "is_outlier")
    val clash = df.columns.toSet.intersect(appended.toSet)
    require(clash.isEmpty,
      s"robustOutliers appends ${clash.mkString(", ")} — already present " +
        "on the input; rename or drop them first")
    val v = value.cast("double")
    val med = df.filter(value.isNotNull && !isnan(v))
      .groupBy(col(seriesCol))
      .agg(percentile(v, lit(0.5)).as("median"))
    val withMed = df.join(broadcast(med), Seq(seriesCol), "left")
    val mad = withMed.filter(value.isNotNull && !isnan(v))
      .groupBy(col(seriesCol))
      .agg(percentile(abs(v - col("median")), lit(0.5)).as("mad"))
    val z = lit(0.6745) * (v - col("median")) / col("mad")
    withMed.join(broadcast(mad), Seq(seriesCol), "left")
      .withColumn("robust_z",
        when(col("mad") > 0 && !isnan(v), round(z, 6)))
      .withColumn("is_outlier",
        coalesce(abs(col("robust_z")) > k, lit(false)))
  }

  /** CUSUM changepoint detection per series — the LEVEL-SHIFT detector
    * that completes the family: [[rateAnomalies]] flags single-bucket
    * spikes, [[robustOutliers]] flags extreme values, but a rate that
    * drifts up 0.5σ per bucket and STAYS there trips neither; the
    * cumulative sum of small same-signed deviations does.
    *
    * Page's one-sided CUSUM is the recursion
    * `S_i = max(0, S_{i−1} + z_i − slack)` — sequential on its face,
    * but algebraically `S_i = R_i − min(0, min_{j≤i} R_j)` where
    * `R = cumsum(z − slack)`: a running sum minus its running minimum,
    * TWO ordinary ordered-window aggregates. That reformulation is what
    * makes the operator distributable — no per-series sequential scan,
    * no UDAF state, just one series-keyed window pass over the
    * buckets-sized input.
    *
    * Engine-reproducibility: per-series mean/sd come from exact decimal
    * sums in one fixed formula (never a built-in `stddev`), z is
    * quantized to micro-units via `floor(z·10⁶ + 0.5)` — floor is exact
    * IEEE with no engine-build half-rule dependence (unlike
    * `round(DOUBLE, n)` / double→DECIMAL casts, whose tie handling
    * drifts across engine versions) — so both running aggregates are
    * ASSOCIATIVE EXACT 64-bit integer arithmetic and the final
    * statistics are ONE correctly-rounded double division by 10⁶. Flags: `cusum_hi` / `cusum_lo` (upward /
    * downward shift statistics) and `is_shift` when either exceeds
    * `threshold` (both in σ units; slack ≈ half the shift size you want
    * to detect). Series with zero variance or fewer than 2 buckets
    * yield NULL statistics, never flags. Input is a bucket-level table
    * (series, order, value) — densify with [[TimeSeries.resample]]
    * first if missing buckets should count as zero. */
  def cusum(buckets: DataFrame, seriesCol: String, orderCol: String,
      value: Column, slack: Double = 0.5, threshold: Double = 5.0)
      : DataFrame = {
    require(slack >= 0 && threshold > 0,
      s"need slack >= 0 and threshold > 0, got $slack/$threshold")
    val v = value.cast("double")
    val wAll = Window.partitionBy(col(seriesCol))
    val wRun = Window.partitionBy(col(seriesCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // exact decimal sums -> one fixed double formula (the q159 contract)
    val k = count(v).over(wAll).cast("double")
    val s1 = sum(v.cast(DecimalType(28, 6))).over(wAll).cast("double")
    val s2 = sum((v * v).cast(DecimalType(28, 6))).over(wAll).cast("double")
    val mean = s1 / k
    val variance = (s2 - s1 * s1 / k) / (k - 1)
    val sd = sqrt(variance)
    val scored = buckets
      .withColumn("__z",
        when(k >= 2 && variance > 0,
          floor((v - mean) / sd * lit(1000000.0) + lit(0.5))
            .cast("long")))
    // micro-unit running sum and running min: associative exact 64-bit
    // integer arithmetic, identical under any engine's window order
    // (z ≲ ±100σ ⇒ |__z| ≲ 1e8; 1e10 rows/series stays within Long)
    val slackMicro = math.round(slack * 1e6)
    val rHi = sum(col("__z") - lit(slackMicro)).over(wRun)
    val rLo = sum(-col("__z") - lit(slackMicro)).over(wRun)
    scored
      .withColumn("__rh", rHi)
      .withColumn("__rl", rLo)
      .withColumn("cusum_hi",
        (col("__rh") - least(min(col("__rh")).over(wRun), lit(0L)))
          .cast("double") / 1000000.0)
      .withColumn("cusum_lo",
        (col("__rl") - least(min(col("__rl")).over(wRun), lit(0L)))
          .cast("double") / 1000000.0)
      .withColumn("is_shift",
        coalesce(col("cusum_hi") > threshold || col("cusum_lo") > threshold,
          lit(false)))
      .drop("__z", "__rh", "__rl")
  }

  /** Single-changepoint localization per series (binary segmentation's
    * first split): the day t maximizing the CUSUM deviation
    * |t·S_n − n·S_t| — the point where the cumulative sum departs
    * furthest from the no-change diagonal — with before/after means and
    * their gap. [[cusum]] ANSWERS "did the level shift?" online; this
    * answers "WHERE did it shift?" offline (the retraining-cutoff /
    * incident-start question). Recurse on the halves for multiple
    * changepoints.
    *
    * Exactness: daily sums are exact decimals, so the statistic
    * t·S_n − n·S_t is an exact decimal per candidate split — the argmax
    * (ties → earliest day) is engine-reproducible by construction, not
    * by float luck; the two means are ONE double division each and
    * `gap` a fixed expression over them. Returns one row per series
    * with ≥ 2 days: (series, n_days, split_bucket, mean_before,
    * mean_after, gap); the split is the LAST day of the left segment.
    *
    * Scale: one (series, day) aggregate, then windows over the
    * days-sized series table — candidates are days, never events. */
  def changepoint(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column): DataFrame = {
    val dly = events
      .groupBy(col(seriesCol).as("series"),
        date_trunc("day", col(tsCol)).cast("date").as("bucket"))
      .agg(sum(value.cast("decimal(28,6)")).cast("decimal(16,6)")
        .as("v"))
    val wSeq = Window.partitionBy(col("series")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("series"))
    val cum = dly
      .withColumn("__t", row_number().over(
        Window.partitionBy(col("series")).orderBy(col("bucket"))))
      .withColumn("__st", sum(col("v")).over(wSeq).cast("decimal(26,6)"))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__sn", sum(col("v")).over(wAll).cast("decimal(26,6)"))
      .filter(col("__n") >= 2 && col("__t") < col("__n"))
      // t·S_n and n·S_t: (10,0)·(26,6) → (37,6), exact in both engines
      .withColumn("__stat",
        abs(col("__t").cast("decimal(10,0)") * col("__sn") -
          col("__n").cast("decimal(10,0)") * col("__st"))
          .cast("decimal(38,6)"))
    val wBest = Window.partitionBy(col("series"))
      .orderBy(col("__stat").desc, col("bucket"))
    def dbl(c: Column): Column = c.cast("string").cast("double")
    cum
      .withColumn("__rk", row_number().over(wBest))
      .filter(col("__rk") === 1)
      .select(col("series"), col("__n").as("n_days"),
        col("bucket").as("split_bucket"),
        (dbl(col("__st")) / col("__t").cast("double")).as("mean_before"),
        (dbl((col("__sn") - col("__st")).cast("decimal(27,6)")) /
          (col("__n") - col("__t")).cast("double")).as("mean_after"))
      .withColumn("gap", col("mean_after") - col("mean_before"))
  }

  /** Index-of-dispersion (variance-to-mean) screen per series over
    * integer daily counts — the "is this Poisson?" diagnostic run
    * BEFORE alert thresholds assume it: D ≈ 1 for Poisson arrivals,
    * D ≫ 1 for bursty/overdispersed series (where a Poisson-σ alert
    * threshold false-fires constantly), D < 1 for regularized ones.
    * Also emits the χ² form `(k−1)·D` (compare to χ²_{k−1}).
    *
    * Exactness: counts are exact longs; with s1 = Σn, s2 = Σn²,
    * `D = (k·s2 − s1²)/((k−1)·s1)` and `chi2 = (k·s2 − s1²)/s1` are
    * each ONE double division of exact decimal-routed integers
    * (19×19→38-digit products), so the screen is engine-bit-identical.
    * Series with fewer than `minBuckets` days or zero total report
    * NULL statistics.
    *
    * Scale: one (series, day) count aggregate with map-side combine,
    * then a series-sized reduction — the corpus shuffles once. */
  def overdispersion(events: DataFrame, seriesCol: String, tsCol: String,
      minBuckets: Int = 2): DataFrame = {
    require(minBuckets >= 2, s"minBuckets must be >= 2, got $minBuckets")
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    events
      .filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesCol).as("series"),
        date_trunc("day", col(tsCol)).cast("date").as("__b"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n_days"), sum(col("__n")).as("total"),
        sum(d19(col("__n")) * d19(col("__n"))).as("__s2"))
      .select(col("series"), col("n_days"), col("total"),
        (dbl(col("total")) / col("n_days").cast("double")).as("mean"),
        when(col("n_days") < minBuckets || col("total") === 0,
          lit(null).cast("double"))
          .otherwise(
            dbl((col("n_days").cast("decimal(7,0)") *
              col("__s2").cast("decimal(30,0)")).cast("decimal(37,0)") -
              (d19(col("total")) * d19(col("total")))
                .cast("decimal(37,0)")) /
            (dbl(d19(col("n_days") - 1) * d19(col("total")))))
          .as("dispersion"),
        when(col("n_days") < minBuckets || col("total") === 0,
          lit(null).cast("double"))
          .otherwise(
            dbl((col("n_days").cast("decimal(7,0)") *
              col("__s2").cast("decimal(30,0)")).cast("decimal(37,0)") -
              (d19(col("total")) * d19(col("total")))
                .cast("decimal(37,0)")) / dbl(d19(col("total"))))
          .as("chi2"))
  }
}
