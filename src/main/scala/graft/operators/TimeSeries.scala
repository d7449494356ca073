package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

/** Time-series regularization — the densifying step [[Anomaly]] and any
  * dashboard rollup sit on: raw event buckets SKIP empty periods, so a
  * "per hour" table silently has holes exactly where the interesting
  * zeros are (an outage hour is a missing row, not a 0 row).
  *
  * [[resample]] builds each series' dense calendar between its own first
  * and last bucket and fills the holes: counts become literal 0, carried
  * metrics use last-observation-carried-forward.
  *
  * Scale: the aggregate output is series×calendar-sized; the calendar
  * explode generates at most (span / step) rows per series (calendar-,
  * not event-bounded); the fill join is keyed on (series, bucket) and
  * the LOCF window sorts series×calendar rows, never events. Nothing
  * after the first aggregate touches corpus-scale data.
  */
object TimeSeries {

  /** Dense per-(series, bucket) table over each series' observed span:
    * (series, bucket, n, v) where `n` is the bucket's event count
    * (0 where the calendar was filled) and `v` is `valueAgg` of the
    * bucket's events, gaps carried forward from the last observed bucket
    * (NULL before the first observation — LOCF invents nothing).
    * `bucket` is a `date_trunc` unit and `step` its interval literal
    * (e.g. "hour" / "interval 1 hour"). */
  def resample(events: DataFrame, seriesCol: String, tsCol: String,
      valueAgg: Column, bucket: String = "hour",
      step: String = "interval 1 hour"): DataFrame = {
    val agg = events
      .groupBy(col(seriesCol).as("series"),
        date_trunc(bucket, col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("__n"), valueAgg.as("__v"))
      // calendar spans + the fill join
      .transform(CheckpointOps(_, eager = false))
    val calendar = agg
      .groupBy(col("series"))
      .agg(min(col("bucket")).as("__lo"), max(col("bucket")).as("__hi"))
      .select(col("series"),
        explode(sequence(col("__lo"), col("__hi"), expr(step)))
          .as("bucket"))
    val w = Window.partitionBy(col("series")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // LOCF invents nothing: an OBSERVED bucket emits its own aggregate —
    // even when that aggregate is legitimately NULL (all-null values in
    // the bucket) — and only calendar-FILLED buckets inherit. The carry
    // value is the most recent OBSERVED bucket's aggregate, struct-boxed
    // so a null observation still counts as "the last observation" (and
    // is carried as null) instead of being skipped for an older value.
    val observed = col("__n").isNotNull
    calendar
      .join(agg, Seq("series", "bucket"), "left")
      .select(col("series"), col("bucket"),
        coalesce(col("__n"), lit(0L)).as("n"),
        when(observed, col("__v"))
          .otherwise(last(when(observed, struct(col("__v"))),
            ignoreNulls = true).over(w).getField("__v"))
          .as("v"))
  }

  /** Time-weighted average (TWAP) per series over IRREGULARLY-spaced
    * observations — the correct mean when readings arrive at uneven
    * intervals (a sensor that reports on change, a price feed): each
    * observation's value is held until the next one, so
    *
    *   twa = Σ v_i·(t_{i+1} − t_i) / (t_n − t_1)
    *
    * (step-function integral; a plain `avg` over-weights chatty
    * periods). Null values are skipped as missing observations; a
    * series with fewer than two non-null observations has no interval
    * to integrate and reports NULL. Also returns the integrated span in
    * seconds and the observation count. The weighted sum routes through
    * DECIMAL (the [[graft.dsum]] discipline) so the result is exact
    * under any partitioning. One keyed shuffle + per-series ordered
    * window — series-sized output. */
  def timeWeightedAvg(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // double epoch seconds keep µs precision exactly (epoch µs < 2^53),
    // where a seconds-truncating conversion loses sub-second intervals
    // differently per engine — same trick as TemporalJoins.intervalJoin
    val obs = events
      .filter(value.isNotNull && !isnan(value.cast("double")))
      .select(col(seriesCol).as("series"),
        col(tsCol).cast("double").as("__t"),
        value.cast("double").as("__v"))
    // ties on __t get dt = 0 (their contribution vanishes); __v in the
    // order makes WHICH tied reading carries the interval deterministic
    // (the largest value at a timestamp holds until the next one)
    val w = Window.partitionBy(col("series")).orderBy(col("__t"), col("__v"))
    obs
      .withColumn("__dt", lead(col("__t"), 1).over(w) - col("__t"))
      .groupBy(col("series"))
      .agg(
        count(lit(1)).as("n_obs"),
        round(coalesce(sum(col("__dt").cast(DecimalType(18, 6))),
          lit(0).cast(DecimalType(18, 6))).cast("double"), 6)
          .as("span_sec"),
        round(
          sum((col("__v") * col("__dt")).cast(DecimalType(28, 6)))
            .cast("double") /
            sum(col("__dt").cast(DecimalType(18, 6))).cast("double"), 6)
          .as("twa"))
  }

  /** Per-day and rolling-window DISTINCT counts per series ("daily
    * active users + trailing-7-day actives") via mergeable theta
    * sketches: ONE corpus pass builds a day-grain sketch table
    * (map-side combined — the shuffle carries KB sketches, not ids),
    * then the rolling union is a buckets-sized range self-join folding
    * `window` sketches per row. The naive formulation — count
    * `DISTINCT` over a row-range window — re-shuffles every event into
    * every window it touches (window× amplification) and holds per-key
    * distinct sets in the sort buffer; at 100 TB that is the job that
    * never finishes, while the sketch table here is days×series rows.
    *
    * Exactness contract: theta sketches are EXACT below their retained
    * capacity (4096 distinct), so at gate scale the estimates equal
    * `COUNT(DISTINCT ...)` and the q183 oracle is an exact DuckDB
    * differential; above capacity the counts degrade to ±2% estimates —
    * the documented scale behavior, pinned by `CurationOpsSpec`'s theta
    * error-envelope tests. Output: (series, bucket,
    * bucket_distinct, rolling_distinct), one row per OBSERVED
    * (series, day); `rolling_distinct` unions the trailing `window`
    * days' sketches including the current day (absent days contribute
    * nothing — exactly their distinct-id content). */
  def rollingDistinct(events: DataFrame, seriesCol: String, tsCol: String,
      idCol: String, window: Int = 7): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    import org.apache.spark.sql.graft.NativeFunctions
    val daily = events
      .filter(col(idCol).isNotNull)
      .groupBy(col(seriesCol).as("series"),
        to_date(date_trunc("day", col(tsCol))).as("bucket"))
      .agg(NativeFunctions
        .thetaSketchAgg(col(idCol).cast("string")).as("__sk"))
      // both sides of the range join
      .transform(CheckpointOps(_, eager = false))
    val anchors = daily.select(col("series"), col("bucket"))
    anchors.as("a")
      .join(daily.as("b"),
        col("b.series") === col("a.series") &&
          col("b.bucket") <= col("a.bucket") &&
          col("b.bucket") >= date_sub(col("a.bucket"), window - 1))
      .groupBy(col("a.series").as("series"), col("a.bucket").as("bucket"))
      .agg(
        NativeFunctions.thetaEstimate(
          max(when(col("b.bucket") === col("a.bucket"), col("b.__sk"))))
          .cast("long").as("bucket_distinct"),
        NativeFunctions.thetaEstimate(
          NativeFunctions.thetaUnionAgg(col("b.__sk")))
          .cast("long").as("rolling_distinct"))
  }

  /** Rolling-window QUANTILES per series ("trailing-7-day p95 latency")
    * — the [[rollingDistinct]] pattern with KLL sketches: one corpus
    * pass builds day-grain quantile sketches (map-side combined,
    * KB-sized state per (series, day)), then the trailing window is a
    * buckets-sized range self-join folding `window` sketches per row
    * via `kll_merge_agg`. The naive per-window percentile re-sorts
    * every event into every window it touches.
    *
    * Same exactness contract as [[rollingDistinct]]: below `k` values
    * per window the KLL sketch is in exact mode and each quantile IS
    * the inclusive order statistic (`v[ceil(q·n)]` — the q190 oracle's
    * formula); beyond that, bounded rank error (±~1.65/√k), pinned by
    * `CurationOpsSpec`'s KLL envelope tests. NULL values are skipped by
    * the sketch and excluded from `n`. Output: (series, bucket, n,
    * <one column per named rank>), quantiles rounded to 2. */
  def rollingQuantile(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column, ranks: Seq[(String, Double)] =
        Seq("p50" -> 0.5, "p95" -> 0.95),
      window: Int = 7, k: Int = 400): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(ranks.nonEmpty && ranks.forall(r => r._2 > 0 && r._2 <= 1),
      s"ranks must sit in (0, 1]: $ranks")
    import org.apache.spark.sql.graft.NativeFunctions
    val daily = events
      .groupBy(col(seriesCol).as("series"),
        to_date(date_trunc("day", col(tsCol))).as("bucket"))
      .agg(NativeFunctions
        .kllSketchAgg(value.cast("double"), k).as("__sk"))
      .transform(CheckpointOps(_, eager = false))
    val anchors = daily.select(col("series"), col("bucket"))
    val folded = anchors.as("a")
      .join(daily.as("b"),
        col("b.series") === col("a.series") &&
          col("b.bucket") <= col("a.bucket") &&
          col("b.bucket") >= date_sub(col("a.bucket"), window - 1))
      .groupBy(col("a.series").as("series"), col("a.bucket").as("bucket"))
      .agg(NativeFunctions.kllMergeAgg(col("__sk"), k).as("__sk"))
    folded.select(
      col("series") +: col("bucket") +:
        NativeFunctions.kllCount(col("__sk")).as("n") +:
        ranks.map { case (name, q) =>
          round(NativeFunctions.kllQuantile(col("__sk"), q), 2).as(name)
        }: _*)
  }

  /** Classical seasonal decomposition of a daily series —
    * `value = trend + seasonal + residual` (the additive STL-lite every
    * monitoring stack runs before alerting, so a weekly rhythm stops
    * masquerading as anomalies):
    *
    *  - `trend`: centered 7-day moving average (NULL at the edges where
    *    the full window doesn't exist — the honest convention; a
    *    shrinking-window edge estimate invents trend);
    *  - `seasonal`: the mean DETRENDED value of the series' weekday
    *    slot, centered so the seven indices sum to ~0;
    *  - `residual`: what neither explains — the input to outlier logic.
    *
    * Engine-reproducible by the decimal discipline: daily values and
    * every window/mean sum route through DECIMAL with one double
    * division per statistic, and the weekday slot is pure integer
    * arithmetic (`(days_since_1970 + 4) mod 7`, 0 = Sunday) rather than
    * an engine-specific dayofweek. One keyed shuffle to daily buckets;
    * everything after is series×calendar-sized. */
  def seasonalDecompose(events: DataFrame, seriesCol: String,
      tsCol: String, value: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = events
      .groupBy(col(seriesCol).as("series"),
        to_date(date_trunc("day", col(tsCol))).as("bucket"))
      .agg(sum(value.cast(DecimalType(28, 6))).as("__v"))
    val wTrend = Window.partitionBy(col("series")).orderBy(col("bucket"))
      .rowsBetween(-3, 3)
    val trended = daily
      .withColumn("__k", count(col("__v")).over(wTrend))
      .withColumn("trend",
        when(col("__k") === 7,
          round(sum(col("__v")).over(wTrend).cast("double") / 7.0, 6)))
      // micro-unit quantization (floor(x·10⁶ + 0.5), exact IEEE) instead
      // of round(x, 6)→DECIMAL: round()'s half handling and
      // double→DECIMAL tie casts drift across engine builds; floor lands
      // mid-interval here (x is within ~1e-9 of a 6-decimal grid point),
      // so the 64-bit micro value is version-independent
      .withColumn("__det",
        floor((col("__v").cast("double") - col("trend")) * lit(1000000.0)
          + lit(0.5)).cast("long"))
      // seasonal means + the final join
      .transform(CheckpointOps(_, eager = false))
    val slot = pmod(datediff(col("bucket"), lit("1970-01-01")) + 4, lit(7))
    val seasonal = trended
      .withColumn("__slot", slot)
      .groupBy(col("series"), col("__slot"))
      .agg((sum(col("__det")).cast("double") /
        count(col("__det")).cast("double") / 1000000.0).as("__s"))
    trended.withColumn("__slot", slot)
      .join(seasonal, Seq("series", "__slot"), "left")
      .select(col("series"), col("bucket"),
        round(col("__v").cast("double"), 6).as("v"),
        col("trend"),
        // seasonal stays the RAW quotient: IEEE division of identical
        // operands is correctly rounded, hence bit-identical in every
        // engine — while round(quotient, 6) manufactures exact decimal
        // .5 ties (a 6-scale sum over counts like 4) that Spark
        // (binary-value HALF_UP) and other engines (printed-digit rules)
        // settle differently. Don't round what is already deterministic.
        col("__s").as("seasonal"),
        (col("__det").cast("double") / 1000000.0 - col("__s"))
          .as("residual"))
  }

  /** Autocorrelation of the daily-bucketed series at lags 1..`maxLag` —
    * the "does yesterday predict today" screen run BEFORE
    * [[seasonalDecompose]] (ACF says whether there is structure worth
    * fitting; the decomposition says what it is). Daily buckets are
    * EXACT decimal sums (engine-portable inputs); each lag's Pearson
    * correlation pairs a day with its k-back neighbor per series,
    * ignoring the first k days (null lag). Returns one row per series:
    * (series, n_days, acf1..acf<maxLag>), correlations rounded to 6.
    *
    * Scale: one keyed aggregate to the days-sized table, ONE window
    * pass producing all lags, one final reduce — the corpus shuffles
    * once, everything after is days-per-series-sized. */
  def autocorrelation(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30,
      s"maxLag must be in [1,30], got $maxLag")
    val dly = events
      .groupBy(col(seriesCol).as("series"),
        date_trunc("day", col(tsCol)).cast("date").as("bucket"))
      .agg(sum(value.cast("decimal(28,6)")).as("__v"))
    val w = Window.partitionBy(col("series")).orderBy(col("bucket"))
    val withLags = dly.select(
      col("series") +: col("__v") +:
        (1 to maxLag).map(k => lag(col("__v"), k).over(w).as(s"__l$k")): _*)
    val aggs = count(col("__v")).as("n_days") +:
      (1 to maxLag).map(k =>
        round(corr(col("__v").cast("double"),
          col(s"__l$k").cast("double")), 6).as(s"acf$k"))
    withLags.groupBy(col("series")).agg(aggs.head, aggs.tail: _*)
  }

  /** Partial autocorrelation (PACF) at lags 1..`maxLag` per series —
    * the AR-order diagnostic [[autocorrelation]] can't answer alone:
    * ACF of an AR(1) decays over MANY lags, PACF cuts off exactly at
    * the true order (the lag-m coefficient with lags 1..m−1 partialed
    * out), so "how many lag features does this series actually need?"
    * reads directly off where PACF dies. Computed by the
    * Durbin–Levinson recursion over the EXACT-decimal-backed ACF of
    * [[autocorrelation]] — the recursion runs driver-side on the
    * report-sized (series × maxLag) ACF table (the model-fit collect
    * class, like the BPE merge fit: series cardinality is small by
    * construction, never corpus rows). Returns (series, lag, acf,
    * pacf); pacf is NULL from the first lag whose ACF is undefined
    * (too few days, zero variance) or whose innovation variance hits
    * zero (perfectly predictable series).
    *
    * Determinism: the ACF inputs are 6-decimal-rounded doubles over
    * exact decimal daily sums (autocorrelation's contract); the
    * recursion is fixed-order double arithmetic on the driver —
    * identical at any partitioning. */
  def pacf(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column, maxLag: Int = 5): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30,
      s"maxLag must be in [1,30], got $maxLag")
    val spark = events.sparkSession
    import spark.implicits._
    val acfRows = autocorrelation(events, seriesCol, tsCol, value, maxLag)
      .select(col("series").cast("string") +:
        (1 to maxLag).map(k => col(s"acf$k")): _*)
      .collect() // report-sized: series-cardinality rows
    val out = acfRows.toSeq.flatMap { row =>
      val series = row.getString(0)
      val r = (1 to maxLag).map(k =>
        if (row.isNullAt(k)) None else Some(row.getDouble(k)))
      // Durbin–Levinson: phi(m,m) = (r_m − Σ phi(m−1,j)·r_{m−j}) / v_{m−1}
      var phi = Array.empty[Double]
      var v = 1.0
      var dead = false
      (1 to maxLag).map { m =>
        val pacfM: Option[Double] =
          if (dead || r.take(m).exists(_.isEmpty) || v <= 0.0) {
            dead = true; None
          } else {
            val rm = r(m - 1).get
            val num = rm - phi.zipWithIndex.map { case (p, j) =>
              p * r(m - 2 - j).get }.sum
            val pm = num / v
            val next = new Array[Double](m)
            var j = 0
            while (j < m - 1) {
              next(j) = phi(j) - pm * phi(m - 2 - j); j += 1
            }
            next(m - 1) = pm
            phi = next
            v = v * (1.0 - pm * pm)
            Some(pm)
          }
        (series, m, r(m - 1), pacfM)
      }
    }
    out.toDF("series", "lag", "acf", "pacf")
      .orderBy(col("series"), col("lag"))
  }

  /** Seasonal / trend strength (Hyndman's STL strength measures) over
    * [[seasonalDecompose]]'s components — ONE number per series
    * answering "is the weekly pattern real, and how much of the
    * signal is trend vs season vs noise?" before anyone fits a
    * seasonal model: `seasonal_strength = max(0, 1 −
    * Var(residual)/Var(seasonal + residual))` and `trend_strength =
    * max(0, 1 − Var(residual)/Var(trend + residual))`, both in [0,1],
    * over the full-trend-window days only (where the decomposition
    * defines all three components). Returns (series, n_days,
    * var_residual, var_detrended, var_deseasonalized,
    * seasonal_strength, trend_strength); strengths NULL when the
    * comparison variance is 0 (constant series).
    *
    * Numerics: each row's component value is the decomposition's
    * engine-deterministic double, MICRO-quantized per row (x·10⁶ stays
    * under 2⁵³ for daily sums — pico would not) and folded as exact
    * decimal (Σx, Σx²) with DECIMAL squares; each variance is one
    * fixed double expression `(n·Σx² − (Σx)²)/(n²·10¹²)` over those
    * exact sums ([[graft.operators.Experiment.welchTTest]]'s moment
    * discipline).
    *
    * Scale: the decomposition's one corpus shuffle, then a
    * series-keyed aggregate — nothing new touches the corpus. */
  def seasonalStrength(events: DataFrame, seriesCol: String,
      tsCol: String, value: Column): DataFrame = {
    def dbl(c: Column): Column = c.cast("string").cast("double")
    // micro-quantize the component value ONCE (x·10⁶ < 2⁵³ — exact
    // IEEE), then square in DECIMAL so both moment sums are exact
    def q(c: Column): Column =
      floor(c * lit(1000000.0) + 0.5).cast("decimal(19,0)")
    val dec = seasonalDecompose(events, seriesCol, tsCol, value)
      .filter(col("trend").isNotNull && col("seasonal").isNotNull &&
        col("residual").isNotNull)
      .select(col("series"),
        q(col("residual")).as("__r"),
        q(col("seasonal") + col("residual")).as("__d"), // v − trend
        q(col("trend") + col("residual")).as("__e"))    // v − seasonal
    def sq(c: Column): Column = (c * c).cast("decimal(38,0)")
    val s = dec.groupBy(col("series")).agg(
      count(lit(1)).as("n_days"),
      sum(col("__r")).cast("decimal(28,0)").as("__sr"),
      sum(sq(col("__r"))).cast("decimal(38,0)").as("__srr"),
      sum(col("__d")).cast("decimal(28,0)").as("__sd"),
      sum(sq(col("__d"))).cast("decimal(38,0)").as("__sdd"),
      sum(col("__e")).cast("decimal(28,0)").as("__se"),
      sum(sq(col("__e"))).cast("decimal(38,0)").as("__see"))
    val nD = col("n_days").cast("double")
    def popVar(sx: Column, sxx: Column): Column =
      (nD * dbl(sxx) - dbl(sx) * dbl(sx)) / (nD * nD * 1.0e12)
    val varR = popVar(col("__sr"), col("__srr"))
    val varD = popVar(col("__sd"), col("__sdd"))
    val varE = popVar(col("__se"), col("__see"))
    def strength(comparison: Column): Column =
      when(comparison > 0.0,
        greatest(lit(0.0), lit(1.0) - varR / comparison))
    s.select(col("series"), col("n_days"),
      varR.as("var_residual"),
      varD.as("var_detrended"),
      varE.as("var_deseasonalized"),
      strength(varD).as("seasonal_strength"),
      strength(varE).as("trend_strength"))
  }

  /** Exponentially-weighted moving average of each series' daily total
    * — the smoothing behind "current level" dashboards and the EWMA
    * control chart ([[Anomaly]]'s CUSUM sibling): per (series, day),
    * `ewma = Σⱼ α(1−α)ʲ·x_{t−j} / Σⱼ α(1−α)ʲ` over the trailing
    * `window` OBSERVED buckets (positional lags, [[autocorrelation]]'s
    * convention), truncated and renormalized so early rows average
    * their available history instead of decaying toward zero.
    *
    * Numerics: `alpha` is a decimal STRING (default "0.5") so every
    * weight `α(1−α)ʲ` is an exact finite decimal computed driver-side
    * with BigDecimal; each lag term is one exact decimal multiply, the
    * two sums are exact decimal additions, and the final ratio is ONE
    * double division of exact operands — bit-identical in any engine,
    * no float accumulation anywhere. The weight scale grows as
    * `scale(α)·window`, guarded to keep every product inside
    * DECIMAL(38).
    *
    * Scale shape: one (series, day) aggregate over the events, then a
    * fixed `window`-wide stack of `lag`s over the days-sized table —
    * codegen'd, no per-row state, no UDF. */
  def ewma(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column, alpha: String = "0.5", window: Int = 16)
      : DataFrame = {
    require(window >= 1 && window <= 64,
      s"window must be in [1,64], got $window")
    val a = new java.math.BigDecimal(alpha)
    require(a.compareTo(java.math.BigDecimal.ZERO) > 0 &&
      a.compareTo(java.math.BigDecimal.ONE) < 0,
      s"alpha must be in (0,1), got $alpha")
    val one = java.math.BigDecimal.ONE
    // w_j = α(1−α)^j, exact decimals
    val weights = (0 until window).map(j =>
      a.multiply(one.subtract(a).pow(j)).stripTrailingZeros())
    val wScale = weights.map(_.scale()).max
    require(wScale + 6 <= 30,
      s"alpha=$alpha over window=$window needs decimal scale " +
        s"$wScale — too fine for exact 38-digit arithmetic")
    val dly = events
      .groupBy(col(seriesCol).as("series"),
        date_trunc("day", col(tsCol)).cast("date").as("bucket"))
      .agg(sum(value.cast("decimal(28,6)")).cast("decimal(16,6)")
        .as("v"))
    val w = Window.partitionBy(col("series")).orderBy(col("bucket"))
    // Spark's decimal ADD wants +1 precision per operation and DROPS
    // SCALE (rounding!) once a chain passes 38 — so terms start at the
    // natural (34, s+6) and reduce as a BALANCED TREE: depth ⌈log₂ 64⌉
    // = 6 additions peak at (38, s+6), still exact. (DuckDB's chained
    // adds stay exact at width 38, so the oracle may stay sequential.)
    def treeSum(cols: Seq[Column]): Column =
      if (cols.sizeIs == 1) cols.head
      else treeSum(cols.grouped(2).map(_.reduce(_ + _)).toSeq)
    val tScale = wScale + 6
    val zero = lit(java.math.BigDecimal.ZERO).cast(s"decimal(32,$tScale)")
    val wZero = lit(java.math.BigDecimal.ZERO).cast(s"decimal(17,$wScale)")
    val num = treeSum((0 until window).map { j =>
      val term = lag(col("v"), j).over(w) *
        lit(weights(j)).cast(s"decimal(${wScale + 1},$wScale)")
      coalesce(term.cast(s"decimal(32,$tScale)"), zero)
    })
    val den = treeSum((0 until window).map { j =>
      coalesce(when(lag(col("v"), j).over(w).isNotNull,
        lit(weights(j)).cast(s"decimal(${wScale + 1},$wScale)"))
        .cast(s"decimal(17,$wScale)"), wZero)
    })
    // decimal→double via STRING (correctly rounded in every engine;
    // direct casts double-round wide decimals) — then ONE division
    dly.select(col("series"), col("bucket"), col("v"),
      (num.cast("string").cast("double") /
        den.cast("string").cast("double")).as("ewma"))
  }

  /** Brown's double exponential smoothing with a one-step forecast —
    * the trend-aware upgrade of [[ewma]]: a single EWMA lags a trending
    * series by a constant amount, smoothing the smoothed series a
    * second time measures that lag, and `level + trend` projects one
    * bucket ahead. Returns (series, bucket, v, s1, s2, forecast) for
    * every bucket with a FULL double window (the first 2·window−2
    * warmup rows are dropped, so both denominators are the constant
    * total weight mass).
    *
    * Exactness: the second smoothing of the first is algebraically the
    * convolution of the weight vectors, so BOTH levels are computed
    * directly from the raw values — exact decimal weight products and
    * balanced-tree sums, then ONE double division each ([[ewma]]'s
    * discipline); the level/trend/forecast combination is a fixed
    * double expression over those two doubles, bit-identical in any
    * engine. Truncation to `window` lags is part of the operator's
    * definition (mass (1−α)^window is dropped, not approximated).
    *
    * Scale shape: one (series, day) aggregate, then a fixed stack of
    * 2·window−1 `lag`s over the days-sized table — codegen'd, no
    * per-row state. */
  def doubleSmoothing(events: DataFrame, seriesCol: String,
      tsCol: String, value: Column, alpha: String = "0.5",
      window: Int = 8): DataFrame = {
    require(window >= 2 && window <= 32,
      s"window must be in [2,32], got $window")
    val a = new java.math.BigDecimal(alpha)
    require(a.compareTo(java.math.BigDecimal.ZERO) > 0 &&
      a.compareTo(java.math.BigDecimal.ONE) < 0,
      s"alpha must be in (0,1), got $alpha")
    val one = java.math.BigDecimal.ONE
    // first-pass weights w_j = α(1−α)^j; the second smoothing of the
    // first is the convolution c_m = Σ_{i+j=m} w_i w_j — both exact
    // decimals, so BOTH smoothed levels stay "exact sum, ONE division"
    val w1 = (0 until window).map(j =>
      a.multiply(one.subtract(a).pow(j)).stripTrailingZeros())
    val terms = 2 * window - 1
    val w2 = (0 until terms).map { m =>
      (math.max(0, m - window + 1) to math.min(m, window - 1))
        .map(i => w1(i).multiply(w1(m - i)))
        .reduce(_.add(_)).stripTrailingZeros()
    }
    val ws1 = w1.map(_.scale()).max
    val ws2 = w2.map(_.scale()).max
    // the weighted terms are cast to decimal(38, ws2+6); each term is
    // <= |v| (weights sum below 1), so the integer headroom must cover
    // decimal(16,6)'s 10 integer digits or daily sums >= 10^(38-t)
    // would overflow the cast and silently NULL under non-ANSI Spark
    require(38 - (ws2 + 6) >= 10,
      s"alpha=$alpha over window=$window needs decimal scale ${ws2 + 6}" +
        " — leaves fewer than 10 integer digits in 38-digit arithmetic" +
        " (daily sums up to decimal(16,6) would overflow); use a coarser" +
        " alpha or a smaller window")
    val s1sum = w1.reduce(_.add(_)).stripTrailingZeros()
    val s2sum = w2.reduce(_.add(_)).stripTrailingZeros()
    val dly = events
      .groupBy(col(seriesCol).as("series"),
        date_trunc("day", col(tsCol)).cast("date").as("bucket"))
      .agg(sum(value.cast("decimal(28,6)")).cast("decimal(16,6)")
        .as("v"))
    val w = Window.partitionBy(col("series")).orderBy(col("bucket"))
    def treeSum(cols: Seq[Column]): Column =
      if (cols.sizeIs == 1) cols.head
      else treeSum(cols.grouped(2).map(_.reduce(_ + _)).toSeq)
    def smooth(weights: Seq[java.math.BigDecimal], ws: Int): Column = {
      val t = ws + 6
      val num = treeSum(weights.zipWithIndex.map { case (wj, j) =>
        (lag(col("v"), j).over(w) *
          lit(wj).cast(s"decimal(${ws + 1},$ws)"))
          .cast(s"decimal(38,$t)")
      })
      // full-window rows only (rn filter below), so the denominator is
      // the CONSTANT total mass — decimal→double via STRING (correctly
      // rounded in every engine), then ONE division
      num.cast("string").cast("double") /
        lit(weights.reduce(_.add(_)).stripTrailingZeros().toPlainString)
          .cast("double")
    }
    val aD = lit(a.doubleValue())
    val factor = aD / (lit(1.0d) - aD)
    // Brown's estimates over the two smoothed levels — fixed double
    // expressions of two cross-engine-exact doubles
    val s1 = col("s1")
    val s2 = col("s2")
    dly
      .withColumn("__rn", row_number().over(w))
      .withColumn("s1", smooth(w1, ws1))
      .withColumn("s2", smooth(w2, ws2))
      .filter(col("__rn") >= terms)
      .select(col("series"), col("bucket"), col("v"), s1, s2,
        ((lit(2.0d) * s1 - s2) + factor * (s1 - s2)).as("forecast"))
  }

  /** Lead–lag cross-correlation between two named series: for each lag
    * k in 0..`maxLag`, Pearson correlation of X's daily total against
    * Y's total k CALENDAR days earlier — "do views lead purchases, and
    * by how many days?", the screen behind attribution windows and
    * leading-indicator alerts. Returns one row per lag:
    * (series_x, series_y, lag, n_days, xcorr); a large |xcorr| at
    * k > 0 means Y leads X by k days. Day alignment is by calendar
    * join (a missing day is absent, not the previous row — unlike
    * [[autocorrelation]]'s positional lag, gaps cannot misalign the
    * series), and `corr` runs over identical decimal-exact daily
    * sums in both engines ([[autocorrelation]]'s discipline).
    *
    * Scale: one (series, day) aggregate over the events; everything
    * after is days×lags-sized. */
  def crossCorrelation(events: DataFrame, seriesCol: String,
      tsCol: String, value: Column, seriesX: String, seriesY: String,
      maxLag: Int = 3): DataFrame = {
    require(maxLag >= 0 && maxLag <= 30,
      s"maxLag must be in [0,30], got $maxLag")
    val dly = events
      .filter(col(seriesCol).isin(seriesX, seriesY))
      .groupBy(col(seriesCol).as("series"),
        date_trunc("day", col(tsCol)).cast("date").as("bucket"))
      .agg(sum(value.cast("decimal(28,6)")).as("__v"))
    val x = dly.filter(col("series") === seriesX)
      .select(col("bucket"), col("__v").as("__x"))
    val y = dly.filter(col("series") === seriesY)
      .select(col("bucket").as("__yb"), col("__v").as("__y"))
    val lags = events.sparkSession.range(0, maxLag + 1L)
      .select(col("id").cast("int").as("lag"))
    x.crossJoin(broadcast(lags))
      .join(y, date_add(col("__yb"), col("lag")) === col("bucket"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"),
        round(corr(col("__x").cast("double"), col("__y").cast("double")),
          6).as("xcorr"))
      .select(lit(seriesX).as("series_x"), lit(seriesY).as("series_y"),
        col("lag").cast("long").as("lag"), col("n_days"), col("xcorr"))
  }

  /** Per-series linear trend: ordinary-least-squares slope (and fit
    * strength r²) of the daily total of an INTEGER-valued metric
    * against the day index — "is this series growing, and how fast?",
    * the screen run before [[seasonalDecompose]] / [[Anomaly]] alarms.
    * Returns (series, n_days, first_day, slope, r2); slope is metric
    * units per day; r2 is NULL when either variance is zero (a
    * single-day series or a constant metric).
    *
    * Numerics (the [[graft.operators.Graph.assortativity]] discipline):
    * the day index is centered on each series' first day, so every
    * sufficient statistic is an exact integer in DECIMAL(19/38,0) and
    * `slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²)` is ONE double division
    * of exactly-computed operands — bit-identical in any IEEE engine,
    * no rounding. r² reuses the same exact sums through double
    * arithmetic in a fixed expression order (Σy² exceeds the 38-digit
    * product budget, so its combination happens in doubles — still
    * deterministic, documented). `value` must be integer-valued (counts,
    * cents); pre-scale decimals like `(price·100).cast("long")`.
    *
    * Scale shape: one (series, day) aggregate over the events, a
    * series-keyed min-day join, then a series-keyed sufficient-stats
    * aggregate — all map-side combinable; nothing past the first
    * aggregate is event-scale. */
  def linearTrend(events: DataFrame, seriesCol: String, dayCol: Column,
      value: Column): DataFrame = {
    val d18 = "decimal(18,0)"
    val d19 = "decimal(19,0)"
    val dly = events
      .groupBy(col(seriesCol).as("series"), dayCol.cast("date").as("__d"))
      .agg(sum(value.cast(d19)).cast(d19).as("__y"))
    val first = dly.groupBy(col("series"))
      .agg(min(col("__d")).as("first_day"))
    val pts = dly.join(first, Seq("series"))
      .select(col("series"), col("first_day"),
        datediff(col("__d"), col("first_day")).cast(d19).as("__x"),
        col("__y"))
    val s = pts.groupBy(col("series"), col("first_day")).agg(
      count(lit(1)).cast(d18).as("__n"),
      sum(col("__x")).cast(d19).as("__sx"),
      sum(col("__y")).cast(d19).as("__sy"),
      sum(col("__x") * col("__y")).cast(d19).as("__sxy"),
      sum(col("__x") * col("__x")).cast(d19).as("__sxx"),
      sum(col("__y") * col("__y")).cast("decimal(38,0)").as("__syy"))
    val num = (col("__n") * col("__sxy") - col("__sx") * col("__sy"))
      .cast("double")
    val den = (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .cast("double")
    val denY = col("__n").cast("double") * col("__syy").cast("double") -
      col("__sy").cast("double") * col("__sy").cast("double")
    s.select(col("series"), col("__n").cast("bigint").as("n_days"),
      col("first_day"),
      when(den === 0.0, lit(null).cast("double"))
        .otherwise(num / den).as("slope"),
      when(den === 0.0 || denY === 0.0, lit(null).cast("double"))
        .otherwise(num * num / (den * denY)).as("r2"))
  }

  /** Durbin–Watson statistic per series — "are the residuals around
    * the trend AUTOCORRELATED?": the diagnostic that says whether
    * [[linearTrend]]'s (and any OLS-on-time) classical inference can
    * be trusted — `DW = Σ(e_t − e_{t−1})² / Σe_t²` over the residuals
    * of the per-series daily linear trend; DW ≈ 2 ⇒ independent,
    * ≪ 2 ⇒ positive autocorrelation (momentum/level-shift — the usual
    * case), ≫ 2 ⇒ alternation. Also reports `rho ≈ 1 − DW/2`, the
    * lag-1 residual autocorrelation estimate.
    *
    * The trend is fit IN-PLAN from the same exact-decimal moment sums
    * as [[linearTrend]] (slope/intercept per series as fixed double
    * expressions over exact integers — no driver round-trip), and the
    * consecutive-day lag is POSITIONAL over the day-ordered window —
    * gap days are documented as adjacent steps (resample first for
    * strict calendars, the [[autocorrelation]] caveat).
    *
    * Numerics: each residual is a fixed double expression over
    * exact-decimal operands; both quadratic sums fold micro-quantized
    * exact decimals (order-free). Returns (series, n_days, dw, rho) —
    * NULL when the series has < 3 days or zero residual variance (an
    * exact-line fit has no autocorrelation to measure).
    *
    * Scale: one (series, day) aggregate (corpus shuffles once), one
    * series-keyed moment aggregate + broadcast-sized join back, a lag
    * window over the days-sized per-series table. */
  def durbinWatson(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column): DataFrame = {
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val dly = events
      .groupBy(col(seriesCol).as("series"),
        date_trunc("day", col(tsCol)).cast("date").as("__d"))
      .agg(sum(value.cast("decimal(28,6)")).cast("decimal(16,6)")
        .as("__y"))
    val first = dly.groupBy(col("series"))
      .agg(min(col("__d")).as("__f"))
    val pts = dly.join(first, Seq("series"))
      .select(col("series"),
        datediff(col("__d"), col("__f")).cast("long").as("__x"),
        col("__y"))
      .transform(CheckpointOps(_, eager = false)) // moments + residual pass
    val d19 = "decimal(19,0)"
    val moments = pts.groupBy(col("series")).agg(
      count(lit(1)).as("__n"),
      sum(col("__x").cast(d19)).cast(d19).as("__sx"),
      sum(col("__y").cast("decimal(28,6)")).cast("decimal(28,6)")
        .as("__sy"),
      sum((col("__x").cast(d19) * col("__y").cast("decimal(17,6)"))
        .cast("decimal(38,6)")).cast("decimal(38,6)").as("__sxy"),
      sum((col("__x").cast(d19) * col("__x").cast(d19))
        .cast("decimal(38,0)")).cast("decimal(38,0)").as("__sxx"))
    val nD = col("__n").cast("double")
    val slope = (nD * dbl(col("__sxy")) - dbl(col("__sx")) * dbl(col("__sy"))) /
      (nD * dbl(col("__sxx")) - dbl(col("__sx")) * dbl(col("__sx")))
    val icept = (dbl(col("__sy")) - slope * dbl(col("__sx"))) / nD
    val fitted = pts.join(moments, Seq("series"))
      .select(col("series"), col("__x"), col("__n"),
        when(nD * dbl(col("__sxx")) - dbl(col("__sx")) * dbl(col("__sx"))
            === 0.0, lit(null).cast("double"))
          .otherwise(dbl(col("__y")) -
            (icept + slope * col("__x").cast("double"))).as("__e"))
    val w = Window.partitionBy(col("series")).orderBy(col("__x"))
    val withLag = fitted
      .withColumn("__ep", lag(col("__e"), 1).over(w))
    def q(c: Column): Column =
      sum(floor(c * 1e6 + 0.5).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
    val agg = withLag.groupBy(col("series")).agg(
      max(col("__n")).as("n_days"),
      q(col("__e") * col("__e")).as("__se2"),
      q(when(col("__ep").isNotNull,
        (col("__e") - col("__ep")) * (col("__e") - col("__ep")))
        .otherwise(lit(0.0))).as("__sd2"),
      sum(when(col("__e").isNull, 1L).otherwise(0L)).as("__bad"))
    agg.select(col("series"), col("n_days").cast("bigint").as("n_days"),
      when(col("n_days") >= 3 && col("__bad") === 0 &&
          dbl(col("__se2")) > 0.0,
        dbl(col("__sd2")) / dbl(col("__se2"))).as("dw"),
      when(col("n_days") >= 3 && col("__bad") === 0 &&
          dbl(col("__se2")) > 0.0,
        lit(1.0) - dbl(col("__sd2")) / dbl(col("__se2")) / 2.0)
        .as("rho"))
      .orderBy(col("series"))
  }

  /** Theil–Sen robust trend per series: the MEDIAN of all pairwise
    * day-to-day slopes — [[linearTrend]]'s outlier-proof sibling (OLS
    * chases one bad day; the median slope shrugs it off, breakdown
    * point ~29%). Returns (series, n_days, n_pairs, slope) where
    * `slope` is the exact LOWER median (q228's rank-selection rule, no
    * interpolation) of (vⱼ − vᵢ)/(dⱼ − dᵢ) over all day pairs i < j;
    * series with a single day have no pair and report NULL.
    *
    * Exactness: daily sums are exact decimals; each pairwise slope is
    * ONE IEEE division (the decimal difference routed to double via
    * STRING), and median-by-rank SELECTS one of those doubles rather
    * than averaging — every engine picks the identical bit pattern.
    *
    * Scale: the pair self-join is per-series DAYS², calendar-bounded
    * (a year of daily buckets is ~66k pairs per series, regardless of
    * corpus size) — never event-scale; the rank window sorts pair
    * tables per series. For multi-year spans, pre-bucket to weeks. */
  def theilSen(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column): DataFrame = {
    val dly = events
      .groupBy(col(seriesCol).as("series"),
        date_trunc("day", col(tsCol)).cast("date").as("bucket"))
      .agg(sum(value.cast("decimal(28,6)")).cast("decimal(16,6)")
        .as("v"))
      .transform(CheckpointOps(_, eager = false)) // both sides of the pair join
    val pairs = dly.as("i")
      .join(dly.as("j"),
        col("i.series") === col("j.series") &&
          col("i.bucket") < col("j.bucket"))
      .select(col("i.series").as("series"),
        col("i.bucket").as("d1"), col("j.bucket").as("d2"),
        ((col("j.v") - col("i.v")).cast("string").cast("double") /
          datediff(col("j.bucket"), col("i.bucket")).cast("double"))
          .as("__slope"))
    val wRank = Window.partitionBy(col("series"))
      .orderBy(col("__slope"), col("d1"), col("d2"))
    val wAll = Window.partitionBy(col("series"))
    val days = dly.groupBy(col("series"))
      .agg(count(lit(1)).as("n_days"))
    val med = pairs
      .withColumn("__rn", row_number().over(wRank))
      .withColumn("__np", count(lit(1)).over(wAll))
      .filter(col("__rn") ===
        greatest(lit(1L), ceil(lit(0.5) * col("__np")).cast("long")))
      .select(col("series"), col("__np").as("n_pairs"),
        col("__slope").as("slope"))
    days.join(med, Seq("series"), "left")
      .select(col("series"), col("n_days"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"), col("slope"))
  }

  /** Local-peak detection over daily series — the "when did it spike"
    * primitive behind campaign attribution and incident timelines: a
    * bucket is a peak iff its exact-decimal daily total STRICTLY
    * exceeds the trailing `window` buckets' max, is ≥ the leading
    * `window` buckets' max (ties break toward the earlier bucket, so a
    * plateau yields exactly one peak), and clears `minValue`. All
    * compares run on exact decimals — no float drift can flip a peak.
    * Returns only the peak rows: (series, bucket, v, left_max,
    * right_max); windows are POSITIONAL over observed buckets (run
    * [[resample]] first if calendar gaps must count as zeros).
    *
    * Scale: one (series, day) aggregate + two fixed row-frame windows
    * over the days-sized table. */
  def peaks(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column, window: Int = 3, minValue: Double = 0.0)
      : DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val dly = events
      .groupBy(col(seriesCol).as("series"),
        date_trunc("day", col(tsCol)).cast("date").as("bucket"))
      .agg(sum(value.cast("decimal(28,6)")).cast("decimal(16,6)")
        .as("v"))
    val wSeq = Window.partitionBy(col("series")).orderBy(col("bucket"))
    val left = max(col("v")).over(wSeq.rowsBetween(-window, -1))
    val right = max(col("v")).over(wSeq.rowsBetween(1, window))
    dly
      .withColumn("left_max", left)
      .withColumn("right_max", right)
      .filter(
        (col("left_max").isNull || col("v") > col("left_max")) &&
          (col("right_max").isNull || col("v") >= col("right_max")) &&
          col("v") >= lit(minValue).cast("decimal(16,6)"))
  }

  /** Price–volume–mix decomposition of a period-over-period revenue
    * change per segment — the finance/commerce "WHY did revenue move"
    * answer a plain delta hides: with average price pᵢ = revᵢ/qtyᵢ,
    *
    *   Δrev = (p₂−p₁)·q₁  +  (q₂−q₁)·p₁  +  (p₂−p₁)(q₂−q₁)
    *           price          volume         joint/mix
    *
    * Returns one row per segment: both periods' exact revenue/quantity,
    * the EXACT delta (decimal difference — never reconstructed from the
    * effects), and the three effects as fixed double expressions over
    * the exact sums (each average price ONE division). A segment
    * missing either period reports NULL effects and a NULL delta — a
    * decomposition against an absent baseline is a lie, not a zero.
    *
    * Scale: one (segment, period) aggregate with map-side combine;
    * everything after runs on segment-cardinality rows. Pass revenue in
    * integer cents ([[linearTrend]]'s discipline). */
  def priceVolumeMix(df: DataFrame, segCol: String, period: Column,
      periodA: String, periodB: String, revenueCents: Column,
      qty: Column): DataFrame = {
    val cells = df
      .filter(period.isin(periodA, periodB))
      .groupBy(col(segCol).as("segment"), period.cast("string").as("__p"))
      .agg(sum(revenueCents.cast("decimal(19,0)")).cast("decimal(19,0)")
        .as("__rev"),
        sum(qty.cast("decimal(19,0)")).cast("decimal(19,0)").as("__qty"))
    def side(p: String, tag: String): DataFrame = cells
      .filter(col("__p") === p)
      .select(col("segment"), col("__rev").as(s"rev_$tag"),
        col("__qty").as(s"qty_$tag"))
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val j = side(periodA, "a").join(side(periodB, "b"), Seq("segment"),
      "full_outer")
    val ok = col("rev_a").isNotNull && col("rev_b").isNotNull &&
      col("qty_a") > 0 && col("qty_b") > 0
    val (ra, qa, rb, qb) =
      (dbl(col("rev_a")), dbl(col("qty_a")), dbl(col("rev_b")),
        dbl(col("qty_b")))
    val pa = ra / qa
    val pb = rb / qb
    j.select(col("segment"), col("rev_a"), col("qty_a"), col("rev_b"),
      col("qty_b"),
      when(ok, dbl((col("rev_b") - col("rev_a")).cast("decimal(20,0)")))
        .as("delta"),
      when(ok, (pb - pa) * qa).as("price_effect"),
      when(ok, (qb - qa) * pa).as("volume_effect"),
      when(ok, (pb - pa) * (qb - qa)).as("mix_effect"))
  }

  /** Burstiness profile per series: Fano factor (variance/mean of daily
    * event counts — 1 = Poisson, >1 = bursty/clumped arrivals, <1 =
    * regular) and the coefficient of variation. The traffic-shape
    * screen behind "is this source a steady feed or a scraper burst?"
    * and capacity planning.
    *
    * With integer daily counts, d·Σn² − N² is an exact integer, so
    *   fano = (d·Σn² − N²) / (d·N)   and   cv = √(d·Σn² − N²) / N
    * are one division (plus one correctly-rounded IEEE sqrt for cv)
    * over exact operands — engine-bit-identical, no float accumulation.
    * Returns (series, n_days, total, mean, fano, cv); single-day series
    * report fano/cv over their one observation (variance 0).
    *
    * Scale: one (series, day) count aggregate, then a series-keyed
    * reduction — nothing after the first aggregate is event-scale. */
  def burstiness(events: DataFrame, seriesCol: String, tsCol: String)
      : DataFrame = {
    val dly = events
      .groupBy(col(seriesCol).as("series"),
        date_trunc("day", col(tsCol)).cast("date").as("bucket"))
      .agg(count(lit(1)).as("n"))
    val s = dly.groupBy(col("series"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n")).cast("decimal(19,0)").as("__tot"),
        sum((col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)"))
          .cast("decimal(38,0)")).cast("decimal(38,0)").as("__sq"))
    def dbl(c: Column): Column = c.cast("string").cast("double")
    // (6,0)·(32,0) = (38,0): the day·Σn² product stays inside 38 digits
    // in BOTH engines (Spark would silently re-scale above 38, DuckDB
    // refuses the bind)
    val d = col("n_days").cast("decimal(6,0)")
    val disp = (d * col("__sq").cast("decimal(32,0)")).cast("decimal(38,0)") -
      (col("__tot") * col("__tot")).cast("decimal(38,0)")
    s.select(col("series"), col("n_days"),
        col("__tot").cast("bigint").as("total"),
        (dbl(col("__tot")) / col("n_days").cast("double")).as("mean"),
        (dbl(disp.cast("decimal(38,0)")) /
          (col("n_days").cast("double") * dbl(col("__tot")))).as("fano"),
        (sqrt(dbl(disp.cast("decimal(38,0)"))) / dbl(col("__tot")))
          .as("cv"))
  }

  /** Mann–Kendall trend test per series — [[theilSen]]'s significance
    * half (MK answers "IS there a monotone trend", Theil–Sen "how
    * steep"): S = Σ_{i<j} sign(vⱼ − vᵢ) over all day pairs, variance
    * tie-corrected
    *
    *   σ² = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18
    *
    * and z continuity-corrected ((S−1)/σ for S>0, (S+1)/σ for S<0,
    * 0 at S=0). Every count and S is an exact integer under any
    * partitioning (daily sums are exact decimals, sign is exact); z is
    * one fixed double expression, NULL when σ² = 0 (all days tied).
    * Returns (series, n_days, s_stat, z).
    *
    * Scale: [[theilSen]]'s contract — the pair join is per-series
    * DAYS², calendar-bounded, never event-scale; the tie term is one
    * aggregate over day-value groups. */
  def mannKendall(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column): DataFrame = {
    val dly = events
      .groupBy(col(seriesCol).as("series"),
        date_trunc("day", col(tsCol)).cast("date").as("bucket"))
      .agg(sum(value.cast("decimal(28,6)")).cast("decimal(16,6)")
        .as("v"))
      // pair join sides + the tie pass
      .transform(CheckpointOps(_, eager = false))
    val s = dly.as("i")
      .join(dly.as("j"),
        col("i.series") === col("j.series") &&
          col("i.bucket") < col("j.bucket"))
      .groupBy(col("i.series").as("series"))
      .agg(sum(when(col("j.v") > col("i.v"), 1L)
        .when(col("j.v") < col("i.v"), -1L).otherwise(0L)).as("s_stat"))
    val ties = dly
      .groupBy(col("series"), col("v"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("series"))
      .agg(sum(col("__t")).as("__n"),
        sum(col("__t") * (col("__t") - 1L) * (lit(2L) * col("__t") + 5L))
          .as("__tieterm"))
    ties.join(s, Seq("series"), "left")
      .select(col("series"), col("__n").as("n_days"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"), {
          val n = col("__n").cast("double")
          val varS = (n * (n - lit(1.0d)) * (lit(2.0d) * n + lit(5.0d)) -
            col("__tieterm").cast("double")) / lit(18.0d)
          val sS = coalesce(col("s_stat"), lit(0L)).cast("double")
          when(varS <= 0.0, lit(null).cast("double"))
            .when(sS > 0.0, (sS - lit(1.0d)) / sqrt(varS))
            .when(sS < 0.0, (sS + lit(1.0d)) / sqrt(varS))
            .otherwise(lit(0.0d))
            .as("z")
        })
  }

  /** Two-sided CUSUM drift detection per series — the classic
    * change-point alarm: `S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ − target − slack))`
    * flags a sustained upward shift when it exceeds `threshold`
    * (symmetrically S⁻ for downward). The "mean moved and stayed
    * moved" monitor that a point-outlier z-score misses.
    *
    * The recursion looks sequential but is windowable exactly via the
    * prefix-extremum identity: with `Pₜ = Σᵢ≤ₜ (xᵢ − target − slack)`,
    * `S⁺ₜ = Pₜ − min_{j ≤ t} Pⱼ` — one cumulative sum + one cumulative
    * min per side, NO driver loop, no sequential scan. All arithmetic
    * is exact: x quantizes to `floor(v·10⁶+0.5)` micro-integers
    * (NaN/Inf excluded), prefix sums ride decimal(28,0), and the two
    * CUSUM statistics re-emerge as micro-scaled doubles via one
    * division each. Rows order per series by (ts, value) so ties are
    * deterministic.
    *
    * Scale: two cumulative windows per series partition — state-free,
    * one shuffle by series. Returns (series, ts, value, cusum_pos,
    * cusum_neg, alarm) ordered by (series, ts). */
  def cusum(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column, target: Double, slack: Double = 0.0,
      threshold: Double): DataFrame = {
    require(slack >= 0.0, s"slack must be non-negative, got $slack")
    require(threshold > 0.0, s"threshold must be positive, got $threshold")
    def d28(c: Column): Column = c.cast("decimal(28,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val kUp = math.floor((target + slack) * 1e6 + 0.5).toLong
    val kDn = math.floor((target - slack) * 1e6 + 0.5).toLong
    val base = events
      .select(col(seriesCol).as("series"), col(tsCol).as("ts"),
        value.cast("double").as("__v"))
      .filter(col("series").isNotNull && col("ts").isNotNull &&
        col("__v").isNotNull && !isnan(col("__v")) &&
        abs(col("__v")) < lit(Double.PositiveInfinity))
      .select(col("series"), col("ts"), col("__v"),
        floor(col("__v") * 1000000.0 + 0.5).cast("long").as("__y"))
    val w = Window.partitionBy(col("series"))
      .orderBy(col("ts"), col("__y"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pUp = sum(d28(col("__y") - lit(kUp))).over(w)
    val pDn = sum(d28(col("__y") - lit(kDn))).over(w)
    val sPos = dbl(col("__pu") - col("__mu")) / 1e6
    val sNeg = dbl(col("__md") - col("__pd")) / 1e6
    base
      .withColumn("__pu", pUp)
      .withColumn("__pd", pDn)
      // prefix extrema INCLUDE an implicit S₀ = 0 start: min(P, 0)
      .withColumn("__mu", least(min(col("__pu")).over(w), d28(lit(0))))
      .withColumn("__md", greatest(max(col("__pd")).over(w), d28(lit(0))))
      .select(col("series"), col("ts"), col("__v").as("value"),
        sPos.as("cusum_pos"), sNeg.as("cusum_neg"),
        (sPos > threshold || sNeg > threshold).as("alarm"))
      .orderBy(col("series"), col("ts"))
  }

  /** Forecast accuracy per series — MAE, RMSE and MASE over aligned
    * (actual, forecast) rows. MASE (Hyndman's mean absolute SCALED
    * error) divides the forecast MAE by the in-sample naive
    * (lag-1) MAE, so it is unit-free, comparable across series, and
    * defined when actuals touch zero (unlike MAPE): < 1 beats the
    * naive forecast, > 1 loses to it.
    *
    * Numerics: actual/forecast quantize to `floor(v·10⁶+0.5)`
    * micro-integers (NaN/Inf rows excluded); absolute errors and the
    * lag-1 naive errors sum as exact decimals; squared errors ride
    * decimal(38,0); each reported metric is a fixed double expression
    * (one division, plus one sqrt for RMSE). The naive error needs
    * the previous ACTUAL — one per-series lag window ordered by
    * (ts, actual, forecast), the only wide operation. MASE is NULL
    * for a one-row series or a constant actual (naive MAE = 0).
    * Returns (series, n, mae, rmse, mase) ordered by series. */
  def forecastAccuracy(events: DataFrame, seriesCol: String,
      tsCol: String, actual: Column, forecast: Column): DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = events
      .select(col(seriesCol).as("series"), col(tsCol).as("__ts"),
        actual.cast("double").as("__am"),
        forecast.cast("double").as("__fm"))
      .filter(col("series").isNotNull && col("__ts").isNotNull &&
        col("__am").isNotNull && !isnan(col("__am")) &&
        abs(col("__am")) < lit(Double.PositiveInfinity) &&
        col("__fm").isNotNull && !isnan(col("__fm")) &&
        abs(col("__fm")) < lit(Double.PositiveInfinity))
      .select(col("series"), col("__ts"),
        floor(col("__am") * 1000000.0 + 0.5).cast("long").as("__a"),
        floor(col("__fm") * 1000000.0 + 0.5).cast("long").as("__f"))
    val w = Window.partitionBy(col("series"))
      .orderBy(col("__ts"), col("__a"), col("__f"))
    val err = abs(col("__a") - col("__f"))
    val lagged = base.withColumn("__prev", lag(col("__a"), 1).over(w))
    lagged.groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        sum(d19(err)).cast("decimal(28,0)").as("__ae"),
        sum((d19(err) * d19(err)).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__se"),
        sum(when(col("__prev").isNotNull,
          d19(abs(col("__a") - col("__prev")))).otherwise(d19(lit(0))))
          .cast("decimal(28,0)").as("__ne"),
        sum(when(col("__prev").isNotNull, 1L).otherwise(0L)).as("__nn"))
      .select(col("series"), col("n"),
        (dbl(col("__ae")) / (col("n").cast("double") * 1000000.0))
          .as("mae"),
        (sqrt(dbl(col("__se")) / col("n").cast("double")) / 1000000.0)
          .as("rmse"),
        when(col("__nn") > 0 && col("__ne") > 0,
          (dbl(col("__ae")) / col("n").cast("double")) /
            (dbl(col("__ne")) / col("__nn").cast("double")))
          .as("mase"))
      .orderBy(col("series"))
  }

  /** Croston's method for INTERMITTENT demand — the forecast family
    * ([[ewma]], [[doubleSmoothing]]) breaks on series that are mostly
    * zero (sparse SKUs, rare event types, long-tail error codes): a
    * plain EWMA decays toward 0 between demands and spikes on each
    * one. Croston (1972) smooths TWO series instead, both indexed by
    * demand OCCURRENCES only: the nonzero demand sizes, and the
    * inter-demand intervals (calendar days since the previous nonzero
    * day); `forecast = size_ewma / interval_ewma` is the demand rate
    * per day. `forecast_sba` applies the Syntetos–Boylan approximation
    * `×(1−α/2)` correcting Croston's positive bias.
    *
    * Both smoothings are the exact truncated-window EWMA of [[ewma]] —
    * exact decimal weights `α(1−α)ʲ` over the last `window`
    * occurrences, balanced-tree decimal sums, per-row normalization by
    * the available weight mass, ONE double division each — so the
    * whole row is engine-bit-identical. The interval series starts at
    * the second occurrence (the first has no predecessor), so
    * `interval_ewma`/forecasts are NULL until then.
    *
    * Returns one row per DEMAND day: (series, bucket, demand,
    * interval_days, size_ewma, interval_ewma, forecast, forecast_sba).
    *
    * Scale: one (series, day) aggregate over the events; the zero-day
    * filter shrinks the table to occurrences BEFORE any window runs,
    * and the lag stack is over the occurrences-sized table. */
  def croston(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column, alpha: String = "0.2", window: Int = 16)
      : DataFrame = {
    require(window >= 1 && window <= 64,
      s"window must be in [1,64], got $window")
    val a = new java.math.BigDecimal(alpha)
    require(a.compareTo(java.math.BigDecimal.ZERO) > 0 &&
      a.compareTo(java.math.BigDecimal.ONE) < 0,
      s"alpha must be in (0,1), got $alpha")
    val one = java.math.BigDecimal.ONE
    val weights = (0 until window).map(j =>
      a.multiply(one.subtract(a).pow(j)).stripTrailingZeros())
    val wScale = weights.map(_.scale()).max
    require(wScale + 6 <= 30,
      s"alpha=$alpha over window=$window needs decimal scale " +
        s"$wScale — too fine for exact 38-digit arithmetic")
    val dly = events
      .groupBy(col(seriesCol).as("series"),
        date_trunc("day", col(tsCol)).cast("date").as("bucket"))
      .agg(sum(value.cast("decimal(28,6)")).cast("decimal(16,6)").as("v"))
      .filter(col("v") > 0)
    val w = Window.partitionBy(col("series")).orderBy(col("bucket"))
    val occ = dly
      .withColumn("interval_days",
        datediff(col("bucket"), lag(col("bucket"), 1).over(w))
          .cast("decimal(16,6)"))
      .transform(CheckpointOps(_, eager = false)) // two weighted lag stacks
    def treeSum(cols: Seq[Column]): Column =
      if (cols.sizeIs == 1) cols.head
      else treeSum(cols.grouped(2).map(_.reduce(_ + _)).toSeq)
    val tScale = wScale + 6
    val zero = lit(java.math.BigDecimal.ZERO).cast(s"decimal(32,$tScale)")
    val wZero = lit(java.math.BigDecimal.ZERO).cast(s"decimal(17,$wScale)")
    // the [[ewma]] normalized truncated window, parameterized by the
    // smoothed column (sizes and intervals take identical machinery)
    def smoothed(c: Column): Column = {
      val num = treeSum((0 until window).map { j =>
        coalesce((lag(c, j).over(w) *
          lit(weights(j)).cast(s"decimal(${wScale + 1},$wScale)"))
          .cast(s"decimal(32,$tScale)"), zero)
      })
      val den = treeSum((0 until window).map { j =>
        coalesce(when(lag(c, j).over(w).isNotNull,
          lit(weights(j)).cast(s"decimal(${wScale + 1},$wScale)"))
          .cast(s"decimal(17,$wScale)"), wZero)
      })
      when(den > 0, num.cast("string").cast("double") /
        den.cast("string").cast("double"))
    }
    val sba = one.subtract(
      a.divide(new java.math.BigDecimal(2))).doubleValue()
    occ
      .withColumn("size_ewma", smoothed(col("v")))
      .withColumn("interval_ewma", smoothed(col("interval_days")))
      .select(col("series"), col("bucket"),
        col("v").cast("string").cast("double").as("demand"),
        col("interval_days").cast("long").as("interval_days"),
        col("size_ewma"), col("interval_ewma"),
        when(col("interval_ewma") > 0,
          col("size_ewma") / col("interval_ewma")).as("forecast"),
        when(col("interval_ewma") > 0,
          col("size_ewma") / col("interval_ewma") * lit(sba))
          .as("forecast_sba"))
  }
}
