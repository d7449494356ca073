package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.CheckpointOps

/** Multi-feature ordinary least squares over a DataFrame — the missing
  * step between the per-series single-feature trend
  * ([[TimeSeries.linearTrend]]) and a full ML library: calibrate a
  * quality score against labeled moments, de-trend a metric on several
  * controls, or screen feature predictiveness, without leaving the
  * engine.
  *
  * Distribution strategy (the 100 TB shape): the corpus is touched by
  * exactly ONE map-side-combined aggregate producing the O(d²) Gram
  * sums `n, Σxⱼ, Σxⱼxₖ, Σy, Σxⱼy, Σy²` — for d features that is
  * (d+1)(d+2)/2 + d + 2 sum columns, all EXACT decimals over
  * micro-quantized inputs (the CUPED/Welch moment convention:
  * quantize each value once, sum integers, descale at the end — the
  * cross-row sums are order-free and engine-bit-identical). The
  * (d+1)×(d+1) normal-equation solve, its inverse for standard
  * errors, and R² are driver arithmetic on that one collected row —
  * the model-sized collect class, O(d³) with d small by contract.
  *
  * No iteration, no gradient epochs, no per-row driver work: OLS has a
  * closed form and this is it, distributed.
  */
object Regression {

  /** Fit `target ~ intercept + features` by exact-moment OLS.
    *
    * Returns one row per term — `intercept` first, then each feature
    * by its given name — with the model-level diagnostics replicated
    * on every row (the report is term-sized):
    * (term, coef, std_err, t_stat, r2, n, df_resid).
    *
    * Rows with NULL/NaN/Inf in the target or ANY feature are excluded
    * (listwise deletion — the moment sums must all cover the same
    * rows). A singular normal matrix (collinear features, or fewer
    * rows than terms) yields NULL coef/std_err/t_stat with n and r2
    * NULL too — refusing loudly in-value rather than returning one
    * arbitrary solution from the null space. Standard errors are the
    * classical `√(σ̂²·(XᵀX)⁻¹ⱼⱼ)` with `σ̂² = SSR/(n−p)`; NULL when
    * `n ≤ p`.
    *
    * Determinism: micro-quantized (1e-6) inputs summed as exact
    * decimals; the driver solve (Gauss–Jordan with partial pivoting,
    * fixed elimination order) is one fixed double sequence. */
  def linearFit(df: DataFrame, target: Column,
      features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty, "linearFit needs at least one feature")
    require(features.size <= 32,
      s"linearFit is for small design matrices (≤ 32 features, got " +
        s"${features.size}) — the Gram aggregate is O(d²) columns")
    val spark = df.sparkSession
    val d = features.size
    val finite = (c: Column) =>
      c.isNotNull && !isnan(c) && abs(c) < lit(Double.PositiveInfinity)
    val y0 = target.cast("double")
    val xs0 = features.map(_._2.cast("double"))
    val base = df
      .select((y0.as("__ym") +: xs0.zipWithIndex.map { case (c, j) =>
        c.as(s"__xm$j") }): _*)
      .filter(xs0.indices.map(j => finite(col(s"__xm$j")))
        .foldLeft(finite(col("__ym")))(_ && _))
      .select((floor(col("__ym") * 1000000.0 + 0.5).cast("long").as("__y") +:
        xs0.indices.map(j =>
          floor(col(s"__xm$j") * 1000000.0 + 0.5).cast("long").as(s"__x$j"))): _*)

    val GramSums(n, a, bvec, syy) = gramSums(base, d)
    val p = d + 1
    val termNames = "intercept" +: features.map(_._1)
    val schema = StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("coef", DoubleType, nullable = true),
      StructField("std_err", DoubleType, nullable = true),
      StructField("t_stat", DoubleType, nullable = true),
      StructField("r2", DoubleType, nullable = true),
      StructField("n", LongType, nullable = false),
      StructField("df_resid", LongType, nullable = true)))

    solveWithInverse(a, bvec) match {
      case None =>
        val rows = termNames.map(t =>
          Row(t, null, null, null, null, n, null))
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
      case Some((coef, inv)) =>
        val ssr = ssrOf(GramSums(n, a, bvec, syy), coef)
        val sst = math.max(0.0, syy - bvec(0) * bvec(0) / n.toDouble)
        val r2: Any = if (sst == 0.0) null else 1.0 - ssr / sst
        val dfResid = n - p
        val sigma2 = if (dfResid > 0) ssr / dfResid.toDouble else Double.NaN
        val rows = termNames.zipWithIndex.map { case (t, j) =>
          val se: Any =
            if (dfResid <= 0 || inv(j)(j) < 0.0) null
            else math.sqrt(sigma2 * inv(j)(j))
          val tStat: Any = se match {
            case s: Double if s > 0.0 => coef(j) / s
            case _ => null
          }
          Row(t, coef(j), se, tStat, r2, n,
            if (dfResid > 0) dfResid else null)
        }
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
    }
  }

  /** Poisson regression (log link) — the COUNTS member of the fit
    * family ("how do listing features drive order counts?"; OLS on a
    * count target gets both the mean structure and the variance
    * wrong): maximize the Poisson log-likelihood
    * `Σ yᵢ·xᵢβ − e^{xᵢβ}` by Newton–Raphson (IRLS), coefficients in
    * LOG-RATE units, `rate_ratio = e^coef` the multiplicative effect
    * per unit — the [[graft.operators.Survival.coxPh]] iteration
    * shape without the risk-set windows.
    *
    * Per Newton iteration (fixed `iters` = 8, far past convergence for
    * this concave problem): ONE map-side-combined aggregate of
    * quantized `μ = e^{clamp(xβ, ±20)}`-weighted moments (gradient
    * `Σ x(y−μ)` micro-quantized, Hessian `Σ μ·xxᵀ` milli-quantized —
    * the coxPh overflow budget), a p + p(p+1)/2 fold to the driver,
    * and a (p×p) [[solveWithInverse]] solve. β starts at
    * `(ln ȳ, 0, …)` — the null model, so 8 steps converge from the
    * right neighborhood. One FINAL aggregate computes the model and
    * null deviances for McFadden's pseudo-R².
    *
    * Returns one row per term — `intercept` first — with model-level
    * diagnostics replicated: (term, coef, rate_ratio, std_err, z,
    * p_value, n, deviance, null_deviance). Rows with NULL/negative/
    * non-finite targets or non-finite features are excluded; a
    * singular Hessian (collinear features) or zero total counts
    * yields all-NULL estimates (the [[linearFit]] refusal
    * convention). Standard errors from the final inverse Hessian;
    * two-sided normal tail via the house erfc polynomial.
    *
    * Scale: `iters + 2` corpus passes, each one aggregate (no window,
    * no join); driver traffic is model-sized per pass; the ±20 linear-
    * predictor clamp and |x| ≲ 1e4 moderate-feature-scale contract
    * are the coxPh ones. */
  def poissonFit(df: DataFrame, target: Column,
      features: Seq[(String, Column)], iters: Int = 8): DataFrame = {
    require(features.nonEmpty && features.size <= 8,
      s"poissonFit supports 1..8 features, got ${features.size}")
    require(iters >= 1 && iters <= 32,
      s"iters must be in [1,32], got $iters")
    val spark = df.sparkSession
    val d = features.size
    val finite = (c: Column) =>
      c.isNotNull && !isnan(c) && abs(c) < lit(Double.PositiveInfinity)
    val base = df
      .select((target.cast("double").as("__ym") +:
        features.zipWithIndex.map { case ((_, c), j) =>
          c.cast("double").as(s"__xm$j") }): _*)
      .filter(features.indices.map(j => finite(col(s"__xm$j")))
        .foldLeft(finite(col("__ym")) && col("__ym") >= 0.0)(_ && _))
      .select((col("__ym").cast("long").as("__y") +:
        features.indices.map(j =>
          (floor(col(s"__xm$j") * 1000000.0 + 0.5) / 1000000.0)
            .as(s"__x$j"))): _*)
      // spread checkpoint: every Newton pass scans this table; the
      // plain checkpoint freezes an AQE-coalesced (1-partition) layout
      // and runs them single-threaded — exact decimal moments, so the
      // layout cannot change results
      .transform(CheckpointOps.spread)
    val counts = base.agg(count(lit(1)).as("n"),
      sum(col("__y")).as("sy")).collect()(0)
    val n = counts.getLong(0)
    val sy = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    val p = d + 1
    val termNames = "intercept" +: features.map(_._1)
    val schema = StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("coef", DoubleType, nullable = true),
      StructField("rate_ratio", DoubleType, nullable = true),
      StructField("std_err", DoubleType, nullable = true),
      StructField("z", DoubleType, nullable = true),
      StructField("p_value", DoubleType, nullable = true),
      StructField("n", LongType, nullable = false),
      StructField("deviance", DoubleType, nullable = true),
      StructField("null_deviance", DoubleType, nullable = true)))
    def nullRows() = termNames.map(t =>
      Row(t, null, null, null, null, null, n, null, null))
    if (n == 0L || sy == 0L)
      return spark.createDataFrame(
        spark.sparkContext.parallelize(nullRows(), 1), schema)

    def x(j: Int): Column = if (j == 0) lit(1.0) else col(s"__x${j - 1}")
    val beta = new Array[Double](p)
    beta(0) = math.log(sy.toDouble / n.toDouble)
    var lastInv: Option[Array[Array[Double]]] = None
    var singular = false
    var it = 0
    while (it < iters && !singular) {
      val xb = (0 until p).map(j => x(j) * lit(beta(j))).reduce(_ + _)
      val mu = exp(least(greatest(xb, lit(-20.0)), lit(20.0)))
      def q6(c: Column): Column =
        sum(floor(c * 1e6 + 0.5).cast("decimal(38,0)"))
          .cast("decimal(38,0)")
      def q3(c: Column): Column =
        sum(floor(c * 1e3 + 0.5).cast("decimal(38,0)"))
          .cast("decimal(38,0)")
      val aggCols: Seq[Column] =
        (0 until p).map(j =>
          q6(x(j) * (col("__y").cast("double") - mu)).as(s"__g$j")) ++
        (for (j <- 0 until p; k <- j until p) yield
          q3(mu * x(j) * x(k)).as(s"__h_${j}_$k"))
      val row = base.agg(aggCols.head, aggCols.tail: _*).collect()(0)
      def v(name: String, scale: Double): Double = {
        val r = row.get(row.fieldIndex(name))
        if (r == null) 0.0
        else r.asInstanceOf[java.math.BigDecimal].doubleValue() / scale
      }
      val grad = Array.tabulate(p)(j => v(s"__g$j", 1e6))
      val hess = Array.ofDim[Double](p, p)
      for (j <- 0 until p; k <- j until p) {
        hess(j)(k) = v(s"__h_${j}_$k", 1e3)
        hess(k)(j) = hess(j)(k)
      }
      solveWithInverse(hess, grad) match {
        case None => singular = true
        case Some((step, inv)) =>
          for (j <- 0 until p) beta(j) += step(j)
          lastInv = Some(inv)
      }
      it += 1
    }
    val rows = (singular, lastInv) match {
      case (true, _) | (_, None) => nullRows()
      case (false, Some(inv)) =>
        // final pass: model + null deviance, micro-quantized parts
        val xb = (0 until p).map(j => x(j) * lit(beta(j))).reduce(_ + _)
        val mu = exp(least(greatest(xb, lit(-20.0)), lit(20.0)))
        val mu0 = lit(sy.toDouble / n.toDouble)
        val yD = col("__y").cast("double")
        def devPart(m: Column): Column = {
          val t = when(col("__y") > 0L, yD * log(yD / m)).otherwise(0.0)
          sum(floor((t - (yD - m)) * 1e6 + 0.5).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
        }
        val devRow = base.agg(devPart(mu).as("__dm"),
          devPart(mu0).as("__d0")).collect()(0)
        def dv(i: Int): Double = {
          val r = devRow.get(i)
          if (r == null) 0.0
          else 2.0 * r.asInstanceOf[java.math.BigDecimal].doubleValue() / 1e6
        }
        val (dev, dev0) = (dv(0), dv(1))
        termNames.zipWithIndex.map { case (t, j) =>
          val se = if (inv(j)(j) > 0.0) math.sqrt(inv(j)(j)) else 0.0
          if (se > 0.0) {
            val z = beta(j) / se
            val zz = math.abs(z) / math.sqrt(2.0)
            val u = 1.0 / (1.0 + 0.3275911 * zz)
            val poly = u * (0.254829592 + u * (-0.284496736 +
              u * (1.421413741 + u * (-1.453152027 + u * 1.061405429))))
            val pv = poly * math.exp(-zz * zz)
            Row(t, beta(j), math.exp(beta(j)), se, z, pv, n, dev, dev0)
          } else Row(t, beta(j), math.exp(beta(j)), null, null, null,
            n, dev, dev0)
        }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Variance inflation factors — the multicollinearity diagnostic to
    * run BEFORE trusting [[linearFit]]'s standard errors ("are these
    * features measuring the same thing?"): `VIF_j = [R⁻¹]_jj` over the
    * feature CORRELATION matrix R — algebraically `1/(1−R²_j)` where
    * `R²_j` is feature j regressed on the others, without fitting d
    * auxiliary models. The usual reading: VIF > 5 suspect, > 10
    * actionable; `linearFit` itself refuses only at exact
    * collinearity — VIF quantifies the approach to it.
    *
    * Returns one row per feature: (term, vif, r2_other) with
    * `r2_other = 1 − 1/VIF`; all-NULL when R is singular (exact
    * collinearity) or any feature is constant (zero variance — its
    * correlation row is undefined).
    *
    * Numerics: ONE [[gramSums]] aggregate (exact decimal moments);
    * covariance→correlation and the (d×d) inversion are driver
    * arithmetic on the collected row — fixed double sequence.
    *
    * Scale: one corpus aggregate, model-sized driver work. */
  def vif(df: DataFrame, features: Seq[(String, Column)]): DataFrame = {
    require(features.size >= 2 && features.size <= 32,
      s"vif needs 2..32 features, got ${features.size}")
    val spark = df.sparkSession
    val d = features.size
    val finite = (c: Column) =>
      c.isNotNull && !isnan(c) && abs(c) < lit(Double.PositiveInfinity)
    val xs0 = features.map(_._2.cast("double"))
    val base = df
      .select(xs0.zipWithIndex.map { case (c, j) =>
        c.as(s"__xm$j") }: _*)
      .filter(xs0.indices.map(j => finite(col(s"__xm$j")))
        .reduce(_ && _))
      .select((lit(0L).as("__y") +: xs0.indices.map(j =>
        floor(col(s"__xm$j") * 1000000.0 + 0.5).cast("long")
          .as(s"__x$j"))): _*)
    val g = gramSums(base, d)
    val schema = StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("vif", DoubleType, nullable = true),
      StructField("r2_other", DoubleType, nullable = true)))
    def nullRows() = features.map { case (t, _) => Row(t, null, null) }
    val nD = g.n.toDouble
    val out: Seq[Row] =
      if (g.n < 3) nullRows()
      else {
        // covariance from the intercept-augmented Gram: a(j+1)(k+1) is
        // Σxⱼxₖ, a(0)(j+1) is Σxⱼ
        val cov = Array.tabulate(d, d)((j, k) =>
          g.a(j + 1)(k + 1) / nD -
            (g.a(0)(j + 1) / nD) * (g.a(0)(k + 1) / nD))
        val sd = Array.tabulate(d)(j => math.sqrt(math.max(cov(j)(j), 0.0)))
        if (sd.exists(_ <= 0.0)) nullRows()
        else {
          val corr = Array.tabulate(d, d)((j, k) =>
            cov(j)(k) / (sd(j) * sd(k)))
          solveWithInverse(corr, new Array[Double](d)) match {
            case None => nullRows()
            case Some((_, inv)) =>
              features.zipWithIndex.map { case ((t, _), j) =>
                val v = inv(j)(j)
                if (v > 0.0) Row(t, v, 1.0 - 1.0 / v)
                else Row(t, null, null)
              }
          }
        }
      }
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /** Breusch–Pagan heteroscedasticity test — "can I trust
    * [[linearFit]]'s classical standard errors?": regress the SQUARED
    * residuals of the main fit on the same features; under
    * homoscedasticity the auxiliary R² is noise and
    * `LM = n·R²_aux ~ χ²_d` (the Koenker studentized form — robust to
    * non-normal errors, the modern default). A significant BP says the
    * error variance moves with the features: switch to robust SEs or
    * model the variance.
    *
    * Returns ONE row: (n, r2_aux, bp, dof, p_value) — NULL bp/p when
    * either fit is singular or the residuals are exactly constant
    * (aux SST = 0).
    *
    * Numerics: TWO [[gramSums]] passes over one lazily-checkpointed
    * quantized base — the main fit, then the auxiliary with
    * `u = (y − xβ̂)²` formed in-plan from driver-literal β̂ and
    * re-quantized; the χ²_d tail is the house Wilson–Hilferty + erfc
    * block on the driver.
    *
    * Scale: two corpus aggregates, no window, no join; model-sized
    * driver work. */
  def breuschPagan(df: DataFrame, target: Column,
      features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty && features.size <= 32,
      s"breuschPagan supports 1..32 features, got ${features.size}")
    val spark = df.sparkSession
    val d = features.size
    val finite = (c: Column) =>
      c.isNotNull && !isnan(c) && abs(c) < lit(Double.PositiveInfinity)
    val y0 = target.cast("double")
    val xs0 = features.map(_._2.cast("double"))
    val base = df
      .select((y0.as("__ym") +: xs0.zipWithIndex.map { case (c, j) =>
        c.as(s"__xm$j") }): _*)
      .filter(xs0.indices.map(j => finite(col(s"__xm$j")))
        .foldLeft(finite(col("__ym")))(_ && _))
      .select((floor(col("__ym") * 1000000.0 + 0.5).cast("long")
        .as("__y") +:
        xs0.indices.map(j =>
          floor(col(s"__xm$j") * 1000000.0 + 0.5).cast("long")
            .as(s"__x$j"))): _*)
      // spread checkpoint (see poissonFit): two Gram passes read this
      .transform(CheckpointOps.spread)
    val gMain = gramSums(base, d)
    val schema = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("r2_aux", DoubleType, nullable = true),
      StructField("bp", DoubleType, nullable = true),
      StructField("dof", LongType, nullable = false),
      StructField("p_value", DoubleType, nullable = true)))
    def nullRow() = Row(gMain.n, null, null, d.toLong, null)
    val out = solveWithInverse(gMain.a, gMain.b) match {
      case None => nullRow()
      case Some((coef, _)) =>
        // u = (y − xβ̂)² in ORIGINAL units from the micro-integer base,
        // re-quantized as the auxiliary target
        val xbeta = (0 until d).foldLeft(lit(coef(0))) { (acc, j) =>
          acc + col(s"__x$j").cast("double") / 1e6 * lit(coef(j + 1)) }
        val resid = col("__y").cast("double") / 1e6 - xbeta
        val aux = base.select(
          (floor(resid * resid * 1000000.0 + 0.5).cast("long")
            .as("__y") +:
            (0 until d).map(j => col(s"__x$j"))): _*)
        val gAux = gramSums(aux, d)
        solveWithInverse(gAux.a, gAux.b) match {
          case None => nullRow()
          case Some((cAux, _)) =>
            val ssr = ssrOf(gAux, cAux)
            val sst = math.max(0.0,
              gAux.syy - gAux.b(0) * gAux.b(0) / gAux.n.toDouble)
            if (sst <= 0.0) nullRow()
            else {
              val r2 = 1.0 - ssr / sst
              val bp = gAux.n.toDouble * r2
              val dof = d.toDouble
              val z = (math.cbrt(math.max(bp, 0.0) / dof) -
                (1.0 - 2.0 / (9.0 * dof))) / math.sqrt(2.0 / (9.0 * dof))
              val zz = math.abs(z) / math.sqrt(2.0)
              val u = 1.0 / (1.0 + 0.3275911 * zz)
              val poly = u * (0.254829592 + u * (-0.284496736 +
                u * (1.421413741 + u * (-1.453152027 +
                  u * 1.061405429))))
              val halfErfc = poly * math.exp(-zz * zz) / 2.0
              val pv = if (z >= 0) halfErfc else 1.0 - halfErfc
              Row(gMain.n, r2, bp, d.toLong, pv)
            }
        }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(out), 1), schema)
  }

  /** Granger-style lead–lag predictiveness screen between two named
    * event series — the regression upgrade of
    * [[TimeSeries.crossCorrelation]] ("Y correlates with X k days
    * later") to the question attribution actually needs ("does Y's
    * history IMPROVE a forecast of X beyond X's own history?"): fit
    * `x_t ~ x_{t−1..t−L}` (restricted) and
    * `x_t ~ x_{t−1..t−L} + y_{t−1..t−L}` (full) on the calendar-aligned
    * daily totals and compare residual variance with the classic
    * F-form `((RSS_r−RSS_f)/L)/(RSS_f/(n−2L−1))`.
    *
    * Day alignment is by CALENDAR join (one `date_add` self-join per
    * lag on the days-sized table — a gap day drops the row; positional
    * lags would silently misalign across gaps, the
    * [[TimeSeries.crossCorrelation]] rationale). Daily totals are
    * exact decimal sums; both fits ride [[gramSums]] (exact-decimal
    * moments, deterministic driver solve). The tail is the
    * large-sample χ²-limit `L·F ~ χ²_L` via the house
    * Wilson–Hilferty + erfc block (driver-evaluated, fixed double
    * sequence). This is a SCREEN for predictive precedence, not causal
    * proof — confounders that drive both series pass it; the scaladoc
    * name keeps Granger's own caveat.
    *
    * Returns ONE row: (series_x, series_y, lag, n_days, rss_restricted,
    * rss_full, f_stat, p_value) — NULL f/p when either fit is singular,
    * `n ≤ 2L+1`, or the full model fits exactly.
    *
    * Scale: one (series, day) aggregate over the events (map-side
    * combined); every join and both Gram aggregates run on the
    * days-sized table. */
  def grangerScreen(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column, seriesX: String, seriesY: String,
      maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1 && maxLag <= 8,
      s"maxLag must be in [1,8], got $maxLag")
    val spark = events.sparkSession
    val dly = events
      .filter(col(seriesCol).isin(seriesX, seriesY))
      .groupBy(col(seriesCol).as("__series"),
        date_trunc("day", col(tsCol)).cast("date").as("__bucket"))
      .agg(sum(value.cast("decimal(28,6)")).cast("decimal(16,6)").as("__v"))
    val days = dly.groupBy(col("__bucket"))
      .agg(
        max(when(col("__series") === seriesX, col("__v"))).as("__xv"),
        max(when(col("__series") === seriesY, col("__v"))).as("__yv"))
      .filter(col("__xv").isNotNull && col("__yv").isNotNull)
      .select(col("__bucket"),
        col("__xv").cast("string").cast("double").as("__x"),
        col("__yv").cast("string").cast("double").as("__y"))
      .transform(CheckpointOps(_, eager = false)) // self-joined once per lag
    val lagged = (1 to maxLag).foldLeft(
      days.select(col("__bucket"), col("__x").as("__ym"))) { (acc, j) =>
        acc.join(days.select(
            date_add(col("__bucket"), j).as("__bucket"),
            col("__x").as(s"__xlm${j - 1}"),
            col("__y").as(s"__ylm${j - 1}")),
          Seq("__bucket"))
      }
    val L = maxLag
    val quant = (c: Column) => floor(c * 1000000.0 + 0.5).cast("long")
    val full = lagged.select(
      (quant(col("__ym")).as("__y") +:
        ((0 until L).map(j => quant(col(s"__xlm$j")).as(s"__x$j")) ++
         (0 until L).map(j => quant(col(s"__ylm$j")).as(s"__x${L + j}")))): _*)
      .transform(CheckpointOps(_, eager = false)) // two Gram aggregates
    val gFull = gramSums(full, 2 * L)
    val gRestr = gramSums(
      full.select((col("__y") +: (0 until L).map(j => col(s"__x$j"))): _*),
      L)
    val n = gFull.n
    val fitR = solveWithInverse(gRestr.a, gRestr.b)
    val fitF = solveWithInverse(gFull.a, gFull.b)
    val schema = StructType(Seq(
      StructField("series_x", StringType, nullable = false),
      StructField("series_y", StringType, nullable = false),
      StructField("lag", IntegerType, nullable = false),
      StructField("n_days", LongType, nullable = false),
      StructField("rss_restricted", DoubleType, nullable = true),
      StructField("rss_full", DoubleType, nullable = true),
      StructField("f_stat", DoubleType, nullable = true),
      StructField("p_value", DoubleType, nullable = true)))
    val dfResid = n - (2 * L + 1).toLong
    val rowOut = (fitR, fitF) match {
      case (Some((cr, _)), Some((cf, _))) if dfResid > 0 =>
        val rssR = ssrOf(gRestr, cr)
        val rssF = ssrOf(gFull, cf)
        val (f: Any, pv: Any) =
          if (rssF <= 0.0) (null, null)
          else {
            val fv = ((rssR - rssF) / L.toDouble) /
              (rssF / dfResid.toDouble)
            // L·F ~ χ²_L (df2 → ∞): Wilson–Hilferty + A&S erfc, the
            // in-plan block's arithmetic on the driver
            val dof = L.toDouble
            val z = (math.cbrt(math.max(fv, 0.0)) -
              (1.0 - 2.0 / (9.0 * dof))) / math.sqrt(2.0 / (9.0 * dof))
            val zz = math.abs(z) / math.sqrt(2.0)
            val u = 1.0 / (1.0 + 0.3275911 * zz)
            val poly = u * (0.254829592 + u * (-0.284496736 +
              u * (1.421413741 + u * (-1.453152027 + u * 1.061405429))))
            val halfErfc = poly * math.exp(-zz * zz) / 2.0
            val p = if (z >= 0) halfErfc else 1.0 - halfErfc
            (fv, p)
          }
        Row(seriesX, seriesY, L, n, rssR, rssF, f, pv)
      case _ => Row(seriesX, seriesY, L, n, null, null, null, null)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(rowOut), 1), schema)
  }

  /** The collected, descaled moment core of one OLS fit: row count, the
    * intercept-augmented normal matrix `A = XᵀX`, the right-hand side
    * `b = Xᵀy`, and `Σy²` — everything a solve, SSR, and R² need. */
  private[graft] case class GramSums(n: Long, a: Array[Array[Double]],
    b: Array[Double], syy: Double)

  /** ONE map-side-combined aggregate of the O(d²) exact-decimal Gram
    * sums over a prepared micro-integer table with columns
    * `__y, __x0..__x{d-1}` (the caller owns quantization + exclusion),
    * collected and descaled on the driver. */
  private[graft] def gramSums(base: DataFrame, d: Int): GramSums = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def cross(a: Column, b: Column): Column =
      sum((d19(a) * d19(b)).cast("decimal(38,0)")).cast("decimal(38,0)")
    val sums: Seq[Column] =
      Seq(count(lit(1)).as("__n")) ++
      (0 until d).map(j => sum(d19(col(s"__x$j"))).cast("decimal(28,0)")
        .as(s"__sx$j")) ++
      (for (j <- 0 until d; k <- j until d) yield
        cross(col(s"__x$j"), col(s"__x$k")).as(s"__sxx_${j}_$k")) ++
      Seq(sum(d19(col("__y"))).cast("decimal(28,0)").as("__sy")) ++
      (0 until d).map(j => cross(col(s"__x$j"), col("__y")).as(s"__sxy$j")) ++
      Seq(cross(col("__y"), col("__y")).as("__syy"))
    val row = base.agg(sums.head, sums.tail: _*).collect()(0)
    val n = row.getLong(row.fieldIndex("__n"))
    def dec(name: String): Double = {
      val v = row.get(row.fieldIndex(name))
      if (v == null) 0.0
      else v.asInstanceOf[java.math.BigDecimal].doubleValue()
    }
    val M = 1e6
    val p = d + 1
    val a = Array.ofDim[Double](p, p)
    val bvec = new Array[Double](p)
    a(0)(0) = n.toDouble
    for (j <- 0 until d) {
      a(0)(j + 1) = dec(s"__sx$j") / M
      a(j + 1)(0) = a(0)(j + 1)
    }
    for (j <- 0 until d; k <- j until d) {
      a(j + 1)(k + 1) = dec(s"__sxx_${j}_$k") / (M * M)
      a(k + 1)(j + 1) = a(j + 1)(k + 1)
    }
    bvec(0) = dec("__sy") / M
    for (j <- 0 until d) bvec(j + 1) = dec(s"__sxy$j") / (M * M)
    GramSums(n, a, bvec, dec("__syy") / (M * M))
  }

  /** Residual sum of squares `yᵀy − 2bᵀ(Xᵀy) + bᵀ(XᵀX)b` for a solved
    * coefficient vector — fixed contraction order, clamped at 0. */
  private[graft] def ssrOf(g: GramSums, coef: Array[Double]): Double = {
    val p = coef.length
    var bXy = 0.0
    for (j <- 0 until p) bXy += coef(j) * g.b(j)
    var bAb = 0.0
    for (j <- 0 until p; k <- 0 until p)
      bAb += coef(j) * g.a(j)(k) * coef(k)
    math.max(0.0, g.syy - 2.0 * bXy + bAb)
  }

  /** Gauss–Jordan with partial pivoting on the augmented [A | b | I]:
    * returns (solution, A⁻¹), or None when a pivot collapses below
    * `1e-9 × max |A|` (singular/collinear — by contract refused, not
    * "solved"). Fixed elimination order → one deterministic double
    * sequence. */
  private[graft] def solveWithInverse(a0: Array[Array[Double]],
      b0: Array[Double]): Option[(Array[Double], Array[Array[Double]])] = {
    val p = b0.length
    val aug = Array.tabulate(p, 2 * p + 1) { (i, j) =>
      if (j < p) a0(i)(j)
      else if (j == p) b0(i)
      else if (j - p - 1 == i) 1.0 else 0.0
    }
    val scale = a0.flatten.foldLeft(0.0)((m, v) => math.max(m, math.abs(v)))
    val eps = 1e-9 * math.max(scale, 1.0)
    for (c <- 0 until p) {
      var piv = c
      for (r <- c + 1 until p)
        if (math.abs(aug(r)(c)) > math.abs(aug(piv)(c))) piv = r
      if (math.abs(aug(piv)(c)) <= eps) return None
      if (piv != c) { val t = aug(piv); aug(piv) = aug(c); aug(c) = t }
      val pv = aug(c)(c)
      for (j <- c until 2 * p + 1) aug(c)(j) /= pv
      for (r <- 0 until p if r != c) {
        val f = aug(r)(c)
        if (f != 0.0)
          for (j <- c until 2 * p + 1) aug(r)(j) -= f * aug(c)(j)
      }
    }
    val sol = Array.tabulate(p)(i => aug(i)(p))
    val inv = Array.tabulate(p, p)((i, j) => aug(i)(p + 1 + j))
    Some((sol, inv))
  }
}
