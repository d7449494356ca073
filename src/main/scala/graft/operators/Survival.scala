package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

/** Time-to-event (survival) estimation over subject tables — the
  * churn/retention companion of [[Retention]] and [[Funnel]]: those
  * count who is still active per period; Kaplan–Meier estimates the
  * survival FUNCTION under right-censoring, which is the correct tool
  * when observation windows differ per subject (every churn study: a
  * user who joined last week hasn't had TIME to churn — dropping or
  * death-coding them both bias the curve; censoring does neither).
  * Reference provenance: the reference suite ships event collectors
  * feeding exactly this product-analytics consumer (see `Funnel`'s
  * provenance note); the estimator itself is public-textbook
  * (Kaplan & Meier 1958).
  */
object Survival {

  /** Kaplan–Meier survival curve per group from per-subject rows
    * `(group, duration, observed)`: at each distinct duration t,
    * `n_risk` = subjects with duration ≥ t, `d` = observed events at
    * t, `c` = censored at t, and
    * `S(t) = Π_{t_i ≤ t, d_i > 0} (1 − d_i / n_i)`.
    *
    * Engine-reproducibility: the product is evaluated in LOG space
    * with the repo's micro-integer discipline — each factor becomes
    * `floor(ln((n−d)/n)·10⁹ + 0.5)` (the ratio is ONE correctly-
    * rounded division of exact longs; the quantization absorbs the
    * ≤1-ulp cross-engine `ln` difference), the running sum is exact
    * 64-bit integer arithmetic under ANY window-aggregation order, and
    * the reported survival is `exp(Σ/10⁹)` rounded to 6 — display
    * rounding of a bit-identical double. A step where everyone at
    * risk dies (n = d) sends the curve to exactly 0 from that t on
    * (the log route would need ln 0), via a window max flag.
    *
    * Scale: one (group, duration) aggregate with map-side combine,
    * then windows over the group×distinct-duration table — corpus
    * shuffles once; everything after is curve-sized. */
  def kaplanMeier(subjects: DataFrame, groupCol: String,
      durationCol: String, observed: Column): DataFrame = {
    val steps = subjects
      .filter(col(durationCol).isNotNull && col(durationCol) >= 0)
      .groupBy(col(groupCol).as("group"),
        col(durationCol).cast("long").as("t"))
      .agg(sum(observed.cast("long")).as("d"),
        sum((!observed).cast("long")).as("c"))
    // suffix sums as RUNNING sums over the reversed order: Spark
    // recomputes a (currentRow → unboundedFollowing) frame from
    // scratch PER ROW — O(steps²) per group — while a running prefix
    // frame is incremental O(steps). `t` is distinct per group (output
    // of the aggregate), so the reversed ROWS frame covers exactly the
    // same set and the exact-integer sums are identical.
    val wRisk = Window.partitionBy(col("group")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCum = Window.partitionBy(col("group")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    steps
      .withColumn("n_risk", sum(col("d") + col("c")).over(wRisk))
      // ln(1 - d/n) quantized to exact nano-units; d = 0 steps
      // contribute exactly 0 (ln 1), so censor-only rows are no-ops
      .withColumn("__lnq",
        when(col("d") === col("n_risk"), lit(0L)) // flagged below
          .otherwise(floor(
            log((col("n_risk") - col("d")).cast("double") /
              col("n_risk").cast("double")) * lit(1000000000.0)
              + lit(0.5)).cast("long")))
      .withColumn("__dead",
        max((col("d") === col("n_risk")).cast("int")).over(wCum))
      .withColumn("survival",
        when(col("__dead") === 1, lit(0.0))
          .otherwise(round(
            exp(sum(col("__lnq")).over(wCum).cast("double") /
              lit(1000000000.0)), 6)))
      .select(col("group"), col("t"), col("n_risk"), col("d"), col("c"),
        col("survival"))
  }

  /** Restricted mean survival time — the SINGLE-NUMBER summary of a
    * [[kaplanMeier]] curve ("average time-to-churn over the first τ
    * days") and the standard effect measure when proportional hazards
    * is doubtful (a hazard ratio is uninterpretable under crossing
    * hazards; `RMST(τ) = ∫₀^τ S(t) dt` is model-free area-under-the-
    * curve in TIME UNITS, so RMST_A − RMST_B reads "days of retention
    * gained"). Per group: the step integral of the KM curve truncated
    * at `tau`, with Klein's variance
    * `Var = Σ_{events t_i ≤ τ} A_i² · d_i / (n_i (n_i − d_i))` where
    * `A_i = ∫_{t_i}^τ S(u) du` — the reverse cumulative of the SAME
    * step areas the point estimate sums.
    *
    * Engine-reproducibility: the KM survival at each step is the
    * 6-decimal-rounded value [[kaplanMeier]] publishes, i.e. an exact
    * integer of micro-units (≤ 2²⁰); each step area is that integer
    * times an exact long span — an EXACT long product (no double sum
    * ever forms), summed in decimal(38,0); `rmst = Σ/10⁶` is one
    * string-routed cast. Variance terms are fixed double expressions
    * over exact integers, pico-quantized and summed order-free (the
    * χ²-parts convention). Steps with `n_i = d_i` (the curve hits 0)
    * contribute no variance term — their factor is 0/0 and every
    * later A is 0; the estimate is unaffected.
    *
    * Returns one row per group: (group, tau, n, events, rmst, se) —
    * `se` NULL when no events fall at-or-before τ. `tau` must be
    * positive; subjects with duration ≥ τ are censored-at-τ by the
    * integral itself (their full weight is the [0,τ) area), which is
    * exactly the "restricted" contract.
    *
    * Scale: one [[kaplanMeier]] pass (corpus shuffles once), then two
    * windows and one aggregate over the group×distinct-duration
    * curve — everything after the KM aggregate is curve-sized. */
  def restrictedMean(subjects: DataFrame, groupCol: String,
      durationCol: String, observed: Column, tau: Long): DataFrame = {
    require(tau > 0L, s"tau must be positive, got $tau")
    val km = kaplanMeier(subjects, groupCol, durationCol, observed)
    val wLead = Window.partitionBy(col("group")).orderBy(col("t"))
    // running frame over the reversed order — see [[kaplanMeier]]'s
    // wRisk note (O(steps), same exact-integer sums)
    val wRev = Window.partitionBy(col("group")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tD = lit(tau)
    // step i covers [t_i, t_{i+1}) at survival S_i; the last step runs
    // to τ (S constant past the last observed time — the RMST
    // convention when τ exceeds follow-up is the caller's contract);
    // the pre-first interval [0, t_min) rides survival 1 via rn = 1
    val stepped = km
      .withColumn("__next", coalesce(lead(col("t"), 1).over(wLead), tD))
      .withColumn("__rn", row_number().over(wLead))
      // micro-unit survival: the 6-dec rounding IS an exact integer
      .withColumn("__sm",
        floor(col("survival") * 1000000.0 + 0.5).cast("long"))
      .withColumn("__span",
        greatest(least(col("__next"), tD) - least(col("t"), tD), lit(0L)))
      // exact long×long micro-area of this step; the survival-1 area
      // of [0, t_min) is kept SEPARATE (first row only) — it belongs
      // to the total but NOT to any A_i = ∫_{t_i}^τ (all t_i ≥ t_min)
      .withColumn("__area", col("__sm") * col("__span"))
      .withColumn("__pre",
        when(col("__rn") === 1, least(col("t"), tD) * 1000000L)
          .otherwise(0L))
      .withColumn("__A", sum(col("__area")).over(wRev))
    def dbl(c: Column): Column = c.cast("string").cast("double")
    // Klein variance term at EVENT steps t_i ≤ τ with n_i > d_i:
    // (A_i/1e6)² · d_i/(n_i(n_i−d_i)) — pico-quantized exact fold
    val aD = col("__A").cast("double") / 1e6
    val term = aD * aD * col("d").cast("double") /
      (col("n_risk").cast("double") *
        (col("n_risk") - col("d")).cast("double"))
    val varPart = when(col("d") > 0 && col("t") <= tD &&
        col("n_risk") > col("d"),
      floor(term * 1e12 + 0.5).cast("decimal(38,0)"))
      .otherwise(lit(0L).cast("decimal(38,0)"))
    stepped.groupBy(col("group"))
      .agg(sum(col("d") + col("c")).as("n"),
        sum(col("d")).as("events"),
        sum(when(col("d") > 0 && col("t") <= tD, col("d"))
          .otherwise(0L)).as("__ev_tau"),
        sum((col("__area") + col("__pre")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__rm"),
        sum(varPart).cast("decimal(38,0)").as("__v"))
      .select(col("group"), lit(tau).as("tau"), col("n"), col("events"),
        round(dbl(col("__rm")) / 1e6, 6).as("rmst"),
        when(col("__ev_tau") > 0,
          round(sqrt(dbl(col("__v")) / 1e12), 6)).as("se"))
  }

  /** Cox proportional-hazards regression — the covariate-adjusted
    * upgrade of [[kaplanMeier]] /
    * [[graft.operators.Retention.logRankTest]] ("which FACTORS drive
    * the hazard, holding the others fixed?"): maximize Breslow's
    * partial likelihood by Newton–Raphson, with the risk-set sums
    * `S0(t) = Σ_{t_l ≥ t} e^{xβ}`, `S1_j`, `S2_jk` computed as
    * REVERSE CUMULATIVES over the per-time aggregate table — the
    * [[kaplanMeier]] shape: the corpus shuffles once per iteration
    * into a distinct-duration table (durations cast to long buckets,
    * the same granularity contract as the KM curve), and the window
    * runs over that curve-sized table, never over subjects.
    *
    * Per Newton iteration (fixed `iters` = 8 — far past convergence
    * for this concave problem; no data-dependent stopping): one
    * per-time aggregate of quantized `e^{xβ}`-weighted moments (the
    * linear predictor is CLAMPED at ±20 before exp — the standard
    * overflow safeguard, documented; keep features at moderate scale,
    * |x| ≲ 1e4), reverse-cumulative windows, one quantized
    * gradient/Hessian fold to the driver (d + d(d+1)/2 + d doubles —
    * model-sized), and a (d×d) [[graft.operators.Regression]] solve.
    *
    * Returns one row per feature: (term, coef, hazard_ratio, std_err,
    * z, p_value, n, n_events) — `hazard_ratio = e^coef`, standard
    * errors from the inverse of the final Hessian, the two-sided
    * normal tail via the house erfc polynomial (driver arithmetic,
    * fixed sequence). All-NULL estimates when the Hessian is singular
    * (a constant or collinear feature) or there are no events.
    *
    * Ties: Breslow (the risk set at t includes every subject with
    * `t_l ≥ t`, tied events share the same denominator) — the
    * convention of the big survival packages' default-adjacent
    * option, stated here because Efron ties differ. */
  def coxPh(df: DataFrame, durationCol: String, observed: Column,
      features: Seq[(String, Column)], iters: Int = 8): DataFrame = {
    require(features.nonEmpty && features.size <= 8,
      s"coxPh supports 1..8 features, got ${features.size}")
    require(iters >= 1 && iters <= 32,
      s"iters must be in [1,32], got $iters")
    val spark = df.sparkSession
    val d = features.size
    val finite = (c: Column) =>
      c.isNotNull && !isnan(c) && abs(c) < lit(Double.PositiveInfinity)
    val base = df
      .select((col(durationCol).cast("long").as("__t") +:
        observed.cast("boolean").as("__e") +:
        features.zipWithIndex.map { case ((_, c), j) =>
          c.cast("double").as(s"__xm$j") }): _*)
      .filter(features.indices.map(j => finite(col(s"__xm$j")))
        .foldLeft(col("__t").isNotNull && col("__t") >= 0 &&
          col("__e").isNotNull)(_ && _))
      .select((col("__t") +: col("__e") +:
        features.indices.map(j =>
          (floor(col(s"__xm$j") * 1000000.0 + 0.5) / 1000000.0)
            .as(s"__x$j"))): _*)
      // spread checkpoint: the plain checkpoint freezes the
      // AQE-coalesced (often single-partition) layout of the upstream
      // join, and every Newton iteration's exp + quantized-moment pass
      // — the fit's dominant per-row work — runs single-threaded. The
      // moments are exact decimals, so the layout cannot change them.
      .transform(CheckpointOps.spread)
    val counts = base.agg(count(lit(1)).as("n"),
      sum(when(col("__e"), 1L).otherwise(0L)).as("ne")).collect()(0)
    val (n, nEvents) = (counts.getLong(0), counts.getLong(1))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("coef",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("hazard_ratio",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("std_err",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("z",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("p_value",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_events",
        org.apache.spark.sql.types.LongType, nullable = false)))
    def nullRows() = features.map { case (name, _) =>
      org.apache.spark.sql.Row(name, null, null, null, null, null,
        n, nEvents) }
    if (nEvents == 0L)
      return spark.createDataFrame(
        spark.sparkContext.parallelize(nullRows(), 1), schema)

    var beta = new Array[Double](d)
    var lastInv: Option[Array[Array[Double]]] = None
    var singular = false
    var it = 0
    while (it < iters && !singular) {
      // clamped linear predictor and its exp, per row. The CURRENT
      // beta rides a broadcast ONE-ROW table instead of plan literals:
      // literal betas make every Newton iteration a textually new plan
      // (fresh whole-stage-codegen compilation per iteration — the
      // dominant cost of the fit at bench scale); as broadcast DATA
      // the eight iterations share one compiled plan shape and only
      // the tiny broadcast changes. The arithmetic is unchanged
      // (same multiply/add sequence on the same doubles), so results
      // are bit-identical.
      val betaRow = broadcast(spark.range(1).select(
        features.indices.map(j => lit(beta(j)).as(s"__b$j")): _*))
      val xb = features.indices
        .map(j => col(s"__x$j") * col(s"__b$j"))
        .reduceOption(_ + _).getOrElse(lit(0.0))
      val r = exp(least(greatest(xb, lit(-20.0)), lit(20.0)))
      def q6(c: Column): Column =
        sum(floor(c * 1e6 + 0.5).cast("decimal(38,0)"))
          .cast("decimal(38,0)")
      def q3(c: Column): Column =
        sum(floor(c * 1e3 + 0.5).cast("decimal(38,0)"))
          .cast("decimal(38,0)")
      val aggCols: Seq[Column] =
        Seq(sum(when(col("__e"), 1L).otherwise(0L)).as("__de"),
          q6(r).as("__s0")) ++
        features.indices.map(j =>
          q6(when(col("__e"), col(s"__x$j")).otherwise(lit(0.0)))
            .as(s"__ex$j")) ++
        features.indices.map(j => q6(r * col(s"__x$j")).as(s"__s1_$j")) ++
        (for (j <- 0 until d; k <- j until d) yield
          q3(r * col(s"__x$j") * col(s"__x$k")).as(s"__s2_${j}_$k"))
      val perTime = base.crossJoin(betaRow).groupBy(col("__t"))
        .agg(aggCols.head, aggCols.tail: _*)
      // reverse cumulatives over the curve-sized distinct-time table —
      // as a RUNNING frame over the reversed order: the
      // (currentRow → unboundedFollowing) frame is recomputed from
      // scratch per row (O(steps²) decimal adds PER ITERATION, the
      // fit's former hot spot); the reversed prefix frame is O(steps)
      // and the exact decimal sums are identical (__t is distinct)
      val wRisk = Window.orderBy(col("__t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = perTime.select(
        (Seq(col("__t"), col("__de")) ++
          features.indices.map(j => col(s"__ex$j")) ++
          Seq(sum(col("__s0")).over(wRisk).as("__S0")) ++
          features.indices.map(j =>
            sum(col(s"__s1_$j")).over(wRisk).as(s"__S1_$j")) ++
          (for (j <- 0 until d; k <- j until d) yield
            sum(col(s"__s2_${j}_$k")).over(wRisk).as(s"__S2_${j}_$k"))
        ): _*)
        .filter(col("__de") > 0)
      def dbl(c: Column): Column = c.cast("string").cast("double")
      val deD = col("__de").cast("double")
      val s0 = dbl(col("__S0")) / 1e6
      def s1(j: Int) = dbl(col(s"__S1_$j")) / 1e6
      def s2(j: Int, k: Int) = {
        val (a, b) = if (j <= k) (j, k) else (k, j)
        dbl(col(s"__S2_${a}_$b")) / 1e3
      }
      def qf(c: Column): Column =
        sum(floor(c * 1e9 + 0.5).cast("decimal(38,0)"))
          .cast("decimal(38,0)")
      val folds: Seq[Column] =
        features.indices.map(j =>
          qf(dbl(col(s"__ex$j")) / 1e6 - deD * s1(j) / s0)
            .as(s"__g$j")) ++
        (for (j <- 0 until d; k <- j until d) yield
          qf(deD * (s2(j, k) / s0 - (s1(j) / s0) * (s1(k) / s0)))
            .as(s"__h_${j}_$k"))
      val row = cum.agg(folds.head, folds.tail: _*).collect()(0)
      def v(name: String): Double = {
        val x = row.get(row.fieldIndex(name))
        if (x == null) 0.0
        else x.asInstanceOf[java.math.BigDecimal].doubleValue() / 1e9
      }
      val grad = Array.tabulate(d)(j => v(s"__g$j"))
      val hess = Array.ofDim[Double](d, d)
      for (j <- 0 until d; k <- j until d) {
        hess(j)(k) = v(s"__h_${j}_$k")
        hess(k)(j) = hess(j)(k)
      }
      Regression.solveWithInverse(hess, grad) match {
        case None => singular = true
        case Some((step, inv)) =>
          for (j <- 0 until d) beta(j) += step(j)
          lastInv = Some(inv)
      }
      it += 1
    }
    val rows = (singular, lastInv) match {
      case (true, _) | (_, None) => nullRows()
      case (false, Some(inv)) =>
        features.zipWithIndex.map { case ((name, _), j) =>
          val se = if (inv(j)(j) > 0.0) math.sqrt(inv(j)(j)) else 0.0
          if (se > 0.0) {
            val z = beta(j) / se
            val zz = math.abs(z) / math.sqrt(2.0)
            val u = 1.0 / (1.0 + 0.3275911 * zz)
            val poly = u * (0.254829592 + u * (-0.284496736 +
              u * (1.421413741 + u * (-1.453152027 + u * 1.061405429))))
            val p = poly * math.exp(-zz * zz)
            org.apache.spark.sql.Row(name, beta(j), math.exp(beta(j)),
              se, z, p, n, nEvents)
          } else org.apache.spark.sql.Row(name, beta(j),
            math.exp(beta(j)), null, null, null, n, nEvents)
        }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}
