package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

/** A/B experiment analysis — the decision layer over [[Funnel]] /
  * [[Retention]]: per-variant conversion rates with a two-proportion
  * z-test against a control (the standard pooled-variance form).
  *
  * Engine-reproducibility: all inputs are EXACT integer counts; every
  * double expression below has one fixed evaluation order mirrored
  * token-for-token in the q160 oracle, and rounding happens once at the
  * output — so rates, lifts, and z-scores hash-match across engines
  * (same discipline as [[Anomaly]]).
  *
  * Scale: one map-side-combined count aggregate over the unit table
  * (output is variant-cardinality-sized — variants are few by
  * definition), the control row broadcasts onto it, and everything else
  * is per-row arithmetic on a tiny table.
  */
object Experiment {

  /** Per-variant report: (variant, n, conv, rate, lift, z, significant).
    * `df` is one row per EXPERIMENT UNIT (user, session, ...) with its
    * variant label and a boolean conversion flag — aggregate events to
    * units first (e.g. via [[Funnel.reach]]) so units, not events, are
    * the sample. The control row carries NULL lift/z and `significant`
    * false; a variant with degenerate pooled variance (0% or 100%
    * everywhere) gets NULL z rather than ±∞. `zCrit` defaults to the
    * two-sided 5% critical value. */
  /** χ² independence cells between two categorical columns — "is the
    * label associated with the segment?" for stratification checks,
    * label-leakage screens, and sample-ratio-mismatch audits: one row
    * per observed (a, b) cell with the observed count, the
    * independence expectation `row·col/n`, and the cell's χ²
    * contribution `(o − e)²/e`. Sum `chi2_part` against χ² critical
    * values at (|A|−1)(|B|−1) dof; large cells localize the
    * association. Parts are emitted per cell rather than pre-summed:
    * every part is a fixed double expression over exact integers
    * (engine-bit-identical), while a cross-cell double SUM would be
    * order-dependent — the [[graft.operators.Expectations]] MI/PSI
    * convention.
    *
    * Scale: one (a, b) cells aggregate with map-side combine, then
    * category-sized marginal joins + a broadcast total. */
  def chiSquareCells(df: DataFrame, labelACol: String,
      labelBCol: String): DataFrame = {
    val d19 = "decimal(19,0)"
    val cells = df
      .filter(col(labelACol).isNotNull && col(labelBCol).isNotNull)
      .groupBy(col(labelACol).as("a"), col(labelBCol).as("b"))
      .agg(count(lit(1)).as("n"))
    val rowM = cells.groupBy(col("a"))
      .agg(sum(col("n")).cast(d19).as("__ra"))
    val colM = cells.groupBy(col("b"))
      .agg(sum(col("n")).cast(d19).as("__cb"))
    val total = cells.agg(sum(col("n")).cast(d19).as("__nn"))
    val e = (col("__ra") * col("__cb")).cast("double") /
      col("__nn").cast("double")
    val oD = col("n").cast("double")
    cells.join(rowM, Seq("a")).join(colM, Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("n"),
        e.as("expected"),
        ((oD - e) * (oD - e) / e).as("chi2_part"))
  }

  /** Cohen's κ between two categorical labelings of the same rows —
    * the inter-annotator (or model-vs-gold) agreement statistic every
    * labeled-training-data pipeline gates on: observed agreement
    * corrected for the agreement two independent raters would reach by
    * chance from their own label marginals. κ = 1 perfect, 0 chance,
    * < 0 worse than chance. Rows where either label is NULL are
    * excluded (count them upstream — missingness is its own metric).
    *
    * Numerics: with Σd = matching rows and S = Σ_k row_k·col_k (the
    * marginal product over categories), κ = (n·Σd − S)/(n² − S) —
    * numerator and denominator are EXACT integers carried in
    * DECIMAL(19/38,0), so κ, `observed_agreement` (Σd/n) and
    * `expected_agreement` (S/n²) are each ONE double division of exact
    * operands: engine-bit-identical, no rounding. κ is NULL when
    * n² = S (both raters constant — chance agreement is total).
    *
    * Scale: one (labelA, labelB) count aggregate (map-side combinable
    * to |A|·|B| partials), then category-sized marginal joins. */
  def cohenKappa(df: DataFrame, labelACol: String, labelBCol: String)
      : DataFrame = {
    val d19 = "decimal(19,0)"
    val cells = df
      .filter(col(labelACol).isNotNull && col(labelBCol).isNotNull)
      .groupBy(col(labelACol).as("__a"), col(labelBCol).as("__b"))
      .agg(count(lit(1)).as("__n"))
    val rowM = cells.groupBy(col("__a"))
      .agg(sum(col("__n")).cast(d19).as("__ra"))
    val colM = cells.groupBy(col("__b"))
      .agg(sum(col("__n")).cast(d19).as("__cb"))
    // S = Σ_k row_k·col_k over the SHARED category axis (a category
    // one rater never uses has marginal 0 on that side — inner join)
    val s = rowM.join(colM, col("__a") === col("__b"))
      .agg(coalesce(sum(col("__ra") * col("__cb")), lit(0))
        .cast("decimal(38,0)").as("__s"))
    val agg = cells.agg(
      sum(col("__n")).cast(d19).as("__nn"),
      sum(when(col("__a") === col("__b"), col("__n")).otherwise(0L))
        .cast(d19).as("__d"))
    agg.crossJoin(broadcast(s))
      .select(col("__nn").cast("bigint").as("n"),
        (col("__d").cast("double") / col("__nn").cast("double"))
          .as("observed_agreement"),
        (col("__s").cast("double") /
          (col("__nn") * col("__nn")).cast("double"))
          .as("expected_agreement"),
        when(col("__nn") * col("__nn") === col("__s"),
            lit(null).cast("double"))
          .otherwise((col("__nn") * col("__d") - col("__s")).cast("double") /
            (col("__nn") * col("__nn") - col("__s")).cast("double"))
          .as("kappa"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) test between two groups of a
    * numeric metric — the nonparametric A/B companion of [[abTest]]:
    * where abTest compares conversion PROPORTIONS, this asks whether
    * one group's VALUES stochastically dominate the other's, robust to
    * outliers and any monotone transform (revenue, latency, scores).
    * Returns one row (n_a, n_b, u_a, z): `u_a` counts (a, b) pairs
    * where A wins (ties half), `z` is the tie-corrected normal
    * approximation, positive when group A tends larger; NULL z when a
    * group is empty or all values tie.
    *
    * Numerics: midranks make every statistic a half-integer, so the
    * whole computation runs on EXACT integers — `2R_A = Σ_v
    * n_A(v)·(2·cumBefore(v) + n_t(v) + 1)`, `2U_A = 2R_A −
    * n_A(n_A+1)`, and the tie-corrected variance `4σ² = n_A·n_B·
    * ((n+1)·n·(n−1) − Σ(t³−t)) / (3·n·(n−1))` — all in
    * DECIMAL(19/38,0); `z = (2U_A − n_A·n_B)/√(4σ²)` is a fixed
    * double expression over those exact operands.
    *
    * Scale shape: one value-keyed count aggregate collapses the rows to
    * distinct values; the global exclusive cumulative count runs
    * DISTRIBUTED (range repartition + per-bucket windows + broadcast
    * bucket offsets — [[graft.operators.Expectations.exactQuantiles]]'
    * machinery); the finale is one map-side-combinable aggregate. */
  def rankSumTest(df: DataFrame, value: Column, groupA: Column,
      buckets: Int = 64): DataFrame = {
    val d19 = "decimal(19,0)"
    val d12 = "decimal(12,0)"
    val byValue = df
      .select(value.cast("double").as("__v"), groupA.as("__ga"))
      .filter(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__ga").isNotNull)
      .groupBy(col("__v"))
      .agg(sum(when(col("__ga"), 1L).otherwise(0L)).as("__na"),
        count(lit(1)).as("__nt"))
    val ranged = byValue
      .repartitionByRange(buckets, col("__v"))
      .withColumn("__b", spark_partition_id())
      // bucket ids must not re-randomize
      .transform(CheckpointOps(_, eager = false))
    val offs = ranged.groupBy(col("__b"))
      .agg(sum(col("__nt")).as("__tt"))
      .select(col("__b"),
        coalesce(sum(col("__tt")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("__off"))
    val wB = Window.partitionBy(col("__b")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cums = ranged.join(broadcast(offs), Seq("__b"))
      .select(col("__na"), col("__nt"),
        (col("__off") + coalesce(sum(col("__nt")).over(wB), lit(0L)))
          .cast(d19).as("__cb"))
    // every decimal PRODUCT keeps p1+p2 ≤ 38 (DuckDB's hard multiply
    // budget): narrow casts before cubes, squares spelled a·a + a
    val s = cums.agg(
      sum(col("__na")).cast(d19).as("__sna"),
      sum(col("__nt") - col("__na")).cast(d19).as("__snb"),
      sum(col("__na").cast(d19) *
          (col("__cb") + col("__cb") + col("__nt").cast(d19) + 1)
            .cast(d19))
        .cast("decimal(38,0)").as("__r2a"),
      // __t3 sized (38,0) like kruskalWallis': a d19 cap would NULL the
      // tie sum past ~2.15M-way ties and silently null z at scale
      sum(col("__nt").cast(d12) * col("__nt").cast(d12) *
          col("__nt").cast(d12) - col("__nt").cast(d12))
        .cast("decimal(38,0)").as("__t3"))
    val n12 = (col("__sna") + col("__snb")).cast(d12)
    val cubic = ((n12 + 1) * n12).cast("decimal(25,0)") * (n12 - 1)
    val u2 = col("__r2a") -
      (col("__sna") * col("__sna") + col("__sna"))
    val p = col("__sna") * col("__snb") // 19+19 = 38 ✓
    s.select(
      col("__sna").cast("bigint").as("n_a"),
      col("__snb").cast("bigint").as("n_b"),
      (u2.cast("double") / 2.0).as("u_a"),
      when(col("__sna") === 0 || col("__snb") === 0 ||
          (cubic - col("__t3")) === 0, lit(null).cast("double"))
        .otherwise(
          (u2 - p).cast("double") /
          sqrt(
            // 4σ² = p·(cubic − T)/(3n(n−1)): the full product needs
            // ~50 decimal digits, so the exact factors cast to double
            // separately — fixed expression order both engines
            p.cast("double") * (cubic - col("__t3")).cast("double") /
            (lit(3.0) * n12.cast("double") * (n12 - 1).cast("double"))))
        .as("z"))
  }

  /** Kruskal–Wallis H test — the k-group generalization of
    * [[rankSumTest]]: "does at least one group's metric distribution
    * sit higher than the others?" across ANY number of variants
    * (priority tiers, device classes, arms of a multi-cell test),
    * robust to outliers and monotone transforms exactly like the
    * two-group rank-sum. Returns one row: (k, n, h, h_tie_corrected,
    * dof, p_value) — `h` is the raw statistic, `h_tie_corrected`
    * divides by the tie correction `1 − Σ(t³−t)/(n³−n)`, and the
    * p-value is the χ²(k−1) upper tail via the Wilson–Hilferty
    * cube-root normal approximation on the A&S erfc polynomial (the
    * [[graft.operators.Expectations.chiSquareIndependence]]
    * convention). NULL h/p when k < 2 or all values tie.
    *
    * Numerics: midranks keep every per-group rank sum a half-integer,
    * so `2R_g = Σ_v n_g(v)·(2·cumBefore(v) + n_t(v) + 1)` folds in
    * EXACT decimals; the cross-group reduction `Σ_g (2R_g)²/(4n_g)`
    * is one double division per group, milli-quantized and summed
    * order-free (the χ² parts convention — parts here are O(n³), so
    * the quantum is 10⁻³, not pico); H and the tail are fixed double
    * expressions over those exact operands.
    *
    * Scale shape: one (value, group) count aggregate, one value-level
    * rollup, the DISTRIBUTED exclusive cumulative count
    * ([[rankSumTest]]'s range-bucket machinery), a values-sized join
    * back, and a k-row finale. */
  def kruskalWallis(df: DataFrame, value: Column, group: Column,
      buckets: Int = 64): DataFrame = {
    val d19 = "decimal(19,0)"
    val d12 = "decimal(12,0)"
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df
      .select(value.cast("double").as("__v"),
        group.cast("string").as("__g"))
      .filter(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__g").isNotNull)
    val byVG = base.groupBy(col("__v"), col("__g"))
      .agg(count(lit(1)).as("__ng"))
      // value rollup + rank join back
      .transform(CheckpointOps(_, eager = false))
    val byV = byVG.groupBy(col("__v"))
      .agg(sum(col("__ng")).as("__nt"))
    val ranged = byV
      .repartitionByRange(buckets, col("__v"))
      .withColumn("__b", spark_partition_id())
      // bucket ids must not re-randomize
      .transform(CheckpointOps(_, eager = false))
    val offs = ranged.groupBy(col("__b"))
      .agg(sum(col("__nt")).as("__tt"))
      .select(col("__b"),
        coalesce(sum(col("__tt")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("__off"))
    val wB = Window.partitionBy(col("__b")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cums = ranged.join(broadcast(offs), Seq("__b"))
      .select(col("__v"), col("__nt"),
        (col("__off") + coalesce(sum(col("__nt")).over(wB), lit(0L)))
          .cast(d19).as("__cb"))
      .transform(CheckpointOps(_, eager = false)) // group join + tie totals
    // per group: exact n_g and 2R_g (cb + cb + nt + 1 stays in d19 —
    // ranks are ≤ n; the product against n_g needs the wide cast)
    val perG = byVG.join(cums, Seq("__v"))
      .groupBy(col("__g"))
      .agg(sum(col("__ng")).cast(d19).as("__n_g"),
        sum((col("__ng").cast(d19) *
            (col("__cb") + col("__cb") + col("__nt").cast(d19) + 1)
              .cast(d19)).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__r2"))
    // __t3 sized like the adjacent `cubic` (38,0): a d19 cap would NULL
    // the tie sum (ANSI: error) past n ~ 2.15M heavily-tied rows while
    // h stayed populated — silently dropping the correction at scale
    val ties = cums.agg(
      sum(col("__nt")).cast(d12).as("__n"),
      sum(col("__nt").cast(d12) * col("__nt").cast(d12) *
          col("__nt").cast(d12) - col("__nt").cast(d12))
        .cast("decimal(38,0)").as("__t3"))
    // Σ_g (2R_g)²/(4n_g): one double division per group, quantized at
    // 10⁻³ (parts reach ~n³/4 — pico would overflow decimal(38)) and
    // summed order-free
    val part = dbl(col("__r2")) * dbl(col("__r2")) /
      (lit(4.0) * dbl(col("__n_g")))
    val s = perG.agg(
      count(lit(1)).as("k"),
      sum(floor(part * lit(1000.0) + 0.5).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("__q"))
    val out = s.crossJoin(broadcast(ties))
    val nD = dbl(col("__n"))
    val cubic = (((col("__n") + 1) * col("__n")).cast("decimal(25,0)") *
      (col("__n") - 1)).cast("decimal(38,0)")
    val h = lit(12.0) / (nD * (nD + 1.0)) *
      (dbl(col("__q")) / 1000.0) - lit(3.0) * (nD + 1.0)
    val tieC = lit(1.0) - dbl(col("__t3")) / dbl(cubic)
    val hAdj = h / tieC
    val kD = (col("k") - 1).cast("double")
    // Wilson–Hilferty + A&S erfc upper tail at dof = k−1 (the
    // chiSquareIndependence block, token for token)
    val z = (cbrt(hAdj / kD) - (lit(1.0) - lit(2.0) / (lit(9.0) * kD))) /
      sqrt(lit(2.0) / (lit(9.0) * kD))
    val zz = abs(z) / lit(math.sqrt(2.0))
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * zz)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) +
        u * lit(1.061405429)))))
    val halfErfc = poly * exp(-zz * zz) / 2.0
    val p = when(z >= 0, halfErfc).otherwise(lit(1.0) - halfErfc)
    val valid = col("k") > 1 && col("__n") > 1 && cubic =!= col("__t3")
    out.select(col("k"),
      col("__n").cast("bigint").as("n"),
      when(valid, h).as("h"),
      when(valid, hAdj).as("h_tie_corrected"),
      (col("k") - 1).cast("long").as("dof"),
      when(valid, p).as("p_value"))
  }

  /** Post-stratification estimator per variant — the design-based
    * variance-reduction sibling of [[cuped]]: reweight each variant's
    * stratum means to the POOLED stratum mix `W_s = n_s/n`, so a
    * variant that landed stratum-skewed (mobile-heavy, one region
    * over-sampled) is corrected to the population composition before
    * variants are compared. Returns one row per variant: (variant, n,
    * strata_total, strata_covered, raw_mean, ps_mean, ps_se) —
    * `ps_mean = Σ_s W_s·ȳ_vs` (NULL unless the variant covers every
    * pooled stratum — a missing cell has no unbiased fill-in) and
    * `ps_se = √(Σ_s W_s²·s²_vs/n_vs)` (NULL unless every covered
    * stratum has n_vs ≥ 2).
    *
    * Numerics: the metric folds as exact `floor(v·10⁶+0.5)`
    * micro-integers with exact (n, Σy, Σy²) per (variant, stratum)
    * ([[welchTTest]]'s convention); each stratum's mean/variance term
    * is a fixed double expression over exact integers, pico-quantized
    * and summed order-free across strata (the χ² parts convention).
    *
    * Scale: ONE (variant, stratum) aggregate (map-side combined), a
    * strata-sized broadcast join for the pooled weights, and a
    * variant-keyed finale — no unit-table second pass. */
  def postStratify(df: DataFrame, variantCol: String, metric: Column,
      stratumCol: String): DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df
      .select(col(variantCol).as("variant"),
        col(stratumCol).cast("string").as("__s"),
        metric.cast("double").as("__ym"))
      .filter(col("variant").isNotNull && col("__s").isNotNull &&
        col("__ym").isNotNull && !isnan(col("__ym")) &&
        abs(col("__ym")) < lit(Double.PositiveInfinity))
      .select(col("variant"), col("__s"),
        floor(col("__ym") * 1000000.0 + 0.5).cast("long").as("__y"))
    val perVS = base.groupBy(col("variant"), col("__s"))
      .agg(count(lit(1)).as("__nvs"),
        sum(d19(col("__y"))).cast("decimal(28,0)").as("__sy"),
        sum((d19(col("__y")) * d19(col("__y"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__syy"))
      // pooled weights + variant finale
      .transform(CheckpointOps(_, eager = false))
    val perS = perVS.groupBy(col("__s"))
      .agg(sum(col("__nvs")).cast("decimal(19,0)").as("__ns"))
    val tot = perS.agg(sum(col("__ns")).cast("decimal(19,0)").as("__n"),
      count(lit(1)).as("strata_total"))
    val nvsD = col("__nvs").cast("double")
    // W_s·ȳ_vs  = (n_s·Σy_vs) / (n·n_vs·10⁶): exact operands, one
    // fixed double expression, pico-quantized for the order-free sum
    val meanPart = dbl(col("__ns")) * dbl(col("__sy")) /
      (dbl(col("__n")) * nvsD * 1000000.0)
    // W_s²·s²_vs/n_vs with s²_vs = (n_vs·Σyy − Σy²)/(n_vs(n_vs−1))/10¹²
    val varVs = (nvsD * dbl(col("__syy")) - dbl(col("__sy")) * dbl(col("__sy"))) /
      (nvsD * (nvsD - 1.0) * 1.0e12)
    val varPart = dbl(col("__ns")) * dbl(col("__ns")) * varVs /
      (dbl(col("__n")) * dbl(col("__n")) * nvsD)
    val perV = perVS.join(broadcast(perS), Seq("__s"))
      .crossJoin(broadcast(tot))
      .groupBy(col("variant"))
      .agg(sum(col("__nvs")).as("n"),
        max(col("strata_total")).as("strata_total"),
        max(col("__n")).as("__nn"),
        count(lit(1)).as("strata_covered"),
        sum(when(col("__nvs") > 1, 1L).otherwise(0L)).as("__var_ok"),
        sum(col("__sy")).cast("decimal(28,0)").as("__syv"),
        sum(floor(round(meanPart, 9) * lit(1000000000000.0) + 0.5)
          .cast("decimal(28,0)")).cast("decimal(28,0)").as("__mq"),
        sum(when(col("__nvs") > 1,
            floor(round(varPart, 9) * lit(1000000000000.0) + 0.5)
              .cast("decimal(28,0)")))
          .cast("decimal(28,0)").as("__vq"))
    perV.select(col("variant"), col("n"), col("strata_total"),
      col("strata_covered"),
      (dbl(col("__syv")) / (col("n").cast("double") * 1000000.0))
        .as("raw_mean"),
      when(col("strata_covered") === col("strata_total"),
        dbl(col("__mq")) / 1.0e12).as("ps_mean"),
      when(col("strata_covered") === col("strata_total") &&
          col("__var_ok") === col("strata_covered"),
        sqrt(dbl(col("__vq")) / 1.0e12)).as("ps_se"))
  }

  /** Cochran–Mantel–Haenszel test — the stratified 2×2 association
    * test that is SAFE under Simpson's paradox (a marginal 2×2 χ² can
    * reverse sign when strata mix shifts; CMH conditions on each
    * stratum): per stratum, `E_i = r1·c1/n`, `V_i = r1·r2·c1·c2 /
    * (n²(n−1))`, and `CMH = (|Σa − ΣE| − ½)²/ΣV` (continuity-corrected;
    * `continuity = false` for the raw form) against χ²₁, plus the
    * Mantel–Haenszel common odds ratio `Σ(a·d/n)/Σ(b·c/n)`. The
    * multi-site experiment / segmented-funnel readout. Returns ONE
    * row: (strata, n, sum_a, sum_e, var_sum, cmh_chi2, p_value,
    * mh_odds_ratio); single-row strata (n ≤ 1) are excluded (V
    * undefined); NULL statistics when ΣV = 0.
    *
    * Numerics: the four cells per stratum are exact integers from ONE
    * aggregate; E, V, and the OR terms are fixed double expressions
    * per stratum, pico-quantized and summed order-free (the χ² parts
    * convention); the dof-1 tail is the direct erfc at √χ².
    *
    * Scale: one (stratum)-keyed aggregate with map-side combine +
    * a 1-row finale — strata-sized intermediates only. */
  def cmhTest(df: DataFrame, stratumCol: String, exposed: Column,
      outcome: Column, continuity: Boolean = true): DataFrame = {
    def dbl(c: Column): Column = c.cast("string").cast("double")
    def q(c: Column): Column =
      floor(round(c, 9) * lit(1000000000000.0) + 0.5)
        .cast("decimal(28,0)")
    val base = df.select(col(stratumCol).cast("string").as("__s"),
        exposed.cast("boolean").as("__e"),
        outcome.cast("boolean").as("__o"))
      .filter(col("__s").isNotNull && col("__e").isNotNull &&
        col("__o").isNotNull)
    val cells = base.groupBy(col("__s")).agg(
      sum(when(col("__e") && col("__o"), 1L).otherwise(0L)).as("__a"),
      sum(when(col("__e") && !col("__o"), 1L).otherwise(0L)).as("__b"),
      sum(when(!col("__e") && col("__o"), 1L).otherwise(0L)).as("__c"),
      sum(when(!col("__e") && !col("__o"), 1L).otherwise(0L)).as("__d"))
      .filter(col("__a") + col("__b") + col("__c") + col("__d") > 1L)
    val nI = (col("__a") + col("__b") + col("__c") + col("__d"))
      .cast("double")
    val r1 = (col("__a") + col("__b")).cast("double")
    val r2 = (col("__c") + col("__d")).cast("double")
    val c1 = (col("__a") + col("__c")).cast("double")
    val c2 = (col("__b") + col("__d")).cast("double")
    val e = r1 * c1 / nI
    val v = r1 * r2 * c1 * c2 / (nI * nI * (nI - 1.0))
    val orNum = col("__a").cast("double") * col("__d").cast("double") / nI
    val orDen = col("__b").cast("double") * col("__c").cast("double") / nI
    val s = cells.agg(count(lit(1)).as("strata"),
      sum(col("__a") + col("__b") + col("__c") + col("__d")).as("n"),
      sum(col("__a")).as("sum_a"),
      sum(q(e)).cast("decimal(28,0)").as("__eq"),
      sum(q(v)).cast("decimal(28,0)").as("__vq"),
      sum(q(orNum)).cast("decimal(28,0)").as("__onq"),
      sum(q(orDen)).cast("decimal(28,0)").as("__odq"))
    val sumE = dbl(col("__eq")) / 1.0e12
    val varS = dbl(col("__vq")) / 1.0e12
    val diff = abs(col("sum_a").cast("double") - sumE)
    val adj = if (continuity) greatest(diff - 0.5, lit(0.0)) else diff
    val chi2 = adj * adj / varS
    val z = sqrt(chi2) / lit(math.sqrt(2.0))
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * z)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) +
        u * lit(1.061405429)))))
    val p = poly * exp(-z * z)
    s.select(col("strata"), col("n"), col("sum_a"),
      sumE.as("sum_e"), varS.as("var_sum"),
      when(varS > 0.0, chi2).as("cmh_chi2"),
      when(varS > 0.0, p).as("p_value"),
      when(dbl(col("__odq")) > 0.0,
        dbl(col("__onq")) / dbl(col("__odq"))).as("mh_odds_ratio"))
  }

  /** Contingency effect sizes — the "how strong", where
    * [[graft.operators.Expectations.chiSquareIndependence]] answers
    * "how unlikely": Cramér's V (`√(χ²/(n·min(r−1, c−1)))`, the
    * size-free association strength comparable across tables), and
    * for 2×2 tables the odds ratio with its Woolf log-interval
    * `ln OR ± z·√(1/a+1/b+1/c+1/d)`. Returns ONE row: (n, rows, cols,
    * chi2, cramers_v, odds_ratio, or_ci_lo, or_ci_hi) — OR columns
    * NULL for non-2×2 tables or any empty cell (Woolf's SE is
    * undefined there).
    *
    * Numerics: the χ² sum is the q330 machinery (same cells, same
    * pico-quantized parts) PLUS the structurally-zero-cell complement
    * `(n² − Σ_obs r_i·c_j)/n` — every absent cell contributes its full
    * expected count to Pearson's χ², computed EXACTLY from the integer
    * marginals (0.0 to the bit when no cell is empty), so V stays
    * comparable across tables with different sparsity; OR and its
    * interval are fixed double expressions over the four exact cells.
    *
    * Scale: the q330 aggregates + a 4-value conditional aggregate over
    * the report-sized cell table. */
  def contingencyEffects(df: DataFrame, colA: Column, colB: Column,
      zCrit: Double = 1.959964): DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df.select(colA.cast("string").as("__a"),
        colB.cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .transform(CheckpointOps(_, eager = false)) // cells + marginals
    val cells = base.groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__o"))
      .transform(CheckpointOps(_, eager = false)) // chi2 parts + the 2x2 pick
    val ra = base.groupBy(col("__a")).agg(count(lit(1)).as("__ra"))
    val cb = base.groupBy(col("__b")).agg(count(lit(1)).as("__cb"))
    val tot = base.agg(count(lit(1)).as("__n"),
      countDistinct(col("__a")).as("rows"),
      countDistinct(col("__b")).as("cols"))
    val nO = (d19(col("__n")) * d19(col("__o"))).cast("decimal(38,0)")
    val rc = (d19(col("__ra")) * d19(col("__cb"))).cast("decimal(38,0)")
    val diff = dbl(nO - rc)
    val part = diff * diff /
      (col("__n").cast("double") * dbl(rc))
    val chi2sum = cells
      .join(ra, Seq("__a")).join(cb, Seq("__b"))
      .crossJoin(broadcast(tot))
      .agg(sum(floor(round(part, 9) * lit(1000000000000.0) + 0.5)
        .cast("decimal(28,0)")).cast("decimal(28,0)").as("__x"),
        // Σ r_i·c_j over OBSERVED cells, exact decimal — backs the
        // structurally-zero-cell complement below
        sum(rc).cast("decimal(38,0)").as("__rc"))
    val nD = col("__n").cast("double")
    // Structurally-zero cells contribute (0−E)²/E = E = r_i·c_j/n to
    // Pearson's χ² and MUST be counted (unlike the G-test, where a zero
    // cell's O·ln(O/E) term is exactly 0): Σ_all r_i·c_j = n², so the
    // missing mass is (n² − Σ_observed r_i·c_j)/n — EXACT integer
    // decimals up to the single final division, and exactly 0.0 when
    // every cell is populated (the quantized observed sum is untouched).
    // Without it, χ² and Cramér's V bias low on any table with empty
    // cells — breaking V's "comparable across tables" contract.
    val missingMass =
      dbl((d19(col("__n")) * d19(col("__n"))).cast("decimal(38,0)") -
        col("__rc")) / nD
    val x = col("__x").cast("string").cast("double") / 1.0e12 + missingMass
    val minDim = least(col("rows"), col("cols")) - 1
    val v = sqrt(x / (nD * minDim.cast("double")))
    // 2x2 odds ratio: pivot the four cells with deterministic labels
    val pivoted = cells
      .withColumn("__ra2", dense_rank().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("__a"))))
      .withColumn("__cb2", dense_rank().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("__b"))))
      .agg(
        sum(when(col("__ra2") === 1 && col("__cb2") === 1, col("__o"))
          .otherwise(0L)).as("__ca"),
        sum(when(col("__ra2") === 1 && col("__cb2") === 2, col("__o"))
          .otherwise(0L)).as("__cbb"),
        sum(when(col("__ra2") === 2 && col("__cb2") === 1, col("__o"))
          .otherwise(0L)).as("__cc"),
        sum(when(col("__ra2") === 2 && col("__cb2") === 2, col("__o"))
          .otherwise(0L)).as("__cd"))
    val is2x2 = col("rows") === 2 && col("cols") === 2
    val allPos = col("__ca") > 0 && col("__cbb") > 0 &&
      col("__cc") > 0 && col("__cd") > 0
    val orV = col("__ca").cast("double") * col("__cd").cast("double") /
      (col("__cbb").cast("double") * col("__cc").cast("double"))
    val se = sqrt(lit(1.0) / col("__ca").cast("double") +
      lit(1.0) / col("__cbb").cast("double") +
      lit(1.0) / col("__cc").cast("double") +
      lit(1.0) / col("__cd").cast("double"))
    tot.crossJoin(broadcast(chi2sum)).crossJoin(broadcast(pivoted))
      .select(col("__n").as("n"), col("rows"), col("cols"),
        round(x, 9).as("chi2"),
        when(minDim > 0, v).as("cramers_v"),
        when(is2x2 && allPos, orV).as("odds_ratio"),
        when(is2x2 && allPos, exp(log(orV) - lit(zCrit) * se))
          .as("or_ci_lo"),
        when(is2x2 && allPos, exp(log(orV) + lit(zCrit) * se))
          .as("or_ci_hi"))
  }

  /** Bradley–Terry preference scores — the model-ranking fit over
    * pairwise preference data (human A/B judgments, LLM-judge
    * battles): MLE of `P(i beats j) = p_i/(p_i + p_j)` by the
    * classic MM iteration (Hunter 2004) `p_i ← W_i / Σ_j n_ij/(p_i +
    * p_j)`, run to `iterations` fixed steps on the DRIVER over the
    * variant-pair count matrix (the model-fit collect class: variants
    * are few by definition — capped at `maxVariants`, enforced IN-PLAN
    * before the collect so an over-cap corpus never materializes its
    * pair matrix on the driver). Scores are
    * normalized to mean 1 each step (the standard identifiability
    * fix), variants iterated in sorted order so the double arithmetic
    * is one fixed sequence — identical at any partitioning. Returns
    * (variant, wins, games, bt_score, rank) ranked by (score desc,
    * variant); a variant with zero wins converges to score 0 (its MLE
    * boundary), never dividing by zero because opponents' totals keep
    * its denominator positive.
    *
    * Scale: ONE (winner, loser) count aggregate with map-side combine
    * (the corpus of judgments collapses to ≤ variants² rows);
    * everything after is driver arithmetic on that matrix. */
  def bradleyTerry(df: DataFrame, winnerCol: String, loserCol: String,
      iterations: Int = 100, maxVariants: Int = 500): DataFrame = {
    require(iterations >= 1 && iterations <= 10000,
      s"iterations must be in [1, 10000], got $iterations")
    val spark = df.sparkSession
    val agg = df
      .select(col(winnerCol).cast("string").as("__w"),
        col(loserCol).cast("string").as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l"))
      .groupBy(col("__w"), col("__l"))
      .agg(count(lit(1)).as("__n"))
    btFitToDf(spark, guardedPairCollect(agg, maxVariants),
      iterations, maxVariants)
  }

  /** Collect a (`__w`, `__l`, `__n` bigint) pair-count aggregate with the
    * `maxVariants` cardinality guard enforced IN-PLAN, BEFORE any row
    * reaches the driver: the distinct-variant count rides the same
    * cached aggregate as a broadcast 1-row guard (the `powerMde`
    * `raise_error` pattern), and the broadcast build — which fails the
    * job when the cap is exceeded — must complete before the result
    * tasks that feed the collect ever run. Feeding a per-item id column
    * by mistake therefore fails with the contract message instead of
    * materializing up to V² pair rows on the driver. Shared by
    * [[bradleyTerry]] and the streaming leaderboard read
    * (`MicroBatch.readBradleyTerry`). */
  private[graft] def guardedPairCollect(pairAgg: DataFrame,
      maxVariants: Int): Seq[(String, String, Long)] = {
    val cached = CheckpointOps(pairAgg, eager = false) // guard + collect
    val kGuard = cached
      .select(explode(array(col("__w"), col("__l"))).as("__v"))
      .agg(countDistinct(col("__v")).as("__k"))
      .select(when(col("__k") > maxVariants,
          raise_error(concat(col("__k").cast("string"),
            lit(s" variants exceed maxVariants=$maxVariants — " +
              "Bradley-Terry is a model-ranking fit, not a per-item " +
              "scorer"))).cast("bigint"))
        .otherwise(col("__k")).as("__k"))
    cached.crossJoin(broadcast(kGuard))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
  }

  /** The shared MM fit over a collected (winner, loser, count) matrix
    * — used by [[bradleyTerry]] and the streaming read lens
    * (`MicroBatch.readBradleyTerry`), so batch and stream rank
    * identically by construction. */
  private[graft] def btFitToDf(spark: org.apache.spark.sql.SparkSession,
      pairs: Seq[(String, String, Long)], iterations: Int,
      maxVariants: Int): DataFrame = {
    import spark.implicits._
    val variants = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    require(variants.length <= maxVariants,
      s"${variants.length} variants exceed maxVariants=$maxVariants — " +
        "Bradley-Terry is a model-ranking fit, not a per-item scorer")
    val idx = variants.zipWithIndex.toMap
    val k = variants.length
    val wins = Array.fill(k)(0L)
    val games = Array.ofDim[Long](k, k)
    pairs.foreach { case (w, l, n) =>
      val (i, j) = (idx(w), idx(l))
      wins(i) += n
      games(i)(j) += n
      games(j)(i) += n
    }
    var p = Array.fill(k)(1.0)
    var it = 0
    while (it < iterations) {
      val next = new Array[Double](k)
      var i = 0
      while (i < k) {
        var denom = 0.0
        var j = 0
        while (j < k) {
          if (j != i && games(i)(j) > 0L)
            denom += games(i)(j).toDouble / (p(i) + p(j))
          j += 1
        }
        next(i) = if (denom > 0.0) wins(i).toDouble / denom else 0.0
        i += 1
      }
      val mean = next.sum / k
      p = if (mean > 0.0) next.map(_ / mean) else next
      it += 1
    }
    val ranked = variants.indices
      .map(i => (variants(i), wins(i), games(i).sum, p(i)))
      .sortBy { case (v, _, _, s) => (-s, v) }
      .zipWithIndex
      .map { case ((v, w, g, s), r) => (v, w, g, s, (r + 1).toLong) }
    ranked.toDF("variant", "wins", "games", "bt_score", "rank")
      .orderBy(col("rank"))
  }

  /** UCB1 arm-allocation report — the bandit read-out over logged
    * (arm, reward) rows: per arm the exact mean reward and the
    * upper confidence bound `mean + c·√(ln N / n)` (Auer et al. 2002;
    * `c = √2` is classic UCB1), with the next-pull arm flagged
    * (largest ucb, ties to the smaller arm label). The always-explore
    * companion of [[abTest]]: where the z-test asks "is B better?",
    * UCB says "which arm do we pull NEXT given everything so far" —
    * the allocation loop a streaming experiment runs between
    * readouts. Returns (arm, n, mean, ucb, chosen); an arm needs
    * n ≥ 1 by construction (it appears only if pulled).
    *
    * Numerics: rewards fold as exact micro-integers with exact
    * decimal (n, Σ) per arm ([[welchTTest]]'s convention); mean and
    * ucb are fixed double expressions; the argmax is a window rank
    * over the arms-sized table with a total tie-break.
    *
    * Scale: ONE arm-keyed aggregate (map-side combined) + a 1-row
    * total broadcast + a window over the arms-sized result. */
  def ucbAllocation(df: DataFrame, armCol: String, reward: Column,
      c: Double = math.sqrt(2.0)): DataFrame = {
    require(c > 0.0, s"exploration constant must be positive, got $c")
    def d19(c0: Column): Column = c0.cast("decimal(19,0)")
    def dbl(c0: Column): Column = c0.cast("string").cast("double")
    val base = df
      .select(col(armCol).cast("string").as("arm"),
        reward.cast("double").as("__ym"))
      .filter(col("arm").isNotNull && col("__ym").isNotNull &&
        !isnan(col("__ym")) &&
        abs(col("__ym")) < lit(Double.PositiveInfinity))
      .select(col("arm"),
        floor(col("__ym") * 1000000.0 + 0.5).cast("long").as("__y"))
    val per = base.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"),
        sum(d19(col("__y"))).cast("decimal(28,0)").as("__s"))
    val tot = per.agg(sum(col("n")).as("__nn"))
    val mean = dbl(col("__s")) / (col("n").cast("double") * 1000000.0)
    val ucb = mean + lit(c) *
      sqrt(log(col("__nn").cast("double")) / col("n").cast("double"))
    val w = Window.orderBy(col("ucb").desc, col("arm"))
    per.crossJoin(broadcast(tot))
      .select(col("arm"), col("n"), mean.as("mean"), ucb.as("ucb"))
      .withColumn("chosen", row_number().over(w) === 1)
      .orderBy(col("arm"))
  }

  def abTest(df: DataFrame, variantCol: String, convertedCol: String,
      control: String, zCrit: Double = 1.959964): DataFrame = {
    val stats = df
      .groupBy(col(variantCol).as("variant"))
      .agg(count(lit(1)).as("n"),
        sum(col(convertedCol).cast("long")).as("conv"))
      .transform(CheckpointOps(_, eager = false)) // two consumers below
    val ctrl = stats.filter(col("variant") === control)
      .select(col("n").as("n0"), col("conv").as("c0"))
    require(!ctrl.isEmpty, s"control variant '$control' not present")
    val joined = stats.crossJoin(broadcast(ctrl))
    val rate = col("conv").cast("double") / col("n")
    val rate0 = col("c0").cast("double") / col("n0")
    val pool = (col("conv") + col("c0")).cast("double") /
      (col("n") + col("n0"))
    val se2 = pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n") + lit(1.0) / col("n0"))
    val isCtrl = col("variant") === control
    joined.select(
      col("variant"), col("n"), col("conv"),
      round(rate, 6).as("rate"),
      when(isCtrl, lit(null).cast("double"))
        .otherwise(round(rate - rate0, 6)).as("lift"),
      when(isCtrl || !(se2 > 0), lit(null).cast("double"))
        .otherwise(round((rate - rate0) / sqrt(se2), 6)).as("z"))
      .withColumn("significant", coalesce(abs(col("z")) > zCrit, lit(false)))
      .orderBy(col("variant"))
  }

  /** Wald–Wolfowitz runs test per series: is the daily metric's
    * above/below-median sequence RANDOM, or does it trend/oscillate?
    * Too few runs = regime drift (the alert ordinary thresholds miss);
    * too many = oscillation (a feedback loop fighting itself). Per
    * series: daily exact-decimal sums, the exact lower median by the
    * rank-selection rule (q228's convention — no interpolated
    * percentile drift), ties AT the median dropped (the classic form),
    * runs counted over the surviving day sequence. Returns
    * (series, n_above, n_below, runs, z) with
    * z = (R − μ)/σ, μ = 2·n₁n₂/N + 1, σ² = 2n₁n₂(2n₁n₂ − N)/(N²(N−1)) —
    * every operand an exact integer cast to double separately, the
    * combination one fixed expression (engine-bit-identical); z is
    * NULL when either side is empty or N < 2 (σ = 0).
    *
    * Scale: one (series, day) aggregate over the events; ranking,
    * median selection, and the run/lag window all act on the
    * days-sized series table. */
  def runsTest(events: DataFrame, seriesCol: String, tsCol: String,
      value: Column): DataFrame = {
    val dly = events
      .groupBy(col(seriesCol).as("series"),
        date_trunc("day", col(tsCol)).cast("date").as("bucket"))
      .agg(sum(value.cast("decimal(28,6)")).cast("decimal(16,6)")
        .as("v"))
      // median selection + the sign pass
      .transform(CheckpointOps(_, eager = false))
    val wRank = Window.partitionBy(col("series"))
      .orderBy(col("v"), col("bucket"))
    val wAll = Window.partitionBy(col("series"))
    val med = dly
      .withColumn("__rn", row_number().over(wRank))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__rn") ===
        greatest(lit(1L), ceil(lit(0.5) * col("__n")).cast("long")))
      .select(col("series"), col("v").as("__med"))
    val wSeq = Window.partitionBy(col("series")).orderBy(col("bucket"))
    dly
      .join(broadcast(med), Seq("series"))
      .filter(col("v") =!= col("__med"))
      .withColumn("__sign", col("v") > col("__med"))
      .withColumn("__new",
        when(lag(col("__sign"), 1).over(wSeq).isNull ||
          lag(col("__sign"), 1).over(wSeq) =!= col("__sign"), 1L)
          .otherwise(0L))
      .groupBy(col("series"))
      .agg(sum(when(col("__sign"), 1L).otherwise(0L)).as("n_above"),
        sum(when(col("__sign"), 0L).otherwise(1L)).as("n_below"),
        sum(col("__new")).as("runs"))
      .select(col("series"), col("n_above"), col("n_below"), col("runs"), {
        val n1 = col("n_above").cast("double")
        val n2 = col("n_below").cast("double")
        val nn = n1 + n2
        val two = lit(2.0d) * n1 * n2
        when(col("n_above") === 0 || col("n_below") === 0 ||
            col("n_above") + col("n_below") < 2, lit(null).cast("double"))
          .otherwise((col("runs").cast("double") - (two / nn + lit(1.0d))) /
            sqrt(two * (two - nn) / (nn * nn * (nn - lit(1.0d)))))
          .as("z")
      })
  }

  /** Spearman rank correlation between two numeric columns — the
    * outlier-proof monotone-association screen ("does price rise with
    * time at ALL", where Pearson chases magnitudes): ρ is Pearson over
    * MIDRANKS, and midranks over a distributed cumulative count are
    * exact half-integers, so doubling them makes every sufficient
    * statistic an exact integer under any partitioning. Returns ONE row
    * (n, rho); rho is NULL when either variable is constant.
    *
    * Midranks use [[rankSumTest]]'s distributed-rank shape — per-value
    * counts range-repartitioned with bucket prefix offsets, never a
    * single-partition window — once per variable, then the row table
    * joins its two midranks back BY VALUE (two value-keyed shuffles).
    * The five decimal sums are exact; the ρ combination casts each to
    * double via STRING (correctly rounded everywhere) and evaluates in
    * one fixed expression order. */
  def spearman(df: DataFrame, x: Column, y: Column,
      buckets: Int = 64): DataFrame = {
    val d19 = "decimal(19,0)"
    val pts = df
      .select(x.cast("double").as("__x"), y.cast("double").as("__y"))
      .filter(col("__x").isNotNull && !isnan(col("__x")) &&
        col("__y").isNotNull && !isnan(col("__y")))
      // two rank passes + the join-back
      .transform(CheckpointOps(_, eager = false))
    def midrank2(vcol: String): DataFrame = {
      val byValue = pts.groupBy(col(vcol).as("__v"))
        .agg(count(lit(1)).as("__nt"))
      val ranged = byValue
        .repartitionByRange(buckets, col("__v"))
        .withColumn("__b", spark_partition_id())
        // bucket ids must not re-randomize
        .transform(CheckpointOps(_, eager = false))
      val offs = ranged.groupBy(col("__b"))
        .agg(sum(col("__nt")).as("__tt"))
        .select(col("__b"),
          coalesce(sum(col("__tt")).over(Window.orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            .as("__off"))
      val wB = Window.partitionBy(col("__b")).orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ranged.join(broadcast(offs), Seq("__b"))
        .select(col("__v").as(vcol),
          (lit(2L) * (col("__off") + coalesce(sum(col("__nt")).over(wB),
            lit(0L))) + col("__nt") + 1L).as(s"${vcol}_r2"))
    }
    val s = pts
      .join(midrank2("__x"), Seq("__x"))
      .join(midrank2("__y"), Seq("__y"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__x_r2").cast(d19)).cast("decimal(38,0)").as("__sx"),
        sum(col("__y_r2").cast(d19)).cast("decimal(38,0)").as("__sy"),
        sum((col("__x_r2").cast(d19) * col("__x_r2").cast(d19))
          .cast("decimal(38,0)")).cast("decimal(38,0)").as("__sxx"),
        sum((col("__y_r2").cast(d19) * col("__y_r2").cast(d19))
          .cast("decimal(38,0)")).cast("decimal(38,0)").as("__syy"),
        sum((col("__x_r2").cast(d19) * col("__y_r2").cast(d19))
          .cast("decimal(38,0)")).cast("decimal(38,0)").as("__sxy"))
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val n = col("__n").cast("double")
    val (sx, sy) = (dbl(col("__sx")), dbl(col("__sy")))
    val (sxx, syy, sxy) = (dbl(col("__sxx")), dbl(col("__syy")),
      dbl(col("__sxy")))
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    s.select(col("__n").as("n"),
      when(vx === 0.0 || vy === 0.0, lit(null).cast("double"))
        .otherwise((n * sxy - sx * sy) / sqrt(vx * vy)).as("rho"))
  }

  /** Difference-in-differences: the incrementality estimate when you
    * cannot randomize — compare the treated group's pre→post change
    * against the control group's, so any shared time trend (seasonality,
    * a site-wide launch) cancels:
    *
    *   did = (m_treat_post − m_treat_pre) − (m_ctrl_post − m_ctrl_pre)
    *
    * Returns ONE row with the four cell counts and means plus `did`.
    * Each mean is ONE double division of an exact-decimal cell sum
    * ([[abTest]]'s discipline); `did` is a fixed double expression over
    * the four means. Any empty cell yields NULL did (an estimate from a
    * missing cell is a lie, not a zero).
    *
    * Scale: ONE map-side-combined aggregate over the events — the
    * whole computation after it is arithmetic on a single row. */
  def diffInDiff(df: DataFrame, treated: Column, post: Column,
      value: Column): DataFrame = {
    def cell(t: Boolean, p: Boolean, suffix: String): Seq[Column] = {
      val in = (if (t) treated else !treated) && (if (p) post else !post)
      Seq(sum(when(in, 1L).otherwise(0L)).as(s"n_$suffix"),
        sum(when(in, value.cast("decimal(28,6)"))).as(s"__s_$suffix"))
    }
    val aggs = cell(true, false, "treat_pre") ++
      cell(true, true, "treat_post") ++
      cell(false, false, "ctrl_pre") ++ cell(false, true, "ctrl_post")
    def mean(suffix: String): Column =
      when(col(s"n_$suffix") === 0L, lit(null).cast("double"))
        .otherwise(col(s"__s_$suffix").cast("string").cast("double") /
          col(s"n_$suffix").cast("double"))
    df.filter(treated.isNotNull && post.isNotNull && value.isNotNull)
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col("n_treat_pre"), col("n_treat_post"),
        col("n_ctrl_pre"), col("n_ctrl_post"),
        mean("treat_pre").as("m_treat_pre"),
        mean("treat_post").as("m_treat_post"),
        mean("ctrl_pre").as("m_ctrl_pre"),
        mean("ctrl_post").as("m_ctrl_post"))
      .select(col("*"),
        ((col("m_treat_post") - col("m_treat_pre")) -
          (col("m_ctrl_post") - col("m_ctrl_pre"))).as("did"))
  }

  /** Cochran–Armitage trend test — "does the response RATE rise with
    * an ordered dose?": the dose-response sibling of [[abReport]]'s
    * two-proportion z (which cannot see ordering across 3+ groups).
    * `dose` must be an integer score (the category's rank); `response`
    * a boolean. The statistic uses the standard score form
    * `T = Σ wᵢ(rᵢN − nᵢR)` with
    * `Var(T) = R(N−R)·(N·Σwᵢ²nᵢ − (Σwᵢnᵢ)²)/N`, z = T/√Var — every
    * sum is an EXACT integer (decimal-routed against overflow), and z
    * is one fixed double expression over them, so the result is
    * engine-bit-identical. Degenerate tables (R = 0, R = N, or a
    * single dose level) report NULL z. Returns one row:
    * (n_total, n_resp, n_levels, t_stat, z).
    *
    * Scale: one map-side-combined (dose) count aggregate — the corpus
    * reduces to dose-cardinality rows before any arithmetic. */
  def cochranArmitage(df: DataFrame, dose: Column, response: Column)
      : DataFrame = {
    val perDose = df
      .filter(dose.isNotNull && response.isNotNull)
      .groupBy(dose.cast("long").as("__w"))
      .agg(count(lit(1)).as("__n"), sum(response.cast("long")).as("__r"))
    // the 38-digit discipline: every product takes two DECIMAL(19,0)
    // operands (→ 38 digits exactly — Spark would silently rescale past
    // 38 and DuckDB would refuse the type altogether), so each factor
    // is first bounded to 19 digits; sums fit 19 digits for any
    // realistic (count ≤ 1e12, dose score ≤ 1e6) table
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    perDose.agg(
        sum(col("__n")).as("__N"), sum(col("__r")).as("__R"),
        count(lit(1)).as("n_levels"),
        sum(d19(col("__w")) * d19(col("__n"))).as("__swn"),
        sum(d19(d19(col("__w")) * d19(col("__w"))) * d19(col("__n")))
          .as("__swwn"),
        sum(d19(col("__w")) * d19(col("__r"))).as("__swr"))
      .select(col("__N").as("n_total"), col("__R").as("n_resp"),
        col("n_levels"),
        // T = Σw·r·N − Σw·n·R, an exact decimal; subtraction operands
        // bounded to 37 digits so the difference types at 38 in either
        // engine (DuckDB refuses widths past 38 outright)
        ((d19(col("__swr")) * d19(col("__N"))).cast("decimal(37,0)") -
          (d19(col("__swn")) * d19(col("__R"))).cast("decimal(37,0)"))
          .as("__t"),
        // A = N·Σw²n − (Σwn)² (exact); Var = R(N−R)·A/N
        ((d19(col("__N")) * d19(col("__swwn"))).cast("decimal(37,0)") -
          (d19(col("__swn")) * d19(col("__swn"))).cast("decimal(37,0)"))
          .as("__a"),
        (d19(col("__R")) * d19(col("__N") - col("__R"))).as("__rr"))
      .select(col("n_total"), col("n_resp"), col("n_levels"),
        dbl(col("__t")).as("t_stat"),
        // z = T·√N / √(R(N−R)·A): fixed expression of exact decimals
        when(col("n_levels") < 2 || col("__rr") === 0 || col("__a") === 0,
          lit(null).cast("double"))
          .otherwise(dbl(col("__t")) * sqrt(dbl(col("n_total"))) /
            sqrt(dbl(col("__rr")) * dbl(col("__a")))).as("z"))
  }

  /** Sample-ratio-mismatch check — the "is the experiment assignment
    * itself broken?" gate run BEFORE any [[abReport]] readout (a 50.4%
    * /49.6% split at scale is not noise; it is a bucketing bug that
    * invalidates every downstream metric): goodness-of-fit of observed
    * variant counts against the DESIGNED integer ratio
    * (`expected = Seq("A" -> 1, "B" -> 1)` for 50/50). Emits one row
    * per designed variant with the observed count, expected count, and
    * χ² contribution — sum against χ²_{k−1} (the q227 per-cell
    * convention: parts are fixed double expressions over exact
    * integers, never an order-dependent float sum). Variants observed
    * but not designed are a finding the caller screens separately
    * (they never match the designed rows).
    *
    * Exactness: with integer ratio weights w (Σw = W),
    * `chi2_part = (o·W − N·w)² / (N·w·W)` — numerator and denominator
    * exact decimal-routed integers (19×19→38 products), ONE double
    * division per variant; `expected_n = N·w/W` one more.
    *
    * Scale: one map-side-combined variant count over the unit table —
    * variant cardinality rows shuffle, nothing else. */
  def sampleRatioMismatch(df: DataFrame, variant: Column,
      expected: Seq[(String, Long)]): DataFrame = {
    require(expected.nonEmpty && expected.forall(_._2 > 0),
      "expected ratio weights must be positive")
    require(expected.map(_._1).distinct.size == expected.size,
      "duplicate variant in expected ratio")
    val w = expected.map(_._2).sum
    val spark = df.sparkSession
    import spark.implicits._
    val design = expected.toDF("variant", "__w")
    val counts = df
      .filter(variant.isNotNull)
      .groupBy(variant.as("variant"))
      .agg(count(lit(1)).as("__o"))
    val total = counts.agg(sum(col("__o")).as("__N"))
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    design.join(counts, Seq("variant"), "left")
      .select(col("variant"), col("__w"),
        coalesce(col("__o"), lit(0L)).as("n"))
      .crossJoin(broadcast(total))
      .withColumn("__diff",
        // both subtraction operands bounded to 37 digits (DuckDB
        // refuses width 39), then the difference is re-bounded to 19
        // (|o·W − N·w| <= N·W, far inside 19 digits for real tables)
        ((d19(col("n")) * d19(lit(w))).cast("decimal(37,0)") -
          (d19(col("__N")) * d19(col("__w"))).cast("decimal(37,0)"))
          .cast("decimal(19,0)"))
      .select(col("variant"), col("n"),
        (dbl(d19(col("__N")) * d19(col("__w"))) / lit(w.toDouble))
          .as("expected_n"),
        (dbl(col("__diff") * col("__diff")) /
          dbl((d19(col("__N")) * d19(col("__w"))).cast("decimal(19,0)")
            * d19(lit(w)))).as("chi2_part"))
  }

  /** Benjamini–Hochberg FDR control over a p-value report — the
    * multiple-testing step an experiment platform runs over MANY
    * metric × variant tests before anyone reads a "significant" cell.
    * Each test's p is ranked ascending; the largest rank k with
    * `p(k) ≤ q·k/m` is found, and every test ranked ≤ k is rejected
    * (the step-up rule — tests ABOVE a passing one are rejected even
    * if their own inequality fails).
    *
    * Numerics: the acceptance test cross-multiplies to
    * `p·m ≤ q·rank` — two one-product doubles compared, no division —
    * so the decision is engine-exact; `bh_threshold = q·rank/m` is
    * reported for display (one fixed double expression).
    *
    * Scale: the INPUT is a hypothesis report (one row per tested
    * metric — thousands, not corpus rows), so the global rank window
    * is report-sized by construction; the corpus-scale work happened
    * upstream in the per-metric tests. Returns
    * (key, p, rank, bh_threshold, rejected). */
  def benjaminiHochberg(df: DataFrame, keyCol: String, p: Column,
      q: Double): DataFrame = {
    require(q > 0.0 && q < 1.0, s"q must be in (0,1), got $q")
    val base = df
      .select(col(keyCol).as("key"), p.cast("double").as("p"))
      .filter(col("p").isNotNull && !isnan(col("p")))
    val m = base.agg(count(lit(1)).as("__m"))
    val ranked = base.crossJoin(broadcast(m))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("p"), col("key")))
          .cast("long"))
      .withColumn("__cand",
        col("p") * col("__m").cast("double") <=
          lit(q) * col("rank").cast("double"))
    val kmax = ranked.agg(max(when(col("__cand"), col("rank")))
      .as("__kmax"))
    ranked.crossJoin(broadcast(kmax))
      .select(col("key"), col("p"), col("rank"),
        (lit(q) * col("rank").cast("double") /
          col("__m").cast("double")).as("bh_threshold"),
        coalesce(col("rank") <= col("__kmax"), lit(false))
          .as("rejected"))
  }

  /** CUPED variance reduction (Deng et al. 2013): adjust each
    * variant's metric mean with a pre-experiment covariate,
    * `adj = ȳ_v − θ·(x̄_v − x̄)` with `θ = cov(y,x)/var(x)` pooled
    * over all units — the industry-standard sensitivity boost that
    * needs no model, only a pre-period measurement.
    *
    * Numerics: y and x fold as exact `floor(v·10⁶ + 0.5)`
    * micro-integers; all five pooled sums (n, Σx, Σy, Σxx, Σxy) and
    * the per-variant sums are exact decimals (19×19→38 products), and
    * θ / the means / the adjustment are fixed double expressions over
    * their string-routed casts — engine-exact under any partitioning.
    * θ is NULL (and `adjusted_mean` falls back to the raw mean) when
    * var(x) = 0.
    *
    * Scale: two aggregates over the unit table (one global, one
    * variant-keyed, both map-side combinable) + a variants-sized
    * broadcast join. Returns
    * (variant, n, mean_metric, theta, adjusted_mean). */
  def cuped(df: DataFrame, metric: Column, covariate: Column,
      variantCol: String): DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df
      .select(col(variantCol).as("variant"),
        metric.cast("double").as("__ym"),
        covariate.cast("double").as("__xm"))
      // NaN/Inf must be excluded BEFORE quantizing: a non-ANSI
      // CAST(NaN AS LONG) is 0 and CAST(Inf) saturates, which would
      // silently corrupt theta — same exclusion convention as the
      // Classifier/Expectations eval family
      .filter(col("variant").isNotNull &&
        col("__ym").isNotNull && !isnan(col("__ym")) &&
        col("__xm").isNotNull && !isnan(col("__xm")) &&
        abs(col("__ym")) < lit(Double.PositiveInfinity) &&
        abs(col("__xm")) < lit(Double.PositiveInfinity))
      .select(col("variant"),
        floor(col("__ym") * 1000000.0 + 0.5).cast("long").as("__y"),
        floor(col("__xm") * 1000000.0 + 0.5).cast("long").as("__x"))
      // pooled + per-variant consumers
      .transform(CheckpointOps(_, eager = false))
    val pooled = base.agg(
      count(lit(1)).as("__n"),
      sum(d19(col("__x"))).cast("decimal(28,0)").as("__sx"),
      sum(d19(col("__y"))).cast("decimal(28,0)").as("__sy"),
      sum((d19(col("__x")) * d19(col("__x"))).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("__sxx"),
      sum((d19(col("__x")) * d19(col("__y"))).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("__sxy"))
    val perVariant = base.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"),
        sum(d19(col("__y"))).cast("decimal(28,0)").as("__syv"),
        sum(d19(col("__x"))).cast("decimal(28,0)").as("__sxv"))
    val nD = col("__n").cast("double")
    val varX = nD * dbl(col("__sxx")) - dbl(col("__sx")) * dbl(col("__sx"))
    val theta = when(varX === 0.0, lit(null).cast("double"))
      .otherwise((nD * dbl(col("__sxy")) -
        dbl(col("__sx")) * dbl(col("__sy"))) / varX)
    val meanY = dbl(col("__syv")) / (col("n").cast("double") * 1000000.0)
    val meanXv = dbl(col("__sxv")) / (col("n").cast("double") * 1000000.0)
    val meanXall = dbl(col("__sx")) / (nD * 1000000.0)
    perVariant.crossJoin(broadcast(pooled))
      .select(col("variant"), col("n"), meanY.as("mean_metric"),
        theta.as("theta"),
        when(theta.isNull, meanY)
          .otherwise(meanY - theta * (meanXv - meanXall))
          .as("adjusted_mean"))
  }

  /** Minimum detectable effect at the CURRENT sample sizes — the
    * "is this experiment even powered for the lift we care about?"
    * pre-readout check: for every treatment variant vs the named
    * control, the absolute and relative MDE of a two-proportion test
    * at the given α (two-sided) and power, using the standard
    * `MDE = (z_{α/2} + z_β) · √(p₀(1−p₀)(1/n₀ + 1/nᵥ))` normal
    * approximation around the control rate.
    *
    * z constants are LITERALS for the supported (α, power) grid
    * (hard-coding the two normal quantiles keeps the expression a
    * pure function of exact counts — no special-function library to
    * diverge across engines): α ∈ {0.05, 0.01}, power ∈ {0.8, 0.9}.
    * Counts are exact; p₀, the two reciprocals, the product chain and
    * the sqrt are one fixed double expression. `mde_rel` = abs/p₀.
    * NULL when a size is 0 or p₀ ∈ {0, 1} (no variance to power).
    *
    * Scale: one unit-table aggregate (variant-cardinality output) + a
    * 1-row control broadcast. Returns (variant, n, conv, rate,
    * mde_abs, mde_rel); the control row carries NULL MDEs. */
  def powerMde(df: DataFrame, variantCol: String, converted: Column,
      control: String, alpha: Double = 0.05, power: Double = 0.8)
      : DataFrame = {
    val zA = Map(0.05 -> 1.959963984540054, 0.01 -> 2.5758293035489004)
    val zB = Map(0.8 -> 0.8416212335729143, 0.9 -> 1.2815515655446004)
    require(zA.contains(alpha), s"alpha must be one of ${zA.keys}")
    require(zB.contains(power), s"power must be one of ${zB.keys}")
    val zSum = zA(alpha) + zB(power)
    val counts = df
      .filter(col(variantCol).isNotNull)
      .groupBy(col(variantCol).as("variant"))
      .agg(count(lit(1)).as("n"),
        sum(when(converted, 1L).otherwise(0L)).as("conv"))
    // The control row is built with an ALWAYS-1-row aggregate (not a
    // filter): a typo'd control name then surfaces as a raise_error the
    // first time a row evaluates, instead of an empty crossJoin reading
    // as "no data". The error expression rides __n0 itself so column
    // pruning cannot drop it.
    val ctrl = counts.agg(
        max(when(col("variant") === control, col("n"))).as("__n0r"),
        max(when(col("variant") === control, col("conv"))).as("__c0"))
      .select(
        when(col("__n0r").isNull, raise_error(lit(
            s"powerMde: control variant '$control' matches no rows")))
          .otherwise(col("__n0r")).as("__n0"),
        col("__c0"))
    val p0 = col("__c0").cast("double") / col("__n0").cast("double")
    val mdeAbs = lit(zSum) * sqrt(p0 * (lit(1.0) - p0) *
      (lit(1.0) / col("__n0").cast("double") +
        lit(1.0) / col("n").cast("double")))
    val valid = col("variant") =!= control && col("__n0") > 0 &&
      col("n") > 0 && col("__c0") > 0 && col("__c0") < col("__n0")
    counts.crossJoin(broadcast(ctrl))
      .select(col("variant"), col("n"), col("conv"),
        when(col("n") === 0, lit(null).cast("double"))
          .otherwise(col("conv").cast("double") /
            col("n").cast("double")).as("rate"),
        when(valid, mdeAbs).as("mde_abs"),
        when(valid, mdeAbs / p0).as("mde_rel"))
  }

  /** Welch's unequal-variance t-test of every treatment variant's
    * metric mean against the named control — the readout that pairs
    * with [[sampleRatioMismatch]] (assignment health) and
    * [[benjaminiHochberg]] (multiplicity): per variant, the mean
    * difference's t statistic, the Welch–Satterthwaite degrees of
    * freedom, and a two-sided p-value.
    *
    * The p-value uses the NORMAL approximation with erf evaluated by
    * the Abramowitz–Stegun 7.1.26 rational polynomial — a fixed
    * double expression (no special-function library to diverge across
    * engines); at the sample sizes experiments read out at
    * (thousands+), normal and t CDFs agree far inside any decision
    * margin, and t_stat/welch_df are emitted for anyone who wants a
    * library-grade tail. Numerics: the metric folds as exact
    * `floor(v·10⁶+0.5)` micro-integers (NaN/Inf excluded up front —
    * the eval-family convention); per-variant (n, Σy, Σy²) are exact
    * decimals; means/variances/t/df/p are fixed double expressions.
    * Stats are NULL for the control row, n < 2 sides, or zero pooled
    * standard error. A typo'd control name raises in-plan (the
    * [[powerMde]] guard pattern).
    *
    * Scale: ONE variant-keyed aggregate (map-side combined) + a 1-row
    * control broadcast — no unit-table join, no second pass. Returns
    * (variant, n, mean, variance, t_stat, welch_df, p_value). */
  def welchTTest(df: DataFrame, variantCol: String, metric: Column,
      control: String): DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df
      .select(col(variantCol).as("variant"),
        metric.cast("double").as("__ym"))
      .filter(col("variant").isNotNull && col("__ym").isNotNull &&
        !isnan(col("__ym")) &&
        abs(col("__ym")) < lit(Double.PositiveInfinity))
      .select(col("variant"),
        floor(col("__ym") * 1000000.0 + 0.5).cast("long").as("__y"))
    val per = base.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"),
        sum(d19(col("__y"))).cast("decimal(28,0)").as("__sy"),
        sum((d19(col("__y")) * d19(col("__y"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__syy"))
    val ctrl = per.agg(
        max(when(col("variant") === control, col("n"))).as("__n0r"),
        max(when(col("variant") === control, col("__sy"))).as("__sy0"),
        max(when(col("variant") === control, col("__syy"))).as("__syy0"))
      .select(
        when(col("__n0r").isNull, raise_error(lit(
            s"welchTTest: control variant '$control' matches no rows")))
          .otherwise(col("__n0r")).as("__n0"),
        col("__sy0"), col("__syy0"))
    def meanOf(n: Column, sy: Column): Column =
      dbl(sy) / (n.cast("double") * 1000000.0)
    // sample variance in metric units: (n·Σyy − Σy·Σy)/(n·(n−1))/10¹²
    def varOf(n: Column, sy: Column, syy: Column): Column = {
      val nD = n.cast("double")
      (nD * dbl(syy) - dbl(sy) * dbl(sy)) /
        (nD * (nD - 1.0) * 1.0e12)
    }
    val mV = meanOf(col("n"), col("__sy"))
    val m0 = meanOf(col("__n0"), col("__sy0"))
    val seV = varOf(col("n"), col("__sy"), col("__syy")) /
      col("n").cast("double")
    val se0 = varOf(col("__n0"), col("__sy0"), col("__syy0")) /
      col("__n0").cast("double")
    val se2 = seV + se0
    val tStat = (mV - m0) / sqrt(se2)
    val welchDf = (se2 * se2) /
      (seV * seV / (col("n").cast("double") - 1.0) +
        se0 * se0 / (col("__n0").cast("double") - 1.0))
    // two-sided normal p = erfc(|t|/√2), A&S 7.1.26:
    // erfc(z) ≈ (a₁u + a₂u² + a₃u³ + a₄u⁴ + a₅u⁵)·e^(−z²),
    // u = 1/(1 + 0.3275911·z) — |ε| < 1.5e−7, plenty for a p-value
    val z = abs(tStat) / lit(math.sqrt(2.0))
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * z)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) +
        u * lit(1.061405429)))))
    val p = poly * exp(-z * z)
    val valid = col("variant") =!= control && col("n") > 1 &&
      col("__n0") > 1 && se2 > 0.0
    per.crossJoin(broadcast(ctrl))
      .select(col("variant"), col("n"), mV.as("mean"),
        when(col("n") > 1,
          varOf(col("n"), col("__sy"), col("__syy"))).as("variance"),
        when(valid, tStat).as("t_stat"),
        when(valid, welchDf).as("welch_df"),
        when(valid, p).as("p_value"))
  }

  /** Percentile-bootstrap confidence interval of a metric mean per
    * group, with DETERMINISTIC Poisson resampling — the
    * distribution-free CI for metrics too skewed for the normal
    * approximation (revenue, latency): each of `reps` replicates
    * weights every row by a Poisson(1) draw derived from
    * `xxhash64(id, rep, seed)` (the Poisson bootstrap — the
    * distributed form of multinomial resampling, needing no global n
    * or per-replicate pass), replicate means are Σw·y/Σw, and the CI
    * is the order-statistic percentile over the `reps` replicate
    * means.
    *
    * Determinism: the Poisson draw inverts a fixed literal CDF table
    * on a hash-derived uniform (no RNG state), weights and Σw·y are
    * exact integers/decimals, each replicate mean is one division,
    * and the percentile over ≤ `reps` values is exact at the chosen
    * accuracy — identical output at any partitioning, any run.
    *
    * Scale: the rows×reps expansion happens INSIDE the map stage
    * (per-row `explode(sequence(...))`) and combines to (group, rep)
    * partial sums before the exchange — shuffled rows are
    * groups·reps, never rows·reps; `reps` is capped at 1000. The
    * point estimate is one more group-keyed aggregate joined back
    * (groups-sized broadcast). Returns (group, n, mean, ci_lo,
    * ci_hi, n_reps). */
  def bootstrapCI(df: DataFrame, groupCol: String, idCol: String,
      metric: Column, reps: Int = 200, alpha: Double = 0.05,
      seed: Long = 42L): DataFrame = {
    require(reps >= 10 && reps <= 1000,
      s"reps must be in [10, 1000], got $reps")
    require(alpha > 0.0 && alpha < 1.0,
      s"alpha must be in (0,1), got $alpha")
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df
      .select(col(groupCol).as("group"), col(idCol).as("__id"),
        metric.cast("double").as("__ym"))
      .filter(col("group").isNotNull && col("__ym").isNotNull &&
        !isnan(col("__ym")) &&
        abs(col("__ym")) < lit(Double.PositiveInfinity))
      .select(col("group"), col("__id"),
        floor(col("__ym") * 1000000.0 + 0.5).cast("long").as("__y"))
      .transform(CheckpointOps(_, eager = false)) // replicate + point consumers
    // Poisson(1) by inverse CDF on a hash uniform: P(K ≤ k) literals
    val cdf = Seq(0.3678794411714423, 0.7357588823428846,
      0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
      0.9994058151824183, 0.9999167588507119, 0.9999897508033253,
      0.9999988559773857, 0.9999998874797402, 0.9999999899522336)
    val u = (pmod(xxhash64(col("__id").cast("string"), col("__r"),
        lit(seed)), lit(1000000L)).cast("double") + 0.5) / 1000000.0
    val wgt = cdf.zipWithIndex.foldRight(lit(cdf.size.toLong)) {
      case ((c, k), rest) => when(u < c, lit(k.toLong)).otherwise(rest)
    }
    val repMeans = base
      .select(col("group"), col("__id"), col("__y"),
        explode(sequence(lit(0L), lit(reps - 1L))).as("__r"))
      .withColumn("__w", wgt)
      .groupBy(col("group"), col("__r"))
      .agg(sum(col("__w")).as("__n"),
        // multiply in DECIMAL (the welchTTest convention): a LONG
        // product w·y wraps silently (non-ANSI) once |metric| passes
        // ~8.4e11 micro-units; decimal(19,0)·decimal(19,0) widens
        sum((d19(col("__w")) * d19(col("__y"))).cast("decimal(28,0)"))
          .cast("decimal(28,0)").as("__s"))
      .filter(col("__n") > 0)
      .select(col("group"),
        (dbl(col("__s")) / (col("__n").cast("double") * 1000000.0))
          .as("__m"))
    val ci = repMeans.groupBy(col("group"))
      .agg(count(lit(1)).as("n_reps"),
        percentile_approx(col("__m"),
          array(lit(alpha / 2.0), lit(1.0 - alpha / 2.0)),
          lit(1000000)).as("__ci"))
    val point = base.groupBy(col("group"))
      .agg(count(lit(1)).as("n"),
        sum(d19(col("__y"))).cast("decimal(28,0)").as("__sy"))
    point.join(broadcast(ci), Seq("group"), "left")
      .select(col("group"), col("n"),
        (dbl(col("__sy")) / (col("n").cast("double") * 1000000.0))
          .as("mean"),
        col("__ci").getItem(0).as("ci_lo"),
        col("__ci").getItem(1).as("ci_hi"),
        coalesce(col("n_reps"), lit(0L)).as("n_reps"))
  }

  /** Levene / Brown–Forsythe homogeneity-of-variance test — the
    * pre-check the mean-comparison layer ([[welchTTest]],
    * [[kruskalWallis]]) assumes away, and a drift lens in its own
    * right ("did the VARIANCE of latency/score/value shift between
    * cohorts?"): one-way ANOVA on the absolute deviations
    * `z = |y − center_g|`, with `center` = `"median"` (Brown–Forsythe,
    * the robust default) or `"mean"` (classic Levene).
    *
    * Returns ONE row: (k, n, w, df1, df2, p_value). `W` is the exact
    * textbook statistic `((N−k)/(k−1))·Σnⱼ(z̄ⱼ−z̄)²/ΣΣ(z−z̄ⱼ)²`;
    * the tail is the large-sample χ²-limit `(k−1)·W ~ χ²_{k−1}`
    * (F_{k−1,∞} — at the row counts this engine targets, df2 is
    * astronomically large and the limit IS the F tail), evaluated by
    * the house Wilson–Hilferty + erfc block. NULL w/p when k < 2 or
    * every deviation is 0 (no variance to compare).
    *
    * Numerics: group centers come from [[Expectations.exactQuantiles]]
    * (medians — distributed selection, no per-group window) or exact
    * micro-integer means; deviations re-quantize to micro-integers, so
    * the per-group (n, Σz, Σz²) moments are exact decimals and both
    * quadratic forms are pico-quantized per-group doubles summed
    * order-free (the χ²-parts convention).
    *
    * Scale: center pass + ONE deviation-moment aggregate over the
    * corpus (map-side combined, group-cardinality output), the centers
    * broadcast back (groups are few by contract); finale on the
    * k-sized table. */
  def leveneTest(df: DataFrame, groupCol: String, value: Column,
      idCol: String, center: String = "median"): DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df
      .select(col(groupCol).cast("string").as("__g"),
        value.cast("double").as("__v"), col(idCol).as("__id"))
      .filter(col("__g").isNotNull && col("__v").isNotNull &&
        !isnan(col("__v")) && abs(col("__v")) < lit(Double.PositiveInfinity))
      // center pass + deviation pass
      .transform(CheckpointOps(_, eager = false))
    val centers: DataFrame = center match {
      case "median" =>
        Expectations.exactQuantiles(base, "__g", col("__v"),
            Seq(0.5), "__id")
          .select(col("__g"), col("p50").as("__c"))
      case "mean" =>
        base.groupBy(col("__g"))
          .agg(count(lit(1)).as("__nc"),
            sum(d19(floor(col("__v") * 1000000.0 + 0.5).cast("long")))
              .cast("decimal(28,0)").as("__sc"))
          .select(col("__g"),
            (dbl(col("__sc")) / (col("__nc").cast("double") * 1000000.0))
              .as("__c"))
      case other => sys.error(
        s"center must be 'median' (Brown–Forsythe) or 'mean', got $other")
    }
    val perG = base.join(broadcast(centers), Seq("__g"))
      .select(col("__g"),
        floor(abs(col("__v") - col("__c")) * 1000000.0 + 0.5)
          .cast("long").as("__z"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n_g"),
        sum(d19(col("__z"))).cast("decimal(28,0)").as("__sz"),
        sum((d19(col("__z")) * d19(col("__z"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__szz"))
    // within-group SS per group: Σz² − (Σz)²/n, exact-integer inputs,
    // one fixed double expression, pico-quantized for the cross-group
    // sum; the between part needs the grand mean, so fold (n, Σz) too
    val within = dbl(col("__szz")) / 1e12 -
      (dbl(col("__sz")) / 1e6) * (dbl(col("__sz")) / 1e6) /
        col("__n_g").cast("double")
    val folded = perG.agg(
      count(lit(1)).as("k"),
      sum(col("__n_g")).as("__n"),
      sum(col("__sz").cast("decimal(38,0)")).cast("decimal(38,0)")
        .as("__szt"),
      sum(floor(within * 1000000.0 + 0.5).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("__wss"),
      // Σ n_g·z̄_g² for the between part: z̄_g exact-integer mean
      sum(floor((dbl(col("__sz")) / 1e6) * (dbl(col("__sz")) / 1e6) /
          col("__n_g").cast("double") * 1000000.0 + 0.5)
        .cast("decimal(38,0)")).cast("decimal(38,0)").as("__bq"))
    val nD = col("__n").cast("double")
    val kD = col("k").cast("double")
    val zbar = dbl(col("__szt")) / (nD * 1e6)
    val between = dbl(col("__bq")) / 1e6 - nD * zbar * zbar
    val wss = dbl(col("__wss")) / 1e6
    val w = ((nD - kD) / (kD - 1.0)) * between / wss
    // large-sample tail: (k−1)·W ~ χ²_{k−1} via Wilson–Hilferty + erfc
    val df1 = kD - 1.0
    // x = (k−1)·W at dof k−1 ⇒ the W–H cube-root argument x/dof is W
    val z = (cbrt(w) - (lit(1.0) - lit(2.0) / (lit(9.0) * df1))) /
      sqrt(lit(2.0) / (lit(9.0) * df1))
    val zz = abs(z) / lit(math.sqrt(2.0))
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * zz)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) +
        u * lit(1.061405429)))))
    val halfErfc = poly * exp(-zz * zz) / 2.0
    val p = when(z >= 0, halfErfc).otherwise(lit(1.0) - halfErfc)
    val valid = col("k") > 1 && col("__wss") > 0
    folded.select(col("k"), col("__n").as("n"),
      when(valid, w).as("w"),
      (col("k") - 1).cast("long").as("df1"),
      (col("__n") - col("k")).cast("long").as("df2"),
      when(valid, p).as("p_value"))
  }

  /** Paired t-test — the parametric sibling of [[wilcoxonSignedRank]]
    * (use this when differences are roughly symmetric and you want
    * the mean shift in METRIC units; use the ranks when outliers
    * rule): `t = d̄/(s_d/√n)` over exact micro-integer difference
    * moments from ONE aggregate, two-sided p via the normal erfc
    * (the [[welchTTest]] large-sample convention — at the row counts
    * this engine targets, t ≈ z). Returns ONE row: (n, mean_diff,
    * sd_diff, t_stat, p_value) — NULL t/p when n < 2 or s_d = 0.
    *
    * Scale: one map-side-combined aggregate, 1-row output. */
  def pairedTTest(df: DataFrame, a: Column, b: Column): DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val diffs = df
      .select((a.cast("double") - b.cast("double")).as("__dm"))
      .filter(col("__dm").isNotNull && !isnan(col("__dm")) &&
        abs(col("__dm")) < lit(Double.PositiveInfinity))
      .select(floor(col("__dm") * 1000000.0 + 0.5).cast("long").as("__d"))
    val agg = diffs.agg(count(lit(1)).as("n"),
      sum(d19(col("__d"))).cast("decimal(28,0)").as("__sd"),
      sum((d19(col("__d")) * d19(col("__d"))).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("__sdd"))
    val nD = col("n").cast("double")
    val mean = dbl(col("__sd")) / (nD * 1e6)
    val variance = (nD * dbl(col("__sdd")) - dbl(col("__sd")) *
      dbl(col("__sd"))) / (nD * greatest(nD - 1.0, lit(1.0)) * 1e12)
    val sd = sqrt(greatest(variance, lit(0.0)))
    val t = mean / (sd / sqrt(nD))
    val zz = abs(t) / lit(math.sqrt(2.0))
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * zz)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) +
        u * lit(1.061405429)))))
    val p = poly * exp(-zz * zz)
    val valid = col("n") >= 2 && variance > 0.0
    agg.select(col("n"),
      when(col("n") > 0, mean).as("mean_diff"),
      when(col("n") >= 2, sd).as("sd_diff"),
      when(valid, t).as("t_stat"),
      when(valid, p).as("p_value"))
  }

  /** Wilcoxon signed-rank test — the PAIRED nonparametric mean-shift
    * test ([[rankSumTest]] compares two independent samples;
    * [[graft.operators.Classifier.mcNemar]] pairs binary outcomes;
    * this pairs CONTINUOUS ones — the "model A vs model B scored the
    * SAME prompts" readout): differences `d = a − b`, zeros dropped
    * (Wilcoxon's convention), |d| midranked over the whole corpus,
    * `W⁺` = rank sum of the positive differences, normal
    * approximation with the exact tie correction
    * `σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48` (no continuity correction —
    * documented, matching the default of the standard
    * implementations).
    *
    * Midranks ride the [[kruskalWallis]] distributed cumulative-count
    * machinery (value rollup → range buckets → windowed cumulatives +
    * broadcast offsets) — never a global single-partition sort. All
    * rank sums are EXACT integers via the doubled-midrank trick
    * (`2·mid = 2·below + ties + 1`); μ and σ are fixed double
    * expressions over them. Returns ONE row:
    * (n, n_zero, w_plus, w_minus, z, p_value) — NULL z/p when n = 0
    * or σ² ≤ 0 (all differences tie at one |d|).
    *
    * Scale: one (|d|, sign) count aggregate (map-side combined), the
    * value-level rank machinery, a 2-row sign rollup, 1-row finale. */
  def wilcoxonSignedRank(df: DataFrame, a: Column, b: Column,
      buckets: Int = 64): DataFrame = {
    val d19 = "decimal(19,0)"
    val d12 = "decimal(12,0)"
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val diffs = df
      .select((a.cast("double") - b.cast("double")).as("__dm"))
      .filter(col("__dm").isNotNull && !isnan(col("__dm")) &&
        abs(col("__dm")) < lit(Double.PositiveInfinity))
      .select(floor(col("__dm") * 1000000.0 + 0.5).cast("long").as("__d"))
      .transform(CheckpointOps(_, eager = false)) // zero count + rank machinery
    val nZero = diffs.agg(
      sum(when(col("__d") === 0L, 1L).otherwise(0L)).as("__nz"))
    val byVS = diffs.filter(col("__d") =!= 0L)
      .groupBy(abs(col("__d")).as("__v"), (col("__d") > 0).as("__pos"))
      .agg(count(lit(1)).as("__ng"))
      // value rollup + rank join back
      .transform(CheckpointOps(_, eager = false))
    val byV = byVS.groupBy(col("__v")).agg(sum(col("__ng")).as("__nt"))
    val ranged = byV
      .repartitionByRange(buckets, col("__v"))
      .withColumn("__b", spark_partition_id())
      // bucket ids must not re-randomize
      .transform(CheckpointOps(_, eager = false))
    val offs = ranged.groupBy(col("__b"))
      .agg(sum(col("__nt")).as("__tt"))
      .select(col("__b"),
        coalesce(sum(col("__tt")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("__off"))
    val wB = Window.partitionBy(col("__b")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cums = ranged.join(broadcast(offs), Seq("__b"))
      .select(col("__v"), col("__nt"),
        (col("__off") + coalesce(sum(col("__nt")).over(wB), lit(0L)))
          .cast(d19).as("__cb"))
      .transform(CheckpointOps(_, eager = false)) // sign rollup + tie totals
    // per sign: exact 2·(rank sum) — 2·mid = 2·below + ties + 1
    val perSign = byVS.join(cums, Seq("__v"))
      .groupBy(col("__pos"))
      .agg(sum((col("__ng").cast(d19) *
          (col("__cb") + col("__cb") + col("__nt").cast(d19) + 1)
            .cast(d19)).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("__r2"))
    val ties = cums.agg(
      coalesce(sum(col("__nt")), lit(0L)).cast(d12).as("__n"),
      coalesce(sum(col("__nt").cast(d12) * col("__nt").cast(d12) *
          col("__nt").cast(d12) - col("__nt").cast(d12))
        .cast("decimal(38,0)"), lit(0).cast("decimal(38,0)")).as("__t3"))
    val folded = ties.crossJoin(broadcast(
        perSign.agg(
          coalesce(sum(when(col("__pos"), col("__r2"))), lit(0)
            .cast("decimal(38,0)")).as("__wp2"),
          coalesce(sum(when(!col("__pos"), col("__r2"))), lit(0)
            .cast("decimal(38,0)")).as("__wm2"))))
      .crossJoin(broadcast(nZero))
    val nD = dbl(col("__n"))
    // Var(2W⁺) = 4·Var(W⁺) = n(n+1)(2n+1)/6 − Σ(t³−t)/12
    val var2 = nD * (nD + 1.0) * (lit(2.0) * nD + 1.0) / 6.0 -
      dbl(col("__t3")) / 12.0
    val z = (dbl(col("__wp2")) - nD * (nD + 1.0) / 2.0) / sqrt(var2)
    val zz = abs(z) / lit(math.sqrt(2.0))
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * zz)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) +
        u * lit(1.061405429)))))
    val p = poly * exp(-zz * zz) // two-sided: erfc(|z|/√2)
    val valid = col("__n") > 0 && var2 > 0.0
    folded.select(col("__n").cast("bigint").as("n"),
      coalesce(col("__nz"), lit(0L)).as("n_zero"),
      (dbl(col("__wp2")) / 2.0).as("w_plus"),
      (dbl(col("__wm2")) / 2.0).as("w_minus"),
      when(valid, z).as("z"),
      when(valid, p).as("p_value"))
  }

  /** Friedman test + Kendall's W — the k-treatment PAIRED comparison
    * over blocked ranks (the "k models scored the SAME n prompts"
    * omnibus, where [[wilcoxonSignedRank]] handles k = 2 and
    * [[graft.operators.Classifier.fleissKappa]] handles categorical
    * labels): within each complete block (an item scored by ALL k
    * treatments — incomplete blocks are EXCLUDED and counted), scores
    * midrank 1..k; the tie-corrected statistic
    * `Q = (k−1)·Σⱼ(Rⱼ − n(k+1)/2)² / (A − C)` with `A = Σr²`,
    * `C = nk(k+1)²/4` is χ²_{k−1} under the null, and Kendall's
    * `W = Q/(n(k−1))` ∈ [0,1] is the agreement effect size.
    *
    * Ranks are within-BLOCK windows (bounded by k — never a corpus
    * window); midranks double to integers, so every rank sum is
    * exact; the W–H + erfc tail is the house block. Returns ONE row:
    * (k, n_blocks, n_incomplete, q, kendall_w, dof, p_value) — NULL
    * q/W/p when k < 2, no complete blocks, or every block ranks
    * identically tie-flat (A = C).
    *
    * Scale: one (block, treatment) dedup-aggregate, per-block windows
    * over k-sized partitions, one treatment rollup, 1-row finale. */
  def friedmanTest(df: DataFrame, blockCol: String, treatmentCol: String,
      score: Column): DataFrame = {
    val d19 = "decimal(19,0)"
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df
      .select(col(blockCol).cast("string").as("__blk"),
        col(treatmentCol).cast("string").as("__t"),
        score.cast("double").as("__sm"))
      .filter(col("__blk").isNotNull && col("__t").isNotNull &&
        col("__sm").isNotNull && !isnan(col("__sm")) &&
        abs(col("__sm")) < lit(Double.PositiveInfinity))
      .select(col("__blk"), col("__t"),
        floor(col("__sm") * 1000000.0 + 0.5).cast("long").as("__s"))
      // one score per (block, treatment): ties broken by MIN score —
      // a duplicate rating is a data issue surfaced by the count
      .groupBy(col("__blk"), col("__t"))
      .agg(min(col("__s")).as("__s"))
      .transform(CheckpointOps(_, eager = false)) // k inference + rank pass
    val k = base.groupBy(col("__t")).count().count()
    val wBlk = Window.partitionBy(col("__blk"))
    val complete = base
      .withColumn("__bn", count(lit(1)).over(wBlk))
      // complete + incomplete consumers
      .transform(CheckpointOps(_, eager = false))
    val nIncomplete = complete.filter(col("__bn") =!= k)
      .select(col("__blk")).distinct().count()
    // within-block midranks, doubled to integers:
    // 2·mid = 2·(rank_min − 1) + ties + 1
    val wOrd = wBlk.orderBy(col("__s"))
    val ranked = complete.filter(col("__bn") === k)
      .withColumn("__rmin", rank().over(wOrd))
      .withColumn("__ties", count(lit(1))
        .over(wBlk.partitionBy(col("__blk"), col("__s"))))
      .withColumn("__r2",
        (col("__rmin") - 1) * 2 + col("__ties") + 1)
    val perT = ranked.groupBy(col("__t"))
      .agg(sum(col("__r2").cast(d19)).cast("decimal(38,0)").as("__rs2"),
        count(lit(1)).as("__nb"))
      // A-sum + finale share the pass
      .transform(CheckpointOps(_, eager = false))
    val aSum = ranked.agg(
      sum((col("__r2").cast(d19) * col("__r2").cast(d19))
        .cast("decimal(38,0)")).cast("decimal(38,0)").as("__a4"))
    // Σⱼ(2Rⱼ)² exact; n from any treatment's block count
    val folded = perT.agg(
        count(lit(1)).as("__kT"),
        max(col("__nb")).as("__n"),
        sum((col("__rs2") * col("__rs2")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__sumR4"))
      .crossJoin(broadcast(aSum))
    val kD = col("__kT").cast("double")
    val nD = col("__n").cast("double")
    // descale the doubled ranks: R from 2R is /2, r² from (2r)² is /4
    val sumR2 = dbl(col("__sumR4")) / 4.0
    val aTerm = dbl(col("__a4")) / 4.0
    val cTerm = nD * kD * (kD + 1.0) * (kD + 1.0) / 4.0
    // Σ(Rⱼ − n(k+1)/2)² = ΣRⱼ² − n²k(k+1)²/4
    val devSq = sumR2 - nD * nD * kD * (kD + 1.0) * (kD + 1.0) / 4.0
    val q = (kD - 1.0) * devSq / (aTerm - cTerm)
    val w = q / (nD * (kD - 1.0))
    val df1 = kD - 1.0
    val z = (cbrt(q / df1) - (lit(1.0) - lit(2.0) / (lit(9.0) * df1))) /
      sqrt(lit(2.0) / (lit(9.0) * df1))
    val zz = abs(z) / lit(math.sqrt(2.0))
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * zz)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) +
        u * lit(1.061405429)))))
    val halfErfc = poly * exp(-zz * zz) / 2.0
    val p = when(z >= 0, halfErfc).otherwise(lit(1.0) - halfErfc)
    val valid = col("__kT") > 1 && col("__n") > 0 &&
      aTerm - cTerm > 0.0
    folded.select(col("__kT").cast("bigint").as("k"),
      coalesce(col("__n"), lit(0L)).as("n_blocks"),
      lit(nIncomplete).as("n_incomplete"),
      when(valid, q).as("q"),
      when(valid, w).as("kendall_w"),
      (col("__kT") - 1).cast("bigint").as("dof"),
      when(valid, p).as("p_value"))
  }

  /** Welch's one-way ANOVA — the k-group generalization of
    * [[welchTTest]] under UNEQUAL variances (the classic F assumes
    * homogeneity — exactly what [[leveneTest]] often rejects on real
    * metric data): Welch (1951)'s
    * `W* = Σwⱼ(x̄ⱼ−x̃)²/(k−1) / (1 + 2(k−2)/(k²−1)·Σhⱼ)` with
    * `wⱼ = nⱼ/s²ⱼ`, the precision-weighted grand mean `x̃`, and
    * `hⱼ = (1−wⱼ/Σw)²/(nⱼ−1)`; `df2 = (k²−1)/(3Σhⱼ)`.
    *
    * Returns ONE row: (k, n, f_w, df1, df2, p_value) — `df2` the
    * (fractional) Welch–Satterthwaite denominator dof, the tail via
    * Paulson's normal approximation to F (the two-sided W–H form for
    * BOTH dofs — a fixed cbrt/sqrt/erfc expression; df2 is
    * data-driven here, so the χ²-limit shortcut of [[leveneTest]]
    * would overstate significance at small groups). NULL statistic
    * when k < 2, any group has n < 2, or any group variance is 0
    * (infinite precision weight).
    *
    * Numerics: per-group (n, Σy, Σy²) exact micro-integer moments
    * (ONE map-side-combined aggregate); the per-group wⱼ/hⱼ terms are
    * fixed double expressions pico-quantized and summed order-free
    * across the k-sized table (the χ²-parts convention), finale on
    * one row. */
  def welchAnova(df: DataFrame, groupCol: String, metric: Column)
      : DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df
      .select(col(groupCol).cast("string").as("__g"),
        metric.cast("double").as("__ym"))
      .filter(col("__g").isNotNull && col("__ym").isNotNull &&
        !isnan(col("__ym")) &&
        abs(col("__ym")) < lit(Double.PositiveInfinity))
      .select(col("__g"),
        floor(col("__ym") * 1000000.0 + 0.5).cast("long").as("__y"))
    val per = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n_g"),
        sum(d19(col("__y"))).cast("decimal(28,0)").as("__sy"),
        sum((d19(col("__y")) * d19(col("__y"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__syy"))
    val nD = col("__n_g").cast("double")
    val mean = dbl(col("__sy")) / (nD * 1e6)
    // ANSI-safe: the n=1 / zero-variance groups are REPORTED (folded
    // into __bad → NULL result), so their terms compute as 0 behind
    // guards instead of tripping ANSI divide-by-zero in the fold
    val variance = when(col("__n_g") >= 2,
      (nD * dbl(col("__syy")) - dbl(col("__sy")) * dbl(col("__sy"))) /
        (nD * greatest(nD - 1.0, lit(1.0)) * 1e12))
    val grpOk = col("__n_g") >= 2 && variance > 0.0
    val wgt = when(grpOk, nD / variance).otherwise(lit(0.0))
    // quantized cross-group folds: w (pico), w·x̄ (micro·pico mix kept
    // at 1e6 — means carry metric units), w·x̄² (1e3 — can reach w·x̄²
    // magnitudes), plus validity flags folded as min/sum
    def q(c: Column, s: Double): Column =
      sum(floor(c * lit(s) + 0.5).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
    val folded = per.agg(
      count(lit(1)).as("k"),
      sum(col("__n_g")).as("__n"),
      sum(when(col("__n_g") < 2 || variance <= 0.0, 1L).otherwise(0L))
        .as("__bad"),
      q(wgt, 1e6).as("__sw"),
      q(wgt * mean, 1e6).as("__swm"),
      q(wgt * mean * mean, 1e3).as("__swm2"))
      // h-pass re-reads the same fold
      .transform(CheckpointOps(_, eager = false))
    // hⱼ needs Σw, so a SECOND k-sized pass joins the 1-row fold back
    // onto the per-group table (both tiny; the corpus is not re-read)
    val withTot = per.crossJoin(broadcast(
      folded.select(col("__sw"), col("k"), col("__n"), col("__bad"),
        col("__swm"), col("__swm2"))))
    val swD = dbl(col("__sw")) / 1e6
    val h = when(grpOk && swD > 0.0, {
      val frac = lit(1.0) - wgt / swD
      frac * frac / greatest(nD - 1.0, lit(1.0))
    }).otherwise(lit(0.0))
    val out = withTot.agg(
      max(col("k")).as("k"), max(col("__n")).as("n"),
      max(col("__bad")).as("__bad"),
      max(col("__sw")).as("__sw"), max(col("__swm")).as("__swm"),
      max(col("__swm2")).as("__swm2"),
      q(h, 1e9).as("__sh"))
    val kD = col("k").cast("double")
    val sw = dbl(col("__sw")) / 1e6
    val swm = dbl(col("__swm")) / 1e6
    val swm2 = dbl(col("__swm2")) / 1e3
    val sh = dbl(col("__sh")) / 1e9
    // Σwⱼ(x̄ⱼ−x̃)² = Σw·x̄² − (Σw·x̄)²/Σw (x̃ = Σw·x̄/Σw folded in)
    val between = swm2 - swm * swm / sw
    val fW = (between / (kD - 1.0)) /
      (lit(1.0) + lit(2.0) * (kD - 2.0) / (kD * kD - 1.0) * sh)
    val df2 = (kD * kD - 1.0) / (lit(3.0) * sh)
    // Paulson's normal approximation to the F tail (W–H on both dofs)
    val df1 = kD - 1.0
    val f13 = cbrt(fW)
    val z = ((lit(1.0) - lit(2.0) / (lit(9.0) * df2)) * f13 -
      (lit(1.0) - lit(2.0) / (lit(9.0) * df1))) /
      sqrt(lit(2.0) / (lit(9.0) * df1) + f13 * f13 * lit(2.0) /
        (lit(9.0) * df2))
    val zz = abs(z) / lit(math.sqrt(2.0))
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * zz)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) +
        u * lit(1.061405429)))))
    val halfErfc = poly * exp(-zz * zz) / 2.0
    val p = when(z >= 0, halfErfc).otherwise(lit(1.0) - halfErfc)
    // __sh > 0 also guards the df2 division: h pico-quantizes to 0
    // only past ~2e9 rows PER GROUP (where Welch ≈ classic anyway)
    val valid = col("k") > 1 && col("__bad") === 0 && col("__sh") > 0
    out.select(col("k"), col("n"),
      when(valid, fW).as("f_w"),
      (col("k") - 1).cast("long").as("df1"),
      when(valid, df2).as("df2"),
      when(valid, p).as("p_value"))
  }

  /** Inverse-probability-weighted (Hajek) treatment-effect estimate —
    * the observational-data sibling of [[abTest]]/[[cuped]]: given a
    * PROPENSITY column `e(x) = P(treated | x)` (from
    * [[graft.operators.Classifier]] or any upstream model), reweight
    * each arm to the full population (`1/e` treated, `1/(1−e)`
    * control), stabilized by the marginal treatment rate and CLIPPED
    * to `[clipLo, clipHi]` (the standard positivity guard — extreme
    * propensities otherwise hand one row the estimate). Returns ONE
    * row: (n_treated, n_control, clipped_frac, mean_treated,
    * mean_control, ate, se, ess_treated, ess_control) — Hajek
    * (weight-normalized) arm means, their difference, the
    * linearization SE `√(Σw²(y−μ)²/(Σw)² per arm, summed)`, and
    * Kish effective sample sizes `(Σw)²/Σw²` (the overlap
    * diagnostic: ESS ≪ n means the weights concentrated).
    *
    * This estimates the ATE under unconfoundedness given e(x) — a
    * modeling assumption the operator cannot check; `clipped_frac`
    * and the ESS columns are the honesty report that travels with
    * the number.
    *
    * Numerics: per-row weights are fixed double expressions;
    * Σw, Σwy, Σwy², Σw² fold pico-quantized per arm in ONE map-side-
    * combined aggregate; the finale is fixed arithmetic on that row.
    * Scale: one corpus aggregate, nothing else moves. */
  def ipwAte(df: DataFrame, treated: Column, outcome: Column,
      propensity: Column, clipLo: Double = 0.01, clipHi: Double = 0.99)
      : DataFrame = {
    require(clipLo > 0.0 && clipHi < 1.0 && clipLo < clipHi,
      s"clip bounds must satisfy 0 < lo < hi < 1, got [$clipLo, $clipHi]")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df
      .select(treated.cast("boolean").as("__t"),
        outcome.cast("double").as("__ym"),
        propensity.cast("double").as("__e0"))
      .filter(col("__t").isNotNull && col("__ym").isNotNull &&
        !isnan(col("__ym")) &&
        abs(col("__ym")) < lit(Double.PositiveInfinity) &&
        col("__e0").isNotNull && !isnan(col("__e0")) &&
        col("__e0") > 0.0 && col("__e0") < 1.0)
    val e = least(greatest(col("__e0"), lit(clipLo)), lit(clipHi))
    val w = when(col("__t"), lit(1.0) / e)
      .otherwise(lit(1.0) / (lit(1.0) - e))
    def q(c: Column, s: Double): Column =
      sum(floor(c * lit(s) + 0.5).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
    def armQ(t: Boolean, c: Column, s: Double, name: String): Column =
      q(when(col("__t") === t, c).otherwise(lit(0.0)), s).as(name)
    val agg = base.select(col("__t"), col("__ym"), w.as("__w"),
        (col("__e0") =!= e).as("__clipped"))
      .agg(
        sum(when(col("__t"), 1L).otherwise(0L)).as("nt"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("nc"),
        sum(when(col("__clipped"), 1L).otherwise(0L)).as("__ncl"),
        armQ(t = true, col("__w"), 1e9, "__swt"),
        armQ(t = false, col("__w"), 1e9, "__swc"),
        armQ(t = true, col("__w") * col("__ym"), 1e6, "__swyt"),
        armQ(t = false, col("__w") * col("__ym"), 1e6, "__swyc"),
        armQ(t = true, col("__w") * col("__w"), 1e6, "__sw2t"),
        armQ(t = false, col("__w") * col("__w"), 1e6, "__sw2c"),
        armQ(t = true, col("__w") * col("__w") * col("__ym"), 1e3,
          "__sw2yt"),
        armQ(t = false, col("__w") * col("__w") * col("__ym"), 1e3,
          "__sw2yc"),
        armQ(t = true, col("__w") * col("__w") * col("__ym") * col("__ym"),
          1.0, "__sw2yyt"),
        armQ(t = false, col("__w") * col("__w") * col("__ym") * col("__ym"),
          1.0, "__sw2yyc"))
    def arm(sw: Column, swy: Column, sw2: Column, sw2y: Column,
        sw2yy: Column): (Column, Column, Column) = {
      val swD = dbl(sw) / 1e9
      val mu = (dbl(swy) / 1e6) / swD
      // Hajek linearization: Var(μ̂) ≈ Σw²(y−μ)²/(Σw)², the w² moments
      // folded exactly: Σw²y² − 2μΣw²y + μ²Σw²
      val varSum = dbl(sw2yy) - mu * (dbl(sw2y) / 1e3) * 2.0 +
        mu * mu * (dbl(sw2) / 1e6)
      val ess = swD * swD / (dbl(sw2) / 1e6)
      (mu, greatest(varSum, lit(0.0)) / (swD * swD), ess)
    }
    val (mt, vt, essT) = arm(col("__swt"), col("__swyt"),
      col("__sw2t"), col("__sw2yt"), col("__sw2yyt"))
    val (mc, vc, essC) = arm(col("__swc"), col("__swyc"),
      col("__sw2c"), col("__sw2yc"), col("__sw2yyc"))
    val valid = col("nt") > 0 && col("nc") > 0
    agg.select(col("nt").as("n_treated"), col("nc").as("n_control"),
      (col("__ncl").cast("double") /
        (col("nt") + col("nc")).cast("double")).as("clipped_frac"),
      when(valid, mt).as("mean_treated"),
      when(valid, mc).as("mean_control"),
      when(valid, mt - mc).as("ate"),
      when(valid, sqrt(vt + vc)).as("se"),
      when(valid, essT).as("ess_treated"),
      when(valid, essC).as("ess_control"))
  }

  /** Augmented IPW (doubly-robust) average treatment effect — the
    * estimator that upgrades [[ipwAte]] with per-arm OUTCOME MODELS:
    * `ψᵢ = μ̂₁(xᵢ) − μ̂₀(xᵢ) + Tᵢ(yᵢ−μ̂₁)/eᵢ − (1−Tᵢ)(yᵢ−μ̂₀)/(1−eᵢ)`
    * and `ATE = ψ̄`. Consistent if EITHER the propensity OR the
    * outcome regressions are right (the "doubly robust" property),
    * and strictly lower-variance than IPW when the outcome models
    * explain anything. The propensity is a caller-provided column
    * ([[ipwAte]]'s contract — scores come from [[graft.operators.Classifier.train]]
    * or an external model); the outcome models are per-arm OLS on
    * `features` fit in-engine ([[graft.operators.Regression]] Gram
    * machinery).
    *
    * Returns ONE row: (n_treated, n_control, clipped_frac, ate, se,
    * z, p_value) — SE from the influence-function variance
    * `√(Var(ψ)/n)` (the standard AIPW large-sample form), two-sided
    * normal tail. All-NULL estimates when either arm's OLS is
    * singular or an arm is empty (the [[graft.operators.Regression.linearFit]]
    * refusal convention).
    *
    * Numerics: features/outcome micro-quantize once; both Gram
    * aggregates are exact decimals; ψ is a fixed double expression
    * over driver-literal β̂s with Σψ micro- and Σψ² milli-quantized
    * exact folds; propensities clip to [clipLo, clipHi] (so |ψ| is
    * bounded by the clip — the quantization headroom argument).
    *
    * Scale: THREE corpus passes over one lazily-checkpointed base
    * (treated Gram, control Gram, ψ moments) — each a single
    * map-side-combined aggregate; driver work is model-sized. */
  def aipwAte(df: DataFrame, treated: Column, outcome: Column,
      propensity: Column, features: Seq[(String, Column)],
      clipLo: Double = 0.01, clipHi: Double = 0.99): DataFrame = {
    require(features.nonEmpty && features.size <= 8,
      s"aipwAte supports 1..8 features, got ${features.size}")
    require(clipLo > 0.0 && clipHi < 1.0 && clipLo < clipHi,
      s"clip bounds must satisfy 0 < lo < hi < 1, got [$clipLo, $clipHi]")
    val spark = df.sparkSession
    val d = features.size
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val finite = (c: Column) =>
      c.isNotNull && !isnan(c) && abs(c) < lit(Double.PositiveInfinity)
    val xs0 = features.map(_._2.cast("double"))
    val base = df
      .select((treated.cast("boolean").as("__t") +:
        outcome.cast("double").as("__ymr") +:
        propensity.cast("double").as("__e0") +:
        xs0.zipWithIndex.map { case (c, j) => c.as(s"__xm$j") }): _*)
      .filter(xs0.indices.map(j => finite(col(s"__xm$j")))
        .foldLeft(col("__t").isNotNull && finite(col("__ymr")) &&
          col("__e0").isNotNull && !isnan(col("__e0")) &&
          col("__e0") > 0.0 && col("__e0") < 1.0)(_ && _))
      .select((col("__t") +: col("__e0") +:
        floor(col("__ymr") * 1000000.0 + 0.5).cast("long").as("__y") +:
        xs0.indices.map(j =>
          floor(col(s"__xm$j") * 1000000.0 + 0.5).cast("long")
            .as(s"__x$j"))): _*)
      .transform(CheckpointOps(_, eager = false)) // two Grams + the ψ finale
    val gramCols = (col("__y") +: (0 until d).map(j => col(s"__x$j")))
    val g1 = Regression.gramSums(
      base.filter(col("__t")).select(gramCols: _*), d)
    val g0 = Regression.gramSums(
      base.filter(!col("__t")).select(gramCols: _*), d)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_treated",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_control",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("clipped_frac",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("ate",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("se",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("z",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("p_value",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    (Regression.solveWithInverse(g1.a, g1.b),
        Regression.solveWithInverse(g0.a, g0.b)) match {
      case (Some((b1, _)), Some((b0, _))) if g1.n > 0 && g0.n > 0 =>
        def muOf(b: Array[Double]): Column =
          (0 until d).foldLeft(lit(b(0))) { (acc, j) =>
            acc + col(s"__x$j").cast("double") / 1e6 * lit(b(j + 1)) }
        val e = least(greatest(col("__e0"), lit(clipLo)), lit(clipHi))
        val yD = col("__y").cast("double") / 1e6
        val mu1 = muOf(b1)
        val mu0 = muOf(b0)
        val psi = mu1 - mu0 +
          when(col("__t"), (yD - mu1) / e)
            .otherwise(-(yD - mu0) / (lit(1.0) - e))
        def q(c: Column, s: Double): Column =
          sum(floor(c * lit(s) + 0.5).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
        val agg = base.agg(
          sum(when(col("__t"), 1L).otherwise(0L)).as("nt"),
          sum(when(!col("__t"), 1L).otherwise(0L)).as("nc"),
          sum(when(col("__e0") =!= e, 1L).otherwise(0L)).as("__ncl"),
          q(psi, 1e6).as("__sp"), q(psi * psi, 1e3).as("__sp2"))
        val nD = (col("nt") + col("nc")).cast("double")
        val ate = (dbl(col("__sp")) / 1e6) / nD
        val varPsi = greatest(
          (dbl(col("__sp2")) / 1e3) / nD - ate * ate, lit(0.0))
        val se = sqrt(varPsi / nD)
        val z = ate / se
        val zz = abs(z) / lit(math.sqrt(2.0))
        val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * zz)
        val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
          u * (lit(1.421413741) + u * (lit(-1.453152027) +
            u * lit(1.061405429)))))
        val p = poly * exp(-zz * zz)
        agg.select(col("nt").as("n_treated"), col("nc").as("n_control"),
          (col("__ncl").cast("double") / nD).as("clipped_frac"),
          ate.as("ate"),
          when(se > 0.0, se).as("se"),
          when(se > 0.0, z).as("z"),
          when(se > 0.0, p).as("p_value"))
      case _ =>
        val row = org.apache.spark.sql.Row(g1.n, g0.n, null, null, null,
          null, null)
        spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(row), 1), schema)
    }
  }
}
