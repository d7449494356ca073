package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.graft.CheckpointOps

/** Data-quality expectations (Deequ-style, declarative): per-row
  * predicates verified in ONE aggregation pass over the table, returned
  * as an auditable report DataFrame. The point of the single pass: a
  * 100 TB validation must not scan once per rule — every check folds
  * into the same partial aggregate (a handful of counters per
  * partition), and the report is rules-cardinality-sized.
  *
  * A NULL predicate result counts as a violation (a rule that cannot
  * evaluate did not pass — the conservative reading for gates).
  */
object Expectations {

  /** One expectation: `name`, a boolean per-row `predicate`, and the
    * violation rate the table is allowed before `passed` flips false
    * (0.0 = hard constraint). */
  final case class Check(name: String, predicate: Column,
      maxViolationRate: Double = 0.0)

  /** Run all checks in one pass. Returns one row per check:
    * (check, n_rows, n_violations, violation_rate, passed), ordered by
    * check name. An empty table passes every check (rate 0 over 0 rows).
    */
  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "no checks supplied")
    require(checks.map(_.name).distinct.size == checks.size,
      "duplicate check names")
    require(checks.forall(c =>
      c.maxViolationRate >= 0.0 && c.maxViolationRate <= 1.0),
      "maxViolationRate must be in [0,1]")
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = count(lit(1)).as("__n") +: checks.map(c =>
      sum(when(coalesce(c.predicate, lit(false)), 0L).otherwise(1L))
        .as(s"__v_${c.name}"))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    val out = checks.zipWithIndex.map { case (c, i) =>
      val v = if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1)
      val rate = if (n == 0L) 0.0 else v.toDouble / n
      (c.name, n, v, rate, rate <= c.maxViolationRate)
    }
    out.sortBy(_._1)
      .toDF("check", "n_rows", "n_violations", "violation_rate", "passed")
  }

  /** Key-uniqueness check as a report row — needs its own (hash-first)
    * aggregate, so it is not a per-row [[Check]]: the corpus-wide count
    * runs on `xxhash64(keys)` with map-side combine, and only colliding
    * hash groups re-verify on the true keys ([[Dedup.exactDupGroups]]'s
    * contract). `n_violations` = rows beyond the first of each duplicate
    * key group. */
  def uniquenessReport(df: DataFrame, keyCols: Seq[String],
      maxViolationRate: Double = 0.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.count()
    // exactDupGroups needs an id column; synthesize a unique one
    // (monotonically_increasing_id is per-row unique, never compared
    // across runs — only the group count is used)
    val withId = df.withColumn("__eid", monotonically_increasing_id())
    val dupRows = Dedup.exactDupGroups(withId, "__eid", keyCols)
      .agg(coalesce(sum(col("dup_count") - 1L), lit(0L)).as("extra"))
      .head().getLong(0)
    val rate = if (n == 0L) 0.0 else dupRows.toDouble / n
    Seq((s"unique(${keyCols.mkString(",")})", n, dupRows, rate,
      rate <= maxViolationRate))
      .toDF("check", "n_rows", "n_violations", "violation_rate", "passed")
  }

  /** Equi-width histogram of a numeric column — the distribution half of
    * column profiling ([[report]] answers rule questions, this answers
    * "what does the column LOOK like"): one map-side-combined count
    * aggregate to a bins-sized table, nothing else corpus-scale.
    *
    * Bins are half-open `[lo_edge, hi_edge)` over `[lo, hi)`; values
    * below `lo` land in bin −1 (underflow, NULL lo_edge), values ≥ `hi`
    * in bin `bins` (overflow, NULL hi_edge); NULLs and NaNs are
    * excluded (null RATES belong to [[report]]; a NaN is a value that
    * cannot be ordered into any bin), −Infinity lands in the underflow
    * bin and +Infinity in the overflow bin. Only non-empty bins appear — at 100 TB
    * a dense calendar of empty bins is presentation, not data. Bin
    * assignment and edges use one fixed double evaluation order
    * (`floor((x−lo)/width)`, `lo + bin·width`), so the q161 gate
    * hash-matches the oracle; `share` is each bin's fraction of counted
    * rows (window total over the bins-sized result, rounded to 6). */
  def histogram(df: DataFrame, value: Column, lo: Double, hi: Double,
      bins: Int): DataFrame = {
    require(bins > 0 && hi > lo, s"need bins > 0 and hi > lo")
    import org.apache.spark.sql.expressions.Window
    val width = (hi - lo) / bins
    val v = value.cast("double")
    // the long cast runs ONLY on finite in-range values: ±Infinity is
    // routed to the under/overflow bins by the raw-double comparisons
    // (floor of ±Inf is ±Inf, which compares correctly) and NaN is
    // excluded with NULLs BEFORE the cast — otherwise a single
    // non-finite value kills the whole profiling job under ANSI mode
    // (CAST_INVALID_INPUT / overflow) instead of binning or skipping
    val raw = floor((v - lit(lo)) / lit(width))
    val bin = when(raw < 0, lit(-1L))
      .when(raw >= bins, lit(bins.toLong))
      .otherwise(raw.cast("long"))
    val counted = df.filter(value.isNotNull && !isnan(v))
      .groupBy(bin.as("bin")).agg(count(lit(1)).as("cnt"))
    counted
      .withColumn("lo_edge",
        when(col("bin") === -1L, lit(null).cast("double"))
          .otherwise(round(lit(lo) + col("bin") * lit(width), 6)))
      .withColumn("hi_edge",
        when(col("bin") === bins.toLong, lit(null).cast("double"))
          .otherwise(round(lit(lo) + (col("bin") + 1) * lit(width), 6)))
      .withColumn("share",
        round(col("cnt").cast("double") /
          sum(col("cnt")).over(Window.partitionBy()), 6))
      .orderBy(col("bin"))
  }

  /** Quantile (equal-frequency) binning — [[histogram]]'s sibling for
    * skewed columns where fixed-width bins put 99% of rows in one bar:
    * rows are bucketed by the column's own quantile cuts, so every bin
    * holds ~1/bins of the data. Returns one row per non-empty bin:
    * (bin 1..bins, cnt, lo, hi) where lo/hi are the OBSERVED min/max
    * inside the bin (cuts themselves are reproducible from the row
    * boundaries). NULL and NaN rows are excluded like [[histogram]].
    *
    * Why not `ntile(bins)` over a global ORDER BY: that window moves
    * the entire table into ONE partition's sort. Here the cuts come
    * from a single percentile aggregate, and bin assignment is a
    * zero-shuffle codegen'd comparison chain against `bins−1` scalar
    * cuts — the table itself is never globally sorted. The exact
    * `percentile` aggregate buffers the column being profiled; at
    * 100 TB swap it for `percentile_approx`/KLL cuts (same plumbing,
    * one expression) — binning stays identical. A value equal to a cut
    * goes to the LOWER bin (`<= cut`), mirroring standard inclusive
    * upper-edge quantile semantics. */
  def quantileBins(df: DataFrame, value: Column, bins: Int): DataFrame = {
    require(bins > 1, s"need bins > 1, got $bins")
    val v = value.cast("double")
    val clean = df.filter(value.isNotNull && !isnan(v))
    val probs = (1 until bins).map(_.toDouble / bins)
    val cutsRow = clean.agg(percentile(v, lit(probs.toArray))).head()
    require(!cutsRow.isNullAt(0),
      "quantileBins: the column has no non-null finite values to bin")
    val cuts = cutsRow.getSeq[Double](0)
    val bin = cuts.zipWithIndex.foldRight(lit(bins.toLong)) {
      case ((cut, i), acc) => when(v <= cut, lit(i.toLong + 1)).otherwise(acc)
    }
    clean.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("cnt"), min(v).as("lo"), max(v).as("hi"))
      .orderBy(col("bin"))
  }

  /** Percentile winsorization — robust feature prep: values below the
    * `loP` quantile clip UP to it, values above `hiP` clip DOWN
    * (training-signal columns keep their distribution body while fat
    * tails stop dominating normalization). Cuts come from ONE exact
    * percentile aggregate (same small-stats contract as
    * [[quantileBins]]; swap `percentile_approx` in at 100 TB — one
    * expression, identical plumbing); clipping is a zero-shuffle
    * codegen'd comparison against two broadcast scalars. NULL passes
    * through; NaN passes through (it is not ordered, so it neither
    * clips nor escapes — flag it with [[report]]). Appends `outCol`. */
  def winsorize(df: DataFrame, value: Column, loP: Double, hiP: Double,
      outCol: String): DataFrame = {
    require(loP >= 0.0 && hiP <= 1.0 && loP < hiP,
      s"need 0 <= loP < hiP <= 1, got ($loP, $hiP)")
    require(!df.columns.contains(outCol),
      s"winsorize appends '$outCol', which already exists on the input")
    val v = value.cast("double")
    val cutsRow = df.filter(value.isNotNull && !isnan(v))
      .agg(percentile(v, lit(Array(loP, hiP)))).head()
    require(!cutsRow.isNullAt(0),
      "winsorize: the column has no non-null finite values to profile")
    val cuts = cutsRow.getSeq[Double](0)
    val (lo, hi) = (cuts(0), cuts(1))
    // NaN is guarded explicitly: Spark (and DuckDB) order NaN ABOVE
    // every double, so `v > hi` would silently clip NaN to the hi cut —
    // an unknown value must not masquerade as a large one
    df.withColumn(outCol,
      when(isnan(v), v)
        .when(v < lo, lit(lo)).when(v > hi, lit(hi)).otherwise(v))
  }

  /** Mutual information between two categorical columns — the
    * feature-association profile ("how much does `source` tell you
    * about `lang`?") behind mix audits and leakage checks (a split
    * column with high MI against the label column is a red flag).
    * Returns one row per observed (a, b) pair with its joint count and
    * probability, the pointwise mutual information
    * `pmi = ln(p(a,b) / (p(a)·p(b)))`, and `mi_part = p(a,b)·pmi` —
    * summing `mi_part` gives the table's total MI in nats.
    *
    * 100 TB shape: ONE map-side-combined count aggregate to a
    * (|A|·|B|)-sized table; marginals and totals are windows OVER THAT
    * table (pairs-sized, not corpus-sized). NULL categories form their
    * own class, like temperatureMix's null domain. */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val joint = df.groupBy(
        coalesce(col(aCol).cast("string"), lit("__null__")).as("a"),
        coalesce(col(bCol).cast("string"), lit("__null__")).as("b"))
      .agg(count(lit(1)).as("n"))
    val wa = Window.partitionBy(col("a"))
    val wb = Window.partitionBy(col("b"))
    val all = Window.partitionBy()
    val total = sum(col("n")).over(all)
    val pj = col("n").cast("double") / total.cast("double")
    val pmi = log((col("n").cast("double") * total.cast("double")) /
      (sum(col("n")).over(wa).cast("double") *
        sum(col("n")).over(wb).cast("double")))
    joint.select(col("a"), col("b"), col("n"),
        round(pj, 6).as("p_joint"),
        round(pmi, 6).as("pmi"),
        round(pj * pmi, 6).as("mi_part"))
      .orderBy(col("a"), col("b"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between a REFERENCE and a
    * CURRENT distribution — [[populationStability]]'s bin-free exact
    * companion (PSI depends on a binning choice; KS is the sup-distance
    * between the empirical CDFs themselves): `D = max_v |F_ref(v) −
    * F_cur(v)|`, the standard "did this column's distribution move"
    * gate. Returns one row (n_ref, n_cur, ks). NULL/NaN values are
    * excluded, matching PSI.
    *
    * Numerics: D = max |a·n_cur − b·n_ref| / (n_ref·n_cur) where a, b
    * are cumulative counts at each pooled distinct value — the
    * maximization runs over EXACT integers in DECIMAL(19/38,0) and the
    * division is the single double op: engine-bit-identical.
    *
    * Scale shape: one (value)-keyed count aggregate collapses the data
    * to distinct values, then the global cumulative sum runs
    * DISTRIBUTED — range repartition by value, per-bucket running sums,
    * bucket offsets from a buckets-sized broadcast ([[exactQuantiles]]'
    * machinery) — never a single-partition window. */
  def ksDrift(ref: DataFrame, cur: DataFrame, value: Column,
      buckets: Int = 64): DataFrame = {
    def side(df: DataFrame) = df
      .select(value.cast("double").as("value"))
      .filter(col("value").isNotNull && !isnan(col("value")))
      .groupBy(col("value")).agg(count(lit(1)).as("n"))
    ksDriftFromCounts(side(ref), side(cur), buckets)
  }

  /** [[ksDrift]] over PRE-COUNTED (value, n) tables — the form
    * streaming maintenance hands over
    * ([[graft.streaming.MicroBatch.readValueCounts]]): hot values stay
    * one row with a multiplicity instead of re-expanding to
    * observation rows. Columns: first = value, second = count. */
  def ksDriftFromCounts(refCounts: DataFrame, curCounts: DataFrame,
      buckets: Int = 64): DataFrame = {
    val d19 = "decimal(19,0)"
    def norm(df: DataFrame, tag: String) = {
      val Array(v, n) = df.columns.take(2)
      df.select(col(v).cast("double").as("__v"),
        col(n).cast("long").as(s"__c$tag"))
    }
    val byValue = norm(refCounts, "r")
      .join(norm(curCounts, "c"), Seq("__v"), "full")
      .select(col("__v"), coalesce(col("__cr"), lit(0L)).as("__cr"),
        coalesce(col("__cc"), lit(0L)).as("__cc"))
    val ranged = byValue
      .repartitionByRange(buckets, col("__v"))
      .withColumn("__b", spark_partition_id())
      // bucket ids must not re-randomize
      .transform(CheckpointOps(_, eager = false))
    val wB = Window.partitionBy(col("__b")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = ranged.groupBy(col("__b"))
      .agg(sum(col("__cr")).as("__tr"), sum(col("__cc")).as("__tc"))
      .select(col("__b"),
        coalesce(sum(col("__tr")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("__or"),
        coalesce(sum(col("__tc")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("__oc"))
    val totals = byValue.agg(
      sum(col("__cr")).cast(d19).as("__nr"),
      sum(col("__cc")).cast(d19).as("__nc"))
    val cums = ranged.join(broadcast(offs), Seq("__b"))
      .select(
        (col("__or") + sum(col("__cr")).over(wB)).cast(d19).as("__a"),
        (col("__oc") + sum(col("__cc")).over(wB)).cast(d19).as("__bb"))
    cums.crossJoin(broadcast(totals))
      .agg(max(col("__nr")).cast("bigint").as("n_ref"),
        max(col("__nc")).cast("bigint").as("n_cur"),
        max(abs(col("__a") * col("__nc") - col("__bb") * col("__nr")))
          .as("__num"))
      .select(col("n_ref"), col("n_cur"),
        (col("__num").cast("double") /
          (col("n_ref").cast(d19) * col("n_cur").cast(d19))
            .cast("double")).as("ks"))
  }

  /** Population Stability Index between a REFERENCE and a CURRENT
    * distribution of a score column — the standard drift gate an ML/
    * curation pipeline runs before trusting a refreshed corpus or a
    * retrained scorer (rule of thumb: Σ psi_part < 0.1 stable, > 0.25
    * act): bins come from the reference's equal-frequency quantile cuts
    * ([[quantileBins]]' contract — stats-sized driver scalars; swap
    * `percentile_approx` in at 100 TB), both datasets land in those
    * SAME bins via one codegen'd comparison chain, and
    * `psi_part = (cur_share − ref_share) · ln(cur_share / ref_share)`
    * per bin. A bin empty on either side yields NULL psi_part (ln of a
    * zero share is the caller's modeling decision — the standard ε-fudge
    * invents stability; surfacing NULL does not). Shares and psi stay
    * RAW doubles: each is a correctly-rounded division/log of exact
    * counts, already engine-identical, while rounding can land on exact
    * decimal ties (the q194 lesson). Output is bins-sized:
    * (bin, ref_n, cur_n, ref_share, cur_share, psi_part). */
  def populationStability(ref: DataFrame, cur: DataFrame, value: Column,
      bins: Int = 10): DataFrame = {
    require(bins > 1, s"need bins > 1, got $bins")
    import org.apache.spark.sql.expressions.Window
    val v = value.cast("double")
    val refClean = ref.filter(value.isNotNull && !isnan(v))
    val curClean = cur.filter(value.isNotNull && !isnan(v))
    val probs = (1 until bins).map(_.toDouble / bins)
    val cutsRow = refClean.agg(percentile(v, lit(probs.toArray))).head()
    require(!cutsRow.isNullAt(0),
      "populationStability: reference has no non-null finite values")
    val cuts = cutsRow.getSeq[Double](0)
    val bin = cuts.zipWithIndex.foldRight(lit(bins.toLong)) {
      case ((cut, i), acc) => when(v <= cut, lit(i.toLong + 1)).otherwise(acc)
    }
    val r = refClean.groupBy(bin.as("bin")).agg(count(lit(1)).as("ref_n"))
    val c = curClean.groupBy(bin.as("bin")).agg(count(lit(1)).as("cur_n"))
    val wAll = Window.partitionBy()
    val joinedBins = r.join(c, Seq("bin"), "full_outer")
      .na.fill(0L, Seq("ref_n", "cur_n"))
    val refShare = col("ref_n").cast("double") /
      sum(col("ref_n")).over(wAll).cast("double")
    val curShare = col("cur_n").cast("double") /
      sum(col("cur_n")).over(wAll).cast("double")
    joinedBins
      .withColumn("ref_share", refShare)
      .withColumn("cur_share", curShare)
      .withColumn("psi_part",
        when(col("ref_n") > 0 && col("cur_n") > 0,
          (col("cur_share") - col("ref_share")) *
            log(col("cur_share") / col("ref_share"))))
      .orderBy(col("bin"))
  }

  /** EXACT grouped quantiles at scale — the exact complement to
    * `percentile_approx` (q14) and the KLL sketches (t128): the lower
    * discrete quantile (the element at 1-based rank
    * `max(1, ceil(q·n))` in each group's value order), computed WITHOUT
    * a per-group window — a single low-cardinality group would
    * otherwise funnel its whole value set through one partition.
    *
    * Distributed-selection shape (the grouped form of
    * [[Linkage.globalRank]]): ONE range repartition on
    * (group, value, id) gives globally ordered buckets; per-bucket
    * windows are segmented by group WITHIN each bucket (bounded by
    * bucket size, never group size); global per-group ranks come from
    * a (groups × buckets)-sized offset table, broadcast back. Rank
    * targets are pure arithmetic on the group sizes, the selection is
    * a filter + one final pivot-style aggregate.
    *
    * Ties: values order by (value, id) internally, but the SELECTED
    * value at a rank is independent of how equal values are ordered,
    * so the result needs no tie documentation. Returns one row per
    * group: (groupCol, n, p<q·100> per requested q). */
  def exactQuantiles(df: DataFrame, groupCol: String, value: Column,
      qs: Seq[Double], idCol: String, buckets: Int = 64): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0,1], got $qs")
    val base = df.select(col(groupCol).as("__g"), value.as("__v"),
      col(idCol).as("__id"))
    val ranged = base
      .repartitionByRange(buckets, col("__g"), col("__v"), col("__id"))
      .withColumn("__b", spark_partition_id())
      // bucket ids must not re-randomize
      .transform(CheckpointOps(_, eager = false))
    val wB = Window.partitionBy(col("__b"), col("__g"))
      .orderBy(col("__v"), col("__id"))
    val counts = ranged.groupBy(col("__b"), col("__g"))
      .agg(count(lit(1)).as("__n"))
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__n")).over(
        Window.partitionBy(col("__g")).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__gn", sum(col("__n")).over(
        Window.partitionBy(col("__g"))))
      .select(col("__b"), col("__g"), col("__off"), col("__gn"))
    val ranked = ranged
      .withColumn("__r", row_number().over(wB))
      .join(broadcast(offsets), Seq("__b", "__g"))
      .withColumn("__rank", col("__off") + col("__r"))
    val targets = qs.map(q =>
      greatest(lit(1L), ceil(lit(q) * col("__gn")).cast("long")))
    val hits = ranked
      .filter(targets.map(col("__rank") === _).reduce(_ || _))
    hits.groupBy(col("__g").as(groupCol))
      .agg(max(col("__gn")).as("n"),
        qs.zip(targets).map { case (q, t) =>
          max(when(col("__rank") === t, col("__v")))
            .as(s"p${math.round(q * 100)}")
        }: _*)
  }

  /** Benford first-significant-digit profile — the forensic screen for
    * fabricated or mis-joined numeric columns (real-world growth
    * processes follow `P(d) = log₁₀(1 + 1/d)`; synthetic, capped, or
    * duplicated data does not): per digit 1–9 the observed count,
    * share, Benford expectation, and that digit's χ² contribution.
    * Sum the `chi2_part` column and compare against χ²₈ critical
    * values to alarm; large per-digit parts localize the distortion.
    *
    * `value` must be a POSITIVE integer-valued long (pre-scale decimals
    * with `round(x·100).cast("long")`): the digit comes from the exact
    * integer's decimal text, never from float `log₁₀` gymnastics whose
    * boundary rounding differs across engines. Counts are exact longs;
    * `share`, `expected`, `chi2_part` are fixed double expressions over
    * them (one `ln` each — deterministic in practice across IEEE
    * engines, the same contract as the PSI/collocation family).
    *
    * Scale: ONE digit-keyed aggregate (map-side combinable to ≤ 9
    * partials per partition) + a broadcast one-row total. */
  def benford(df: DataFrame, value: Column): DataFrame = {
    val digits = df.sparkSession.range(1, 10)
      .select(col("id").as("digit"))
    val counts = df
      .select(value.cast("long").as("__v"))
      .filter(col("__v") > 0)
      .select(substring(col("__v").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val full = digits.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"))
    val total = full.agg(sum(col("n")).as("__tot"))
    val e = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
      log(lit(10.0))
    val nD = col("n").cast("double")
    val tD = col("__tot").cast("double")
    full.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        (nD / tD).as("share"),
        e.as("expected"),
        ((nD - tD * e) * (nD - tD * e) / (tD * e)).as("chi2_part"))
  }

  /** Per-group Tukey boxplot fences over EXACT quartiles — the robust
    * outlier screen dashboards and data-quality gates draw as box
    * plots: p25/p50/p75 by [[exactQuantiles]]' distributed selection,
    * fences at `p25 − k·IQR` / `p75 + k·IQR` (k = 1.5 classic), and
    * the count of rows beyond each fence. Quartiles are order
    * statistics (values FROM the data — exact doubles), fences one
    * fixed double expression, outlier counts exact — fully
    * engine-deterministic, unlike stddev-based fences whose mean/var
    * accumulate float error.
    *
    * Scale: the quantile pass is [[exactQuantiles]]' range-repartition
    * machinery; the outlier count is one groups-sized broadcast join
    * back over the data + a map-side-combinable aggregate. */
  def tukeyFences(df: DataFrame, groupCol: String, value: Column,
      idCol: String, k: Double = 1.5, buckets: Int = 64): DataFrame = {
    require(k > 0, s"fence multiplier k must be > 0, got $k")
    val q = exactQuantiles(df, groupCol, value, Seq(0.25, 0.5, 0.75),
        idCol, buckets)
      .withColumn("lo_fence", col("p25") - lit(k) * (col("p75") - col("p25")))
      .withColumn("hi_fence", col("p75") + lit(k) * (col("p75") - col("p25")))
    val data = df.select(col(groupCol).as("__g"), value.as("__v"))
    data.join(broadcast(q.withColumnRenamed(groupCol, "__g")), Seq("__g"))
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("n")).as("n"),
        max(col("p25")).as("p25"), max(col("p50")).as("p50"),
        max(col("p75")).as("p75"),
        max(col("lo_fence")).as("lo_fence"),
        max(col("hi_fence")).as("hi_fence"),
        sum(when(col("__v") < col("lo_fence"), 1L).otherwise(0L))
          .as("n_low"),
        sum(when(col("__v") > col("hi_fence"), 1L).otherwise(0L))
          .as("n_high"))
  }

  /** k-anonymity / l-diversity audit (Sweeney 2002 / Machanavajjhala
    * 2007, the public privacy-release criteria): every quasi-identifier
    * combination whose group has fewer than `k` members (re-
    * identification risk) or fewer than `l` distinct sensitive values
    * (attribute-disclosure risk — everyone in the group shares the
    * secret). The pre-release gate a training-data pipeline runs before
    * shipping user-derived tables. Returns the VIOLATING groups:
    * (quasiCols*, group_size, sensitive_distinct).
    *
    * Scale: one aggregate keyed by the quasi-identifier tuple with
    * map-side combine; the distinct-count is exact (the violation
    * threshold `l` is small — an approximation that under- or
    * over-counts near the cut is the one place a privacy gate cannot
    * afford it). */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, k: Long, l: Long = 1L): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(k >= 1 && l >= 1, s"k and l must be >= 1, got k=$k l=$l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("sensitive_distinct"))
      .filter(col("group_size") < k || col("sensitive_distinct") < l)
  }

  /** Sequence completeness audit over an integer key per group — the
    * CDC/ingest completeness check ("did every order in the range
    * arrive, and did any arrive twice?"): with span = max−min+1,
    * `missing = span − n_distinct` and `duplicates = n − n_distinct`
    * are exact integers from ONE aggregate; `complete` iff both are 0.
    * A replication pipeline that silently dropped a batch shows as
    * missing; an at-least-once replay without dedup shows as
    * duplicates. Returns one row per group:
    * (group, n, n_distinct, min_key, max_key, span, missing,
    * duplicates, complete).
    *
    * Scale: one group×key-distinct aggregate with map-side combine
    * (count-distinct exact — a completeness gate cannot approximate),
    * then a group-sized reduction. */
  def sequenceAudit(df: DataFrame, groupCol: String, key: Column)
      : DataFrame = {
    df.filter(key.isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        countDistinct(key).as("n_distinct"),
        min(key).cast("long").as("min_key"),
        max(key).cast("long").as("max_key"))
      .select(col("group"), col("n"), col("n_distinct"), col("min_key"),
        col("max_key"),
        (col("max_key") - col("min_key") + 1L).as("span"),
        (col("max_key") - col("min_key") + 1L - col("n_distinct"))
          .as("missing"),
        (col("n") - col("n_distinct")).as("duplicates"))
      .withColumn("complete",
        col("missing") === 0L && col("duplicates") === 0L)
  }

  /** Right-to-erasure impact audit: for each (table, key) target, how
    * many rows does this delete-request batch touch? The governance
    * question before a GDPR/CCPA purge runs — and the cascade is
    * explicit: each target carries ITS OWN key set, so the caller
    * chains levels (customers → their orders → those orders' line
    * items) with ordinary semi-joins and the report stays one row per
    * table: (table, rows_total, rows_affected, share).
    *
    * Scale: per table one count + one semi-join count (the key set is
    * a delete-request batch — broadcast-sized by nature; Spark plans
    * the semi-join as a broadcast and the scan prunes to the key
    * column). Exact integer counts, `share` ONE double division. */
  def erasureAudit(targets: Seq[(String, DataFrame, Column, DataFrame)])
      : DataFrame = {
    require(targets.nonEmpty, "need at least one (table, df, key, keys)")
    targets.map { case (name, df, key, keys) =>
      require(keys.columns.length == 1,
        s"target '$name': the delete-key frame must have exactly one " +
          s"column, got ${keys.columns.mkString(", ")} — a silently " +
          "ignored column would under-scope the purge")
      val keyName = keys.columns.head
      val affected = df.join(
        broadcast(keys.select(col(keyName).as("__k")).distinct()),
        key === col("__k"), "left_semi")
      val total = df.agg(count(lit(1)).as("rows_total"))
      val hit = affected.agg(count(lit(1)).as("rows_affected"))
      total.crossJoin(hit) // two one-row frames
        .select(lit(name).as("table"), col("rows_total"),
          col("rows_affected"),
          when(col("rows_total") === 0L, lit(0.0d))
            .otherwise(col("rows_affected").cast("double") /
              col("rows_total").cast("double")).as("share"))
    }.reduce(_.union(_))
  }

  /** Weighted median per group by exact cumulative-weight selection —
    * the right "typical value" when rows carry unequal mass ("median
    * document length BY TOKEN COUNT", "median price by quantity"):
    * the unweighted median of a corpus where one doc is 1000× another
    * answers the wrong question. Returns the LOWER weighted median —
    * the smallest value v with 2·W(≤v) ≥ W_total — one row per group:
    * (group, total_weight, weighted_median). No interpolation, so the
    * answer is a value that EXISTS and the selection is exact integer
    * arithmetic (weights must be non-negative integers; scale
    * fractional weights upstream). Zero-weight-only groups are absent.
    *
    * Scale: one (group, value) weight-sum aggregate (map-side
    * combined), then a per-group window over DISTINCT-VALUE rows —
    * domain-sized, never row-scale; the doubled comparison avoids
    * both division and overflow-prone midpoints. */
  def weightedMedian(df: DataFrame, groupCol: String, value: Column,
      weight: Column): DataFrame = {
    val cells = df
      .filter(value.isNotNull && weight.isNotNull && weight > 0)
      .groupBy(col(groupCol).as("group"), value.as("__v"))
      .agg(sum(weight.cast("decimal(19,0)")).cast("decimal(19,0)")
        .as("__w"))
    val wSeq = Window.partitionBy(col("group")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("group"))
    cells
      .withColumn("__cum", sum(col("__w")).over(wSeq).cast("decimal(28,0)"))
      .withColumn("__tot", sum(col("__w")).over(wAll).cast("decimal(28,0)"))
      .filter(col("__cum") + col("__cum") >= col("__tot"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("group")).orderBy(col("__v"))))
      .filter(col("__rk") === 1)
      .select(col("group"), col("__tot").cast("decimal(19,0)")
        .as("total_weight"), col("__v").as("weighted_median"))
  }

  /** t-closeness audit over an ORDERED sensitive attribute —
    * [[kAnonymity]]'s distributional upgrade: a group can be k-anonymous
    * and l-diverse yet still leak ("every member of this quasi-group has
    * a quantity in the top decile"). Per quasi-group, the Earth Mover's
    * Distance between the group's sensitive-value distribution and the
    * GLOBAL one under the ordered-distance metric (Li, Li &
    * Venkatasubramanian, ICDE 2007):
    *
    *   EMD = Σ_v |CumP_group(v) − CumP_global(v)| / (m − 1)
    *
    * over the m observed domain values. Returns one row per group:
    * (quasi..., group_size, emd) — gate on `emd > t`.
    *
    * Exactness: each cumulative-probability difference is the rational
    * (cum_g·N − cum_G·n_g)/(n_g·N), so the numerators sum as exact
    * integers and ONE double division lands at the end — no float
    * accumulation across the domain.
    *
    * Scale: one (group, value) count aggregate over the table, a
    * broadcast domain-completion join (the cum-diff must advance even
    * where the group has no mass), and a per-group window over
    * group×domain-sized rows — never row-scale after the first
    * aggregate. The ordered domain must be modest (it is a privacy
    * attribute domain, not a corpus), guarded by `maxDomain`. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, maxDomain: Int = 10000): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    val rows = df
      .filter(col(sensitiveCol).isNotNull)
      .select(struct(quasiCols.map(col): _*).as("__q"),
        col(sensitiveCol).as("__v"))
    val cells = rows.groupBy(col("__q"), col("__v"))
      .agg(count(lit(1)).as("__c"))
      // domain + totals + the completion
      .transform(CheckpointOps(_, eager = false))
    val domain = cells.select(col("__v")).distinct()
    val m = domain.count()
    require(m <= maxDomain && m >= 2,
      s"sensitive domain has $m values — need 2..$maxDomain")
    val groups = cells.groupBy(col("__q")).agg(sum(col("__c")).as("__ng"))
    val total = cells.agg(sum(col("__c")).as("__nn"))
    val completed = groups
      .crossJoin(broadcast(domain))
      .join(cells, Seq("__q", "__v"), "left")
      .select(col("__q"), col("__ng"), col("__v"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    val globalByV = cells.groupBy(col("__v")).agg(sum(col("__c")).as("__cg"))
    val w = Window.partitionBy(col("__q")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    completed
      .join(broadcast(globalByV), Seq("__v"))
      .crossJoin(broadcast(total))
      // names must differ by MORE than case: Spark resolves column
      // names case-insensitively, so "__cumg"/"__cumG" would collide
      .withColumn("__cum_grp", sum(col("__c")).over(w))
      .withColumn("__cum_all", sum(col("__cg")).over(w))
      // |cum_g·N − cum_G·n_g| — exact integers (decimal-capped)
      .withColumn("__num",
        abs(col("__cum_grp").cast("decimal(19,0)") *
          col("__nn").cast("decimal(19,0)") -
          col("__cum_all").cast("decimal(19,0)") *
            col("__ng").cast("decimal(19,0)")).cast("decimal(38,0)"))
      .groupBy(col("__q"), col("__ng"), col("__nn"))
      .agg(sum(col("__num")).cast("decimal(38,0)").as("__s"))
      .select(
        quasiCols.map(c => col("__q").getField(c).as(c)) ++
          Seq(col("__ng").as("group_size"),
          (col("__s").cast("string").cast("double") /
            (col("__ng").cast("double") * col("__nn").cast("double") *
              lit((m - 1).toDouble))).as("emd")): _*)
  }

  /** Functional-dependency audit: for each candidate (determinant →
    * dependent) column pair, does every determinant value map to at
    * most one dependent value? One row per pair:
    * (determinant, dependent, n_det, violating_det, violation_rows,
    * max_fanout, fd_holds) where `violating_det` counts determinant
    * values with >1 distinct dependent, `violation_rows` the rows
    * living under them, and `max_fanout` the worst determinant's
    * distinct-dependent count. NULL dependents are ignored by the
    * distinct count (both engines agree); NULL determinants group as
    * one value, like GROUP BY does.
    *
    * The schema-discovery primitive behind "is this column a key?",
    * "did the 1:1 dim mapping break this load?", and candidate-key
    * mining. Deequ's `Uniqueness`/`UniqueValueRatio` cover the key
    * half; the dependency half is the classic TANE-style single-pass
    * check restricted to declared pairs.
    *
    * Scale: one aggregate per pair keyed by the determinant (map-side
    * combined, only the two columns scanned), then a pair-sized
    * reduction; nothing wider than the determinant's cardinality ever
    * shuffles, and the per-pair passes are independent Spark jobs over
    * a pruned scan. */
  def fdProfile(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "need at least one (determinant, dependent) pair")
    pairs.map { case (det, dep) =>
      df.select(col(det).as("__det"), col(dep).as("__dep"))
        .groupBy(col("__det"))
        .agg(count(lit(1)).as("__n"),
          countDistinct(col("__dep")).as("__nd"))
        .agg(
          count(lit(1)).as("n_det"),
          sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("violating_det"),
          sum(when(col("__nd") > 1, col("__n")).otherwise(0L))
            .as("violation_rows"),
          max(col("__nd")).as("max_fanout"))
        .select(lit(det).as("determinant"), lit(dep).as("dependent"),
          col("n_det"),
          col("violating_det"), col("violation_rows"), col("max_fanout"),
          (col("violating_det") === 0L).as("fd_holds"))
    }.reduce(_.union(_))
  }

  /** Per-column Shannon-entropy profile over categorical columns — the
    * "is this column informative at all?" screen of schema profiling
    * (entropy ≈ 0 → effectively constant; normalized entropy ≈ 1 →
    * near-uniform, likely an id in disguise when distinct ≈ rows). One
    * row per column: (column, n, n_distinct, entropy, normalized) with
    * entropy = ln N − (Σ c·ln c)/N in nats and `normalized` = entropy /
    * ln(n_distinct) (NULL for a constant column). NULLs are skipped (a
    * null is missingness, not a category).
    *
    * Exactness: counts are exact; each ln is rounded to 9 decimals and
    * cast to decimal — the [[graft.operators.TextAnalysis.zipfFit]]
    * route — so the Σ c·ln c accumulation is an exact decimal sum under
    * any partitioning, and the entropy combination is one fixed double
    * expression.
    *
    * Scale: one value-keyed count aggregate per column (map-side
    * combined, single-column scans), then a value-cardinality-sized
    * reduction. */
  def entropyProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    cols.map { c =>
      df.select(col(c).cast("string").as("__v"))
        .filter(col("__v").isNotNull)
        .groupBy(col("__v"))
        .agg(count(lit(1)).as("__c"))
        // (12,0)·(14,12) → (27,12): inside 38 digits in both engines
        // with no scale adjustment (counts per value must fit 12
        // digits; ln(c) < 28 fits 2 integer digits)
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("__c")).as("__n"),
          sum((col("__c").cast("decimal(12,0)") *
            round(log(col("__c").cast("double")), 9)
              .cast("decimal(14,12)")).cast("decimal(38,12)"))
            .cast("decimal(38,12)").as("__clnc"))
        .select(lit(c).as("col_name"), col("__n").as("n"),
          col("n_distinct"), {
            // final doubles round to 9: Math.log is a <=1-ulp intrinsic
            // on the JVM, not correctly rounded, so unrounded outputs
            // can differ from libm engines in the last bit
            val n = col("__n").cast("double")
            val ent = log(n) - dbl(col("__clnc")) / n
            round(ent, 9).as("entropy")
          })
        .select(col("col_name"), col("n"), col("n_distinct"),
          col("entropy"),
          when(col("n_distinct") <= 1, lit(null).cast("double"))
            .otherwise(round(col("entropy") /
              log(col("n_distinct").cast("double")), 9)).as("normalized"))
    }.reduce(_.union(_))
  }

  /** Exact pairwise Pearson correlation matrix over numeric columns —
    * the feature-redundancy screen of a profiling pass ("price and tax
    * are 0.99-correlated; drop one"). ONE map-side-combined aggregate
    * computes every sufficient statistic (n, Σxᵢ, Σxᵢ², Σxᵢxⱼ) as exact
    * decimals in a single corpus pass — p(p+3)/2 sums for p columns,
    * NOT p² passes; the upper-triangle rows are then carved out of that
    * single aggregate row. Each correlation casts its exact sums to
    * double via STRING and evaluates one fixed expression; constant
    * columns yield NULL. Rows with a NULL/NaN in ANY profiled column
    * are excluded (listwise deletion — all pairs see the same n, so the
    * matrix stays positive semi-definite).
    *
    * Values must fit `decimal(28,6)` per row (the [[graft.dsum]]
    * exactness envelope); at 100 TB the aggregate is the only
    * corpus-scale stage and it shuffles one row per map partition. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    // (18,6) inputs keep every product at (37,12) — inside 38 digits in
    // BOTH engines with no silent scale adjustment, so squares and
    // cross-products are exact (values must fit 12 integer digits)
    val dIn = "decimal(18,6)"
    val clean = df.filter(cols.map(c =>
      col(c).isNotNull && !isnan(col(c).cast("double"))).reduce(_ && _))
    val sums =
      Seq(count(lit(1)).as("__n")) ++
        cols.map(c => sum(col(c).cast(dIn)).cast("decimal(38,6)")
          .as(s"__s_$c")) ++
        cols.map(c => sum((col(c).cast(dIn) * col(c).cast(dIn))
          .cast("decimal(38,12)")).cast("decimal(38,12)")
          .as(s"__ss_$c")) ++
        cols.combinations(2).map { case Seq(a, b) =>
          sum((col(a).cast(dIn) * col(b).cast(dIn))
            .cast("decimal(38,12)")).cast("decimal(38,12)")
            .as(s"__sp_${a}__$b")
        }.toSeq
    val agg = clean.agg(sums.head, sums.tail: _*)
      // one row, carved p(p−1)/2 times
      .transform(CheckpointOps(_, eager = false))
    def dbl(c: Column): Column = c.cast("string").cast("double")
    cols.combinations(2).map { case Seq(a, b) =>
      val n = col("__n").cast("double")
      val (sa, sb) = (dbl(col(s"__s_$a")), dbl(col(s"__s_$b")))
      val (saa, sbb) = (dbl(col(s"__ss_$a")), dbl(col(s"__ss_$b")))
      val sab = dbl(col(s"__sp_${a}__$b"))
      val va = n * saa - sa * sa
      val vb = n * sbb - sb * sb
      agg.select(lit(a).as("col_a"), lit(b).as("col_b"),
        col("__n").as("n"),
        when(va === 0.0 || vb === 0.0, lit(null).cast("double"))
          .otherwise((n * sab - sa * sb) / sqrt(va * vb)).as("corr"))
    }.reduce(_.union(_))
  }

  /** Schema/profile drift between two snapshots of the same logical
    * table — the data-ops "did yesterday's load change shape?" gate
    * that row counts miss: per named column, both sides' row count,
    * NULL count and exact distinct count, plus the derived null rates
    * (one exact division each) and the distinct ratio (b/a, NULL when
    * a has none). A column whose null rate jumps or whose distinct
    * count collapses flags an upstream extraction bug before any
    * value-level diff runs.
    *
    * Scale shape: ONE aggregate per side computing every column's
    * three stats in a single corpus pass each (count-distincts expand
    * internally, still map-side partial), one row out per side, fanned
    * to per-column rows via posexplode of zipped literal arrays —
    * never a per-column scan. Returns (col_name, n_a, nulls_a,
    * distinct_a, n_b, nulls_b, distinct_b, null_rate_a, null_rate_b,
    * distinct_ratio). */
  def schemaDrift(a: DataFrame, b: DataFrame, cols: Seq[String])
      : DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    def profile(df: DataFrame, tag: String): DataFrame = {
      val aggs = cols.flatMap { c => Seq(
        count(lit(1)).as(s"__n_${c}"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nul_${c}"),
        countDistinct(col(c)).as(s"__d_${c}"))
      }
      df.agg(aggs.head, aggs.tail: _*)
        .select(posexplode(arrays_zip(
            array(cols.map(c => lit(c)): _*),
            array(cols.map(c => col(s"__n_${c}")): _*),
            array(cols.map(c => col(s"__nul_${c}")): _*),
            array(cols.map(c => col(s"__d_${c}")): _*)))
          .as(Seq("__i", "__z")))
        .select(col("__z").getField("0").as("col_name"),
          col("__z").getField("1").as(s"n_$tag"),
          col("__z").getField("2").as(s"nulls_$tag"),
          col("__z").getField("3").as(s"distinct_$tag"))
    }
    profile(a, "a").join(profile(b, "b"), Seq("col_name"))
      .select(col("col_name"), col("n_a"), col("nulls_a"),
        col("distinct_a"), col("n_b"), col("nulls_b"),
        col("distinct_b"),
        when(col("n_a") === 0, lit(null).cast("double"))
          .otherwise(col("nulls_a").cast("double") /
            col("n_a").cast("double")).as("null_rate_a"),
        when(col("n_b") === 0, lit(null).cast("double"))
          .otherwise(col("nulls_b").cast("double") /
            col("n_b").cast("double")).as("null_rate_b"),
        when(col("distinct_a") === 0, lit(null).cast("double"))
          .otherwise(col("distinct_b").cast("double") /
            col("distinct_a").cast("double")).as("distinct_ratio"))
  }

  /** Referential-integrity audit — "does every child row's foreign key
    * resolve to a parent?": exact child row count, NULL-key rows
    * (excluded from orphan matching — NULL FK is its own signal),
    * orphan rows and distinct orphan keys from one anti-join against
    * the distinct parent keys, and the orphan rate (ONE division). The
    * load-order/partial-load bug detector a row-count diff misses.
    *
    * Scale: one distinct on the parent key (key-domain-sized), one
    * LEFT ANTI equi-join (AQE broadcasts small parents, shuffles
    * otherwise), three one-row aggregates. One row:
    * (child_rows, null_key_rows, orphan_rows, orphan_keys,
    * orphan_rate). */
  def referentialIntegrity(child: DataFrame, childKey: Column,
      parent: DataFrame, parentKey: Column): DataFrame = {
    val c = child.select(childKey.as("__k"))
      .transform(CheckpointOps(_, eager = false)) // totals + the anti-join
    val totals = c.agg(count(lit(1)).as("child_rows"),
      sum(when(col("__k").isNull, 1L).otherwise(0L))
        .as("null_key_rows"))
    val orphans = c.filter(col("__k").isNotNull)
      .join(parent.select(parentKey.as("__p"))
        .filter(col("__p").isNotNull).distinct(),
        col("__k") === col("__p"), "left_anti")
      .agg(count(lit(1)).as("orphan_rows"),
        countDistinct(col("__k")).as("orphan_keys"))
    totals.crossJoin(broadcast(orphans))
      .select(col("child_rows"), col("null_key_rows"),
        col("orphan_rows"), col("orphan_keys"),
        when(col("child_rows") === 0, lit(null).cast("double"))
          .otherwise(col("orphan_rows").cast("double") /
            col("child_rows").cast("double")).as("orphan_rate"))
  }

  /** Category-set drift between two snapshots of a categorical column
    * — [[schemaDrift]]'s value-level companion: which categories are
    * NEW in b, which VANISHED from a, how large the shared core is,
    * and the set Jaccard. A renamed enum value or a dropped upstream
    * partition shows here while row counts and null rates stay flat.
    * One row: (distinct_a, distinct_b, shared, new_in_b, lost_from_a,
    * jaccard).
    *
    * Scale: one distinct per side (category-domain-sized), one
    * full-outer join of the two category sets, one reduce. */
  def categoryDrift(a: DataFrame, b: DataFrame, column: String)
      : DataFrame = {
    val da = a.select(col(column).as("__v")).filter(col("__v").isNotNull)
      .distinct().withColumn("__ina", lit(1L))
    val db = b.select(col(column).as("__v")).filter(col("__v").isNotNull)
      .distinct().withColumn("__inb", lit(1L))
    da.join(db, Seq("__v"), "full_outer")
      .agg(sum(coalesce(col("__ina"), lit(0L))).as("distinct_a"),
        sum(coalesce(col("__inb"), lit(0L))).as("distinct_b"),
        sum(when(col("__ina").isNotNull && col("__inb").isNotNull, 1L)
          .otherwise(0L)).as("shared"),
        sum(when(col("__ina").isNull, 1L).otherwise(0L)).as("new_in_b"),
        sum(when(col("__inb").isNull, 1L).otherwise(0L))
          .as("lost_from_a"))
      .select(col("distinct_a"), col("distinct_b"), col("shared"),
        col("new_in_b"), col("lost_from_a"),
        when(col("distinct_a") + col("distinct_b") - col("shared") === 0,
            lit(null).cast("double"))
          .otherwise(col("shared").cast("double") /
            (col("distinct_a") + col("distinct_b") - col("shared"))
              .cast("double")).as("jaccard"))
  }

  /** Row-level diff of two table snapshots by key — the "what actually
    * changed between yesterday's load and today's" audit that
    * [[schemaDrift]] (profile deltas) and [[categoryDrift]] (domain
    * deltas) cannot answer: per compared column, how many keys were
    * added, removed, or CHANGED IN THAT COLUMN, plus the any-column
    * change count. NULL-safe throughout (`<=>`): a NULL→value flip
    * counts as a change, a NULL key matches a NULL key.
    *
    * Scale: ONE full-outer join on the key (both sides corpus-scale —
    * the one unavoidable shuffle; AQE picks sort-merge) and ONE
    * aggregate computing every count; the per-column rows fan out of
    * the single aggregate row via posexplode (the lorenzCurve
    * pattern — no per-column plan copies, no second scan). Keys are
    * assumed unique per snapshot (it is a KEY diff; pre-aggregate
    * duplicates upstream). Returns one row per compared column:
    * (col_name, n_before, n_after, added, removed, changed_any,
    * changed_in_col). */
  def tableDiff(before: DataFrame, after: DataFrame,
      keyCols: Seq[String], compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "tableDiff needs at least one key column")
    require(compareCols.nonEmpty,
      "tableDiff needs at least one compare column")
    val b = before
      .select((keyCols ++ compareCols).map(c => col(c).as(s"__b_$c")): _*)
      .withColumn("__pb", lit(1L))
    val a = after
      .select((keyCols ++ compareCols).map(c => col(c).as(s"__a_$c")): _*)
      .withColumn("__pa", lit(1L))
    val on = keyCols.map(k => col(s"__b_$k") <=> col(s"__a_$k"))
      .reduce(_ && _)
    val j = b.join(a, on, "full_outer")
    val both = col("__pb").isNotNull && col("__pa").isNotNull
    val colDiff = compareCols.map(c =>
      both && !(col(s"__b_$c") <=> col(s"__a_$c")))
    val anyDiff = colDiff.reduce(_ || _)
    val aggCols = Seq(
      sum(coalesce(col("__pb"), lit(0L))).as("__nb"),
      sum(coalesce(col("__pa"), lit(0L))).as("__na"),
      sum(when(col("__pb").isNull, 1L).otherwise(0L)).as("__add"),
      sum(when(col("__pa").isNull, 1L).otherwise(0L)).as("__rem"),
      sum(when(anyDiff, 1L).otherwise(0L)).as("__chg")) ++
      compareCols.zip(colDiff).map { case (c, d) =>
        sum(when(d, 1L).otherwise(0L)).as(s"__c_$c")
      }
    j.agg(aggCols.head, aggCols.tail: _*)
      .select(col("__nb"), col("__na"), col("__add"), col("__rem"),
        col("__chg"),
        posexplode(map(compareCols.flatMap(c =>
          Seq(lit(c), col(s"__c_$c"))): _*)))
      .select(col("key").as("col_name"),
        col("__nb").as("n_before"), col("__na").as("n_after"),
        col("__add").as("added"), col("__rem").as("removed"),
        col("__chg").as("changed_any"),
        col("value").as("changed_in_col"))
  }

  /** Data-freshness report per group — the "is this feed still
    * arriving?" monitor every ingestion DAG needs beside its
    * correctness checks: per group, the newest event time, the lag
    * against an explicit `asOf` instant (a PARAMETER, never wall
    * clock — the report is reproducible and testable), and a
    * staleness flag at `maxLagSeconds`. Groups are reported even when
    * their newest row is NULL-timestamped (all-NULL group → NULL lag,
    * stale = true: a feed whose timestamps vanished is the worst kind
    * of stale).
    *
    * Numerics: lag is exact integer microseconds
    * (`unix_micros(asOf) − unix_micros(max ts)`) divided once to
    * seconds. Scale: ONE group-keyed map-side-combined max aggregate —
    * no window, no join. Returns (group, n, last_ts, lag_seconds,
    * stale) ordered by group. */
  def freshness(df: DataFrame, groupCol: String, tsCol: Column,
      asOf: String, maxLagSeconds: Long): DataFrame = {
    require(maxLagSeconds >= 0,
      s"maxLagSeconds must be non-negative, got $maxLagSeconds")
    val asOfTs = to_timestamp(lit(asOf))
    // Eager parameter validation (one 1-row local evaluation, exactly
    // to_timestamp's semantics — ANSI throws, non-ANSI NULLs; both
    // collapse to one clear parameter error here): an unparseable asOf
    // would otherwise NULL every group's lag and flag every feed stale
    // — an invalid PARAMETER indistinguishable from "every feed is
    // dead", in the function whose whole point is a reproducible
    // explicit instant.
    val asOfOk =
      try !df.sparkSession.range(1).select(asOfTs).head.isNullAt(0)
      catch { case _: Exception => false }
    require(asOfOk,
      s"freshness: unparseable asOf instant '$asOf' — use an ISO " +
        "timestamp like '2024-01-01 00:00:00'")
    df.select(col(groupCol).as("group"), tsCol.as("__ts"))
      .filter(col("group").isNotNull)
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n"), max(col("__ts")).as("last_ts"))
      .select(col("group"), col("n"), col("last_ts"),
        // floor, not cast-truncate: CAST(double AS BIGINT) rounds in
        // some engines and truncates in others — floor is unambiguous
        floor((unix_micros(asOfTs) - unix_micros(col("last_ts")))
          .cast("double") / 1000000.0).cast("long").as("lag_seconds"))
      .withColumn("stale",
        col("lag_seconds").isNull ||
          col("lag_seconds") > maxLagSeconds)
      .orderBy(col("group"))
  }

  /** Chi-square test of independence between two categorical columns —
    * "does the label distribution actually depend on the source?", the
    * contingency-table sibling of
    * [[graft.operators.Experiment.sampleRatioMismatch]] (which tests
    * counts against a DESIGNED ratio, not against independence):
    * `χ² = Σ_cells (o − n·pᵣ·p_c)²/(n·pᵣ·p_c)` over the r×c table,
    * dof = (r−1)(c−1), with the p-value from the Wilson–Hilferty
    * cube-root normal approximation (closed form — no incomplete
    * gamma; |error| < 1e-3 for dof ≥ 1, and χ²/dof are emitted exact
    * for anyone who wants a library-grade tail).
    *
    * Numerics: observed counts and both marginals are exact integers
    * from ONE aggregate each (cells, rows, cols — the contingency
    * table is category²-sized, report-shaped); each cell's χ²
    * contribution `(n·o − rᵢ·c_j)²/(n·rᵢ·c_j)` is a fixed double
    * expression of exact integer products, pico-quantized and summed
    * order-free. NULL-category rows are excluded. Returns ONE row:
    * (n, rows, cols, dof, chi2, p_value). */
  def chiSquareIndependence(df: DataFrame, colA: Column, colB: Column)
      : DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df.select(colA.cast("string").as("__a"),
        colB.cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .transform(CheckpointOps(_, eager = false)) // cells + two marginals
    val cells = base.groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__o"))
    val ra = base.groupBy(col("__a")).agg(count(lit(1)).as("__ra"))
    val cb = base.groupBy(col("__b")).agg(count(lit(1)).as("__cb"))
    val tot = base.agg(count(lit(1)).as("__n"),
      countDistinct(col("__a")).as("rows"),
      countDistinct(col("__b")).as("cols"))
    // (n·o − r·c)² / (n·r·c): exact integer products on decimal(38),
    // one double division per cell, pico-quantized order-free sum
    val nO = (d19(col("__n")) * d19(col("__o"))).cast("decimal(38,0)")
    val rc = (d19(col("__ra")) * d19(col("__cb"))).cast("decimal(38,0)")
    val diff = dbl(nO - rc)
    val part = diff * diff /
      (col("__n").cast("double") * dbl(rc))
    val chi2sum = cells
      .join(ra, Seq("__a")).join(cb, Seq("__b"))
      .crossJoin(broadcast(tot))
      .agg(sum(floor(round(part, 9) * lit(1000000000000.0) + 0.5)
        .cast("decimal(28,0)")).cast("decimal(28,0)").as("__x"))
    val dof = (col("rows") - 1) * (col("cols") - 1)
    val x = col("__x").cast("string").cast("double") / 1.0e12
    val k = dof.cast("double")
    // Wilson–Hilferty: (χ²/k)^⅓ ~ N(1 − 2/(9k), 2/(9k))
    val z = (cbrt(x / k) - (lit(1.0) - lit(2.0) / (lit(9.0) * k))) /
      sqrt(lit(2.0) / (lit(9.0) * k))
    // one-sided upper tail via the A&S erfc polynomial on |z|
    val zz = abs(z) / lit(math.sqrt(2.0))
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * zz)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) +
        u * lit(1.061405429)))))
    val halfErfc = poly * exp(-zz * zz) / 2.0
    val p = when(z >= 0, halfErfc).otherwise(lit(1.0) - halfErfc)
    tot.crossJoin(broadcast(chi2sum))
      .select(col("__n").as("n"), col("rows"), col("cols"),
        dof.cast("long").as("dof"),
        round(x, 9).as("chi2"),
        when(dof > 0, p).as("p_value"))
  }

  /** G-test (log-likelihood-ratio) of independence between two
    * categorical columns — [[chiSquareIndependence]]'s
    * information-theoretic twin: `G = 2·Σ_cells o·ln(o·n/(rᵢ·c_j))`
    * over the OBSERVED cells (an absent cell contributes 0 — the
    * 0·ln 0 limit), referred to the same χ²((r−1)(c−1)) tail. G is
    * additive across partitions of the table (χ² is not) and is the
    * statistic behind Dunning's collocation LLR, so the same numbers
    * screen both contingency audits and term associations. p-value via
    * Wilson–Hilferty on the A&S erfc polynomial, exactly the χ² block.
    *
    * Numerics: counts and marginals are exact integers; each cell's
    * term `2·o·(ln(n·o) − ln(rᵢ·c_j))` is a fixed double expression of
    * exact integer products (both ln arguments are exactly
    * representable products ≤ 10³⁸ cast to double the same way in any
    * engine), pico-quantized and summed order-free. Returns ONE row:
    * (n, rows, cols, dof, g_stat, p_value). */
  def gTestIndependence(df: DataFrame, colA: Column, colB: Column)
      : DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df.select(colA.cast("string").as("__a"),
        colB.cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .transform(CheckpointOps(_, eager = false)) // cells + two marginals
    val cells = base.groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__o"))
    val ra = base.groupBy(col("__a")).agg(count(lit(1)).as("__ra"))
    val cb = base.groupBy(col("__b")).agg(count(lit(1)).as("__cb"))
    val tot = base.agg(count(lit(1)).as("__n"),
      countDistinct(col("__a")).as("rows"),
      countDistinct(col("__b")).as("cols"))
    val nO = (d19(col("__n")) * d19(col("__o"))).cast("decimal(38,0)")
    val rc = (d19(col("__ra")) * d19(col("__cb"))).cast("decimal(38,0)")
    val part = lit(2.0) * col("__o").cast("double") *
      (log(dbl(nO)) - log(dbl(rc)))
    val gSum = cells
      .join(ra, Seq("__a")).join(cb, Seq("__b"))
      .crossJoin(broadcast(tot))
      .agg(sum(floor(round(part, 9) * lit(1000000000000.0) + 0.5)
        .cast("decimal(28,0)")).cast("decimal(28,0)").as("__x"))
    val dof = (col("rows") - 1) * (col("cols") - 1)
    val x = col("__x").cast("string").cast("double") / 1.0e12
    val k = dof.cast("double")
    val z = (cbrt(x / k) - (lit(1.0) - lit(2.0) / (lit(9.0) * k))) /
      sqrt(lit(2.0) / (lit(9.0) * k))
    val zz = abs(z) / lit(math.sqrt(2.0))
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * zz)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) +
        u * lit(1.061405429)))))
    val halfErfc = poly * exp(-zz * zz) / 2.0
    val p = when(z >= 0, halfErfc).otherwise(lit(1.0) - halfErfc)
    tot.crossJoin(broadcast(gSum))
      .select(col("__n").as("n"), col("rows"), col("cols"),
        dof.cast("long").as("dof"),
        round(x, 9).as("g_stat"),
        when(dof > 0, p).as("p_value"))
  }

  /** Per-group MAD (median absolute deviation) profile + robust
    * outlier count — the outlier screen that survives what breaks
    * z-scores (the outliers themselves inflate mean and σ; median and
    * MAD have a 50% breakdown point): per group, the exact LOWER
    * median m, `MAD = lower-median(|x − m|)`, and how many values
    * exceed the robust z cut `|x − m| > z·1.4826·MAD` (1.4826 is the
    * normal-consistency constant).
    *
    * Numerics: values quantize to `floor(v·10⁶+0.5)` micro-integers
    * (NaN/Inf excluded); both medians are exact integer selections
    * over (group, value) count tables — the q250/readGroupedMedian
    * doubled-cumulative rule, never re-expanding multiplicities — so
    * the profile is identical at any partitioning. A zero MAD (over
    * half the group identical) yields NULL n_outliers: the robust z
    * is undefined there, and silently flagging every non-median value
    * is the wrong default.
    *
    * Scale: two count-table median passes + one screening aggregate,
    * all group-keyed and map-side combined; the medians join back at
    * group cardinality. Returns (group, n, median, mad, n_outliers). */
  def madProfile(df: DataFrame, groupCol: String, value: Column,
      zThreshold: Double = 3.5): DataFrame = {
    require(zThreshold > 0, s"zThreshold must be > 0, got $zThreshold")
    val base = df
      .select(col(groupCol).as("group"), value.cast("double").as("__vm"))
      .filter(col("group").isNotNull && col("__vm").isNotNull &&
        !isnan(col("__vm")) &&
        abs(col("__vm")) < lit(Double.PositiveInfinity))
      .select(col("group"),
        floor(col("__vm") * 1000000.0 + 0.5).cast("long").as("__v"))
      .transform(CheckpointOps(_, eager = false)) // median + deviation + screen
    // exact LOWER median from a (group, value) count table: first value
    // whose doubled cumulative count reaches the group total
    def lowerMedian(in: DataFrame, out: String): DataFrame = {
      val counts = in.groupBy(col("group"), col("__v"))
        .agg(count(lit(1)).as("__n"))
      val wCum = Window.partitionBy(col("group")).orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("group"))
      val wPick = Window.partitionBy(col("group")).orderBy(col("__v"))
      counts
        .withColumn("__cum", sum(col("__n")).over(wCum))
        .withColumn("__tot", sum(col("__n")).over(wAll))
        .filter(col("__cum") + col("__cum") >= col("__tot"))
        .withColumn("__rk", row_number().over(wPick))
        .filter(col("__rk") === 1)
        .select(col("group"), col("__tot").as(s"${out}_n"),
          col("__v").as(out))
    }
    val med = lowerMedian(base, "__med")
    val dev = base.join(med, Seq("group"))
      .select(col("group"), abs(col("__v") - col("__med")).as("__v"))
    val mad = lowerMedian(dev, "__mad").drop("__mad_n")
    val cut = lit(zThreshold * 1.4826) * col("__mad").cast("double")
    base.join(med, Seq("group")).join(mad, Seq("group"))
      .groupBy(col("group"))
      .agg(first(col("__med_n")).as("n"),
        first(col("__med")).as("__m"),
        first(col("__mad")).as("__d"),
        sum(when(abs(col("__v") - col("__med")).cast("double") > cut,
          1L).otherwise(0L)).as("__out"))
      .select(col("group"), col("n"),
        (col("__m").cast("double") / 1000000.0).as("median"),
        (col("__d").cast("double") / 1000000.0).as("mad"),
        when(col("__d") > 0, col("__out")).as("n_outliers"))
  }

  /** Differentially-private noisy count release — the publication side
    * of the privacy family ([[kAnonymity]] / [[tCloseness]] audit what
    * is risky; this RELEASES a histogram with an (ε, 0)-DP guarantee):
    * per group the exact count plus Laplace(1/ε) noise (count queries
    * have sensitivity 1), via inverse-CDF sampling
    * `−(1/ε)·sign(u−½)·ln(1−2|u−½|)` of a per-group uniform.
    *
    * The uniform is SEEDED: `u` derives from `xxhash64(groupCols…,
    * seed)`, so a release is reproducible run-to-run and across
    * engines (the pipeline-audit property every other operator here
    * has) — equivalently, the seed selects one fixed draw from the
    * Laplace mechanism; publishing MULTIPLE releases of the same data
    * under different seeds composes ε additively, exactly like any
    * repeated DP query, and callers own that budget.
    *
    * `suppressBelow`: groups whose NOISY count falls below the
    * threshold are dropped — the standard mitigation for the fact
    * that a data-derived group list is itself a presence signal
    * (thresholded release). The exact count never appears in the
    * output. Returns (groupCols…, noisy_count, epsilon).
    *
    * Scale: ONE map-side-combined count aggregate; noise is a per-GROUP
    * expression on the group-cardinality result — nothing else moves. */
  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String],
      epsilon: Double, seed: Long = 42L,
      suppressBelow: Double = 0.0): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(epsilon > 0.0, s"epsilon must be positive, got $epsilon")
    val counts = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    // u ∈ (0,1): signed-long hash → [−½,½) → shift; clamp off the exact
    // endpoints so ln(1−2|u−½|) stays finite
    val u0 = (xxhash64((groupCols.map(col) :+ lit(seed)): _*)
      .cast("double") / lit(math.pow(2.0, 64))) + lit(0.5)
    val u = least(greatest(u0, lit(1e-12)), lit(1.0 - 1e-12))
    val noise = (-lit(1.0 / epsilon)) * signum(u - 0.5) *
      log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    counts
      .withColumn("noisy_count", col("__n").cast("double") + noise)
      .filter(col("noisy_count") >= lit(suppressBelow))
      .select(groupCols.map(col) :+ col("noisy_count") :+
        lit(epsilon).as("epsilon"): _*)
  }
}
