package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

/** Cohort retention analysis — the companion question to [[Funnel]]:
  * "of the entities whose FIRST activity fell in period P, how many were
  * still active k periods later?" (event-collector downstream analytics,
  * same family as the reference's log-service ingest consumers).
  *
  * Scale shape: one aggregate on the entity key for first-activity
  * periods (map-side combined), one DISTINCT on (entity, period) —
  * active periods per entity, bounded by the calendar, not the event
  * count — then an equi-join of two entity-keyed tables that hash-
  * partition together, and a final cohort×offset aggregate whose output
  * is calendar²-sized. No window over raw events, no driver state.
  */
object Retention {

  /** Retention matrix: (cohort, offset, active, cohort_size, retention).
    * `cohort` = the entity's first-activity period (`date_trunc(period)`),
    * `offset` = whole periods since the cohort period, `active` = distinct
    * cohort members with any event in that period, `retention` =
    * active / cohort_size rounded to 6 places (offset 0 is 1.0 by
    * construction). `period` is a `date_trunc` unit: "week", "month",
    * "day". */
  def cohorts(events: DataFrame, entity: String, ts: String,
      period: String = "week"): DataFrame = {
    val perDay = Map("day" -> 1L, "week" -> 7L)
    require(perDay.contains(period) || period == "month",
      s"period must be day/week/month, got $period")
    // entity-keyed, consumed twice (the activity join and the cohort
    // sizes) — truncate lineage so the corpus-wide first-activity agg
    // runs once (lazy: materializes on first use)
    val firsts = events
      .groupBy(col(entity))
      .agg(min(date_trunc(period, col(ts))).as("cohort"))
      .transform(CheckpointOps(_, eager = false))
    val active = events
      .select(col(entity), date_trunc(period, col(ts)).as("p"))
      .distinct()
    val offset = period match {
      case "month" =>
        // month lengths vary — count month boundaries, not days
        (months_between(col("p"), col("cohort"))).cast("long")
      case p =>
        floor(datediff(col("p"), col("cohort")) / lit(perDay(p).toDouble))
          .cast("long")
    }
    val joined = active.join(firsts, entity)
      .select(col(entity), col("cohort"), offset.as("offset"))
    val grid = joined.groupBy(col("cohort"), col("offset"))
      .agg(count(lit(1)).as("active")) // (entity, period) already distinct
    val sizes = firsts.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    grid.join(broadcast(sizes), "cohort") // calendar-sized build side
      .select(col("cohort"), col("offset"), col("active"),
        col("cohort_size"),
        round(col("active").cast("double") /
          col("cohort_size").cast("double"), 6).as("retention"))
      .orderBy(col("cohort"), col("offset"))
  }

  /** Discrete churn life table (hazard curve) — [[cohorts]] answers "how
    * many came back?", this answers "WHEN do they leave?": per activity
    * age `a` (days between a user's first and last observed event), the
    * population still at risk, the churn events, and the discrete hazard
    * `churned / at_risk`.
    *
    * Censoring, the part a naive churn count gets wrong: a user last
    * seen within `censorGuardDays` of the corpus' end may simply not
    * have come back YET — they count as AT RISK through their observed
    * age but never as a churn event (right-censoring at last
    * observation, the Kaplan-Meier life-table convention). Without the
    * guard every active user looks churned at the observation boundary
    * and the tail hazard explodes.
    *
    * `hazard` is one double division of exact integer counts — no
    * rounding, bit-identical in any engine. Scale shape: one entity
    * aggregate (first/last day), a 1-row corpus-end scalar broadcast,
    * an ages-sized count table and one window cumsum over THAT — the
    * at-risk tally never touches events again. Rows: one per observed
    * age, descending-age cumulative at-risk. */
  def hazard(events: DataFrame, entity: String, ts: String,
      censorGuardDays: Int = 7): DataFrame = {
    require(censorGuardDays >= 0, s"bad censorGuardDays $censorGuardDays")
    import org.apache.spark.sql.expressions.Window
    // portable integer day index (same discipline as groupSplit's weeks)
    val day = datediff(to_date(col(ts)), lit("1970-01-01"))
    val spans = events
      .groupBy(col(entity))
      .agg(min(day).as("__f"), max(day).as("__l"))
    val corpusEnd = spans.agg(max(col("__l")).as("__end"))
    val aged = spans.crossJoin(broadcast(corpusEnd))
      .select((col("__l") - col("__f")).as("age_days"),
        (col("__end") - col("__l") < censorGuardDays).as("__censored"))
    val perAge = aged.groupBy(col("age_days"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__censored"), 0L).otherwise(1L)).as("n_churned"),
        sum(when(col("__censored"), 1L).otherwise(0L)).as("n_censored"))
    // at_risk(a) = users with age >= a: reverse-cumulative over the
    // ages-sized table
    val w = Window.orderBy(col("age_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perAge
      .withColumn("n_at_risk", sum(col("__n")).over(w))
      .select(col("age_days").cast("long").as("age_days"),
        col("n_at_risk"), col("n_churned"), col("n_censored"),
        (col("n_churned").cast("double") /
          col("n_at_risk").cast("double")).as("hazard"))
      .orderBy(col("age_days"))
  }

  /** RFM segmentation (the classic recency/frequency/monetary value
    * tiling): per entity, days since last activity, event count, and
    * exact-decimal spend, each tiled 1..`buckets` with score 1 = BEST
    * (most recent / most frequent / highest spend). `segment` packs the
    * three digits (r·100 + f·10 + m — "111" is the champion cell).
    *
    * Tiles are computed from [[Linkage.globalRank]]'s DISTRIBUTED rank
    * (range repartition + prefix offsets) — never a single-partition
    * NTILE window, which is the classic scale trap on a billions-of-
    * users table. The tile formula `((rank−1)·b) div n + 1` is pure
    * integer arithmetic over the rank, so any engine reproduces the
    * exact cut; ties order by (metric, entity) — total, deterministic.
    * Recency is exact integer microseconds against the corpus max (one
    * broadcast scalar); monetary sums route through decimal.
    *
    * Scale: one corpus aggregate to the entity-sized table, then three
    * globalRank passes and three entity-keyed joins over THAT table. */
  def rfm(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, buckets: Int = 4): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val per = events.filter(col(userCol).isNotNull)
      .groupBy(col(userCol).as("user_id"))
      .agg(max(unix_micros(col(tsCol))).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col(valueCol).cast("decimal(28,6)")).as("__m"))
    val cmax = per.agg(max(col("__last")).as("__cm"))
    val base = per.crossJoin(broadcast(cmax)) // one-row scalar join
      .select(col("user_id"),
        expr("(__cm - __last) div 86400000000").as("recency_days"),
        col("frequency"), col("__m").cast("double").as("monetary"))
      // three rank passes + final join
      .transform(CheckpointOps(_, eager = false))
    val n = base.count()
    def tiled(out: String, key: Column): DataFrame =
      Linkage.globalRank(base.select(col("user_id"), key.as("__k")),
          "user_id", col("__k"))
        .select(col("user_id"),
          (expr(s"((grank - 1) * $buckets) div ${math.max(n, 1L)}") + 1)
            .as(out))
    base
      .join(tiled("r_score", col("recency_days")), "user_id")
      .join(tiled("f_score", -col("frequency")), "user_id")
      .join(tiled("m_score", -col("monetary")), "user_id")
      .withColumn("segment",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
  }

  /** Cohort LTV curve — [[cohorts]]' revenue companion: for every
    * (first-activity cohort, periods-since offset), the paying
    * members, that period's revenue, the CUMULATIVE revenue of the
    * cohort through the offset, and LTV-per-member — the "how much is
    * a January signup worth by month 6?" table a growth team plots.
    *
    * `valueCents` is the integer revenue column (cents/micros — the
    * house quantization): per-cell and cumulative sums stay exact
    * decimals; `ltv` is ONE double division of exact operands
    * (cum_cents / (cohort_size · 100)). The cumulative window runs
    * per cohort over OFFSETS — calendar-sized, never event-sized.
    *
    * Scale shape: one entity-keyed first-activity aggregate (shared
    * lineage, lazy checkpoint), one (cohort, offset) revenue
    * aggregate, a calendar-sized broadcast of cohort sizes, one
    * calendar-sized cumulative window. Returns (cohort, offset,
    * payers, revenue_cents, cum_revenue_cents, cohort_size, ltv). */
  def cohortLtv(events: DataFrame, entity: String, ts: String,
      valueCents: Column, period: String = "week"): DataFrame = {
    val perDay = Map("day" -> 1L, "week" -> 7L)
    require(perDay.contains(period),
      s"period must be day/week, got $period")
    val firsts = events
      .groupBy(col(entity))
      .agg(min(date_trunc(period, col(ts))).as("cohort"))
      .transform(CheckpointOps(_, eager = false))
    val rev = events
      .select(col(entity), date_trunc(period, col(ts)).as("p"),
        valueCents.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
    val offset = floor(datediff(col("p"), col("cohort")) /
      lit(perDay(period).toDouble)).cast("long")
    val grid = rev.join(firsts, entity)
      .select(col(entity), col("cohort"), offset.as("offset"),
        col("__v"))
      .groupBy(col("cohort"), col("offset"))
      .agg(countDistinct(col(entity)).as("payers"),
        sum(col("__v").cast("decimal(19,0)")).cast("decimal(28,0)")
          .as("__rev"))
    val sizes = firsts.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    val wCum = Window.partitionBy(col("cohort")).orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(broadcast(sizes), "cohort")
      .withColumn("__cum",
        sum(col("__rev")).over(wCum).cast("decimal(28,0)"))
      .select(col("cohort"), col("offset"), col("payers"),
        col("__rev").cast("bigint").as("revenue_cents"),
        col("__cum").cast("bigint").as("cum_revenue_cents"),
        col("cohort_size"),
        (col("__cum").cast("string").cast("double") /
          (col("cohort_size").cast("double") * 100.0)).as("ltv"))
      .orderBy(col("cohort"), col("offset"))
  }

  /** Kaplan–Meier survival curve per group — the censoring-correct
    * retention/time-to-event estimator (plain "fraction still active
    * at t" is biased the moment observation windows differ): one row
    * per subject with `duration` (time to event OR to censoring) and
    * `event` (true = the event happened; false = right-censored), and
    * at each distinct event time t with `n` at risk and `d` events,
    * `S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ)`.
    *
    * Distributed shape: subjects collapse to per-(group, duration)
    * (events, censored) counts in ONE map-side-combined aggregate; the
    * at-risk count is a reverse-cumulative window and the product a
    * forward-cumulative window, both over the per-time table
    * (time-cardinality — report-sized relative to subjects). Numerics:
    * the product folds as pico-quantized `round(ln(1−d/n), 9)` integer
    * sums (order-free — the Theil/degree-power-law convention); a time
    * where d = n (everyone remaining fails) sets survival exactly 0
    * from then on rather than feeding ln(0). Only event times emit
    * rows (censor-only times adjust n but add no step — the standard
    * presentation). Returns (group, t, n_risk, n_event, n_censored,
    * survival) ordered by (group, t). */
  def kaplanMeier(df: DataFrame, groupCol: String, duration: Column,
      event: Column): DataFrame = {
    val base = df.select(col(groupCol).as("group"),
        duration.cast("long").as("t"),
        event.cast("boolean").as("__e"))
      .filter(col("group").isNotNull && col("t").isNotNull &&
        col("t") >= 0 && col("__e").isNotNull)
    val perT = base.groupBy(col("group"), col("t"))
      .agg(sum(when(col("__e"), 1L).otherwise(0L)).as("n_event"),
        sum(when(!col("__e"), 1L).otherwise(0L)).as("n_censored"))
    // at risk at t = subjects with duration ≥ t: reverse cumulative
    val wRisk = Window.partitionBy(col("group")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCum = Window.partitionBy(col("group")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risked = perT.withColumn("n_risk",
      sum(col("n_event") + col("n_censored")).over(wRisk))
    val frac = col("n_event").cast("double") / col("n_risk").cast("double")
    val term = when(col("n_event") > 0 && col("n_event") < col("n_risk"),
      floor(round(log(lit(1.0) - frac), 9) * lit(1000000000000.0) +
        lit(0.5)).cast("long")).otherwise(lit(0L))
    risked
      .withColumn("__lnS", sum(term).over(wCum))
      .withColumn("__dead",
        max(when(col("n_event") === col("n_risk"), 1).otherwise(0))
          .over(wCum))
      .filter(col("n_event") > 0) // event times only
      .select(col("group"), col("t"), col("n_risk"), col("n_event"),
        col("n_censored"),
        when(col("__dead") > 0, lit(0.0))
          .otherwise(round(exp(col("__lnS").cast("double") /
            1000000000000.0), 9)).as("survival"))
      .orderBy(col("group"), col("t"))
  }

  /** Two-group log-rank test — "are these two [[kaplanMeier]] curves
    * the same?", the censoring-correct A/B readout for time-to-event
    * metrics (churn, time-to-first-purchase): at each pooled event
    * time with `n` at risk (`n_a` in group a) and `d` events (`d_a`
    * in a), the expected a-events are `e_a = n_a·d/n` under the null
    * and the hypergeometric variance is
    * `v = d·n_a·n_b·(n−d) / (n²·(n−1))`; the statistic
    * `(Σ(d_a − e_a))² / Σv` is χ²(1), and the p-value comes from
    * `erfc(√(χ²/2))` via the same A&S polynomial as
    * [[graft.operators.Experiment.welchTTest]].
    *
    * Shape: ONE (time)-keyed aggregate with conditional per-group
    * sums, reverse-cumulative risk windows over the per-time table
    * (report-sized relative to subjects), and one final 1-row
    * aggregate; per-time (d_a − e_a) and v contributions
    * pico-quantize (`round(·, 9)·10¹²`) and sum as exact integers —
    * order-free. Subjects outside the two named groups are excluded;
    * both groups are require()d non-empty. Returns ONE row: (n_a,
    * n_b, events_a, events_b, expected_a, chi2, p_value). */
  def logRankTest(df: DataFrame, groupCol: String, duration: Column,
      event: Column, groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "logRankTest needs two distinct groups")
    val base = df.select(col(groupCol).cast("string").as("g"),
        duration.cast("long").as("t"),
        event.cast("boolean").as("__e"))
      .filter(col("g").isin(groupA, groupB) && col("t").isNotNull &&
        col("t") >= 0 && col("__e").isNotNull)
    val isA = col("g") === groupA
    val perT = base.groupBy(col("t"))
      .agg(sum(when(isA && col("__e"), 1L).otherwise(0L)).as("__da"),
        sum(when(isA, 1L).otherwise(0L)).as("__ta"),
        sum(when(!isA && col("__e"), 1L).otherwise(0L)).as("__db"),
        sum(when(!isA, 1L).otherwise(0L)).as("__tb"))
    val wRisk = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risked = perT
      .withColumn("__na", sum(col("__ta")).over(wRisk))
      .withColumn("__nb", sum(col("__tb")).over(wRisk))
      .filter(col("__da") + col("__db") > 0)
    val (na, nb) = (col("__na").cast("double"), col("__nb").cast("double"))
    val d = (col("__da") + col("__db")).cast("double")
    val n = na + nb
    val eA = na * d / n
    val v = when(n > 1.0,
      d * na * nb * (n - d) / (n * n * (n - 1.0))).otherwise(lit(0.0))
    def pico(c: Column): Column =
      floor(round(c, 9) * lit(1000000000000.0) + 0.5).cast("long")
    val sums = risked.agg(
      sum(pico(col("__da").cast("double") - eA)).as("__s"),
      sum(pico(v)).as("__v"),
      sum(col("__da")).as("events_a"), sum(col("__db")).as("events_b"),
      sum(pico(eA)).as("__ea"))
    val totals = base.agg(
      sum(when(isA, 1L).otherwise(0L)).as("n_a"),
      sum(when(!isA, 1L).otherwise(0L)).as("n_b"))
    val chi2 = {
      val s = col("__s").cast("double") / 1.0e12
      val vv = col("__v").cast("double") / 1.0e12
      when(col("__v") > 0, s * s / vv)
    }
    // p = P(χ²₁ > x) = erfc(√(x/2)) — A&S 7.1.26, |ε| < 1.5e-7
    val z = sqrt(chi2 / 2.0)
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * z)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) +
        u * lit(1.061405429)))))
    totals.crossJoin(broadcast(sums))
      .select(
        when(col("n_a") === 0 || col("n_b") === 0, raise_error(lit(
            s"logRankTest: group '$groupA' or '$groupB' matches no " +
            "rows"))).otherwise(col("n_a")).as("n_a"),
        col("n_b"), col("events_a"), col("events_b"),
        round(col("__ea").cast("double") / 1.0e12, 9).as("expected_a"),
        chi2.as("chi2"), (poly * exp(-z * z)).as("p_value"))
  }
}
