package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{Affinity, Attribution, Experiment, Funnel, Retention}

/** Ordered-step funnel semantics (first-touch, strict order, optional
  * horizon) + the one-exchange plan shape. */
class FunnelSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(min: Int): Timestamp =
    new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime +
      min * 60000L)

  private val steps = Seq(
    col("et") === "view", col("et") === "click", col("et") === "purchase")

  test("strict order: a step before the previous step's time does not count") {
    // u1 clicked BEFORE first viewing — the click cannot advance the funnel
    val df = Seq(
      (1L, "click", ts(1)), (1L, "view", ts(2)), (1L, "purchase", ts(3)))
      .toDF("u", "et", "ts")
    val r = Funnel.reach(df, "u", "ts", steps).collect()
    assert(r.length === 1)
    assert(r.head.getTimestamp(1) === ts(2))  // t1 = first view
    assert(r.head.isNullAt(2) && r.head.isNullAt(3),
      "click at t=1 precedes the view; purchase requires the click")
  }

  test("equal timestamps do not advance; a later event does") {
    val df = Seq(
      (1L, "view", ts(5)), (1L, "click", ts(5)),  // same instant → no advance
      (1L, "click", ts(6)),
      (2L, "view", ts(5)), (2L, "click", ts(5)))  // only the tie → stuck
      .toDF("u", "et", "ts")
    val r = Funnel.reach(df, "u", "ts", steps)
      .orderBy("u").collect()
    assert(r(0).getTimestamp(2) === ts(6), "u1 advances via the later click")
    assert(r(1).isNullAt(2), "u2's same-instant click must not advance")
  }

  test("first-touch: earliest valid timestamp wins at every step") {
    val df = Seq(
      (1L, "view", ts(10)), (1L, "view", ts(1)),
      (1L, "click", ts(2)), (1L, "click", ts(8)),
      (1L, "purchase", ts(3)))
      .toDF("u", "et", "ts")
    val r = Funnel.reach(df, "u", "ts", steps).collect().head
    assert(r.getTimestamp(1) === ts(1))
    assert(r.getTimestamp(2) === ts(2))
    assert(r.getTimestamp(3) === ts(3))
  }

  test("within horizon bounds every later step relative to t1") {
    val df = Seq(
      (1L, "view", ts(0)), (1L, "click", ts(30)), (1L, "purchase", ts(200)),
      (2L, "view", ts(0)), (2L, "click", ts(30)), (2L, "purchase", ts(90)))
      .toDF("u", "et", "ts")
    val bounded = Funnel.reach(df, "u", "ts", steps,
      within = Some(expr("INTERVAL 100 MINUTES")))
      .orderBy("u").collect()
    assert(bounded(0).isNullAt(3), "u1's purchase at +200min is outside")
    assert(bounded(1).getTimestamp(3) === ts(90))
    val unbounded = Funnel.reach(df, "u", "ts", steps).orderBy("u").collect()
    assert(unbounded(0).getTimestamp(3) === ts(200))
  }

  test("entities that never reach step 1 are absent from reach") {
    val df = Seq(
      (1L, "view", ts(1)), (2L, "click", ts(1)), (2L, "purchase", ts(2)))
      .toDF("u", "et", "ts")
    val r = Funnel.reach(df, "u", "ts", steps).collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("report: counts, conversion rounding, step order") {
    val df = Seq(
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      (2L, "view", ts(1)), (2L, "click", ts(2)),
      (3L, "view", ts(1)))
      .toDF("u", "et", "ts")
    val rep = Funnel.report(df, "u", "ts", steps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rep.toSeq === Seq(
      (1L, 3L, 1.0), (2L, 2L, 0.666667), (3L, 1L, 0.333333)))
  }

  test("plan: one hash exchange on the entity, reused by windows and agg") {
    import graft.plans.PlanNodes
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ev = Tables.events(spark, sf)
      .select(col("user_id").as("u"), col("event_type").as("et"), col("ts"))
    val out = Funnel.reach(ev, "u", "ts", steps)
    out.count()
    val shuffles = PlanNodes(out.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size === 1,
      s"funnel depth must not add exchanges, got ${shuffles.size}:\n" +
        out.queryExecution.executedPlan)
  }

  test("funnel agrees with an independent per-user scan on real events") {
    val ev = Tables.events(spark, sf)
    val got = Funnel.report(ev, "user_id", "ts", Seq(
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // independent oracle: per-user sorted scan on the driver (fixture-sized)
    val byUser = ev.select("user_id", "event_type", "ts")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
      .groupBy(_._1)
    val stepNames = Seq("view", "click", "purchase")
    var counts = Array(0L, 0L, 0L)
    byUser.values.foreach { rows =>
      val sorted = rows.sortBy(_._3.getTime)
      var prev: Option[Long] = None
      var i = 0
      var continue = true
      while (i < 3 && continue) {
        val hit = sorted.collectFirst {
          case (_, et, t) if et == stepNames(i) &&
            prev.forall(p => t.getTime > p) => t.getTime
        }
        hit match {
          case Some(t) => counts(i) += 1; prev = Some(t); i += 1
          case None => continue = false
        }
      }
    }
    assert(got.map(_._2).toSeq === counts.toSeq)
  }

  test("retention cohorts: hand-built calendar, distinct weekly activity") {
    def at(day: Int, hour: Int = 12): Timestamp =
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime +
        day * 86400000L + hour * 3600000L)   // 2024-01-01 is a Monday
    val df = Seq(
      (1L, at(0)), (1L, at(2)), (1L, at(8)), (1L, at(22)),  // W0,W0,W1,W3
      (2L, at(3)),                                          // W0 only
      (3L, at(9)), (3L, at(15)))                            // W1, W2
      .toDF("u", "ts")
    val got = Retention.cohorts(df, "u", "ts", "week")
      .collect().map(r => (r.getTimestamp(0).toString.take(10),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === Seq(
      ("2024-01-01", 0L, 2L, 2L, 1.0),   // u1+u2 active in their week 0
      ("2024-01-01", 1L, 1L, 2L, 0.5),   // u1 back in week 1
      ("2024-01-01", 3L, 1L, 2L, 0.5),   // u1 back in week 3
      ("2024-01-08", 0L, 1L, 1L, 1.0),   // u3 cohort
      ("2024-01-08", 1L, 1L, 1L, 1.0)))  // u3 back the next week
  }

  test("retention: same-week repeat events count an entity once") {
    def at(day: Int): Timestamp =
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime +
        day * 86400000L)
    val df = Seq((1L, at(0)), (1L, at(1)), (1L, at(2)), (1L, at(3)))
      .toDF("u", "ts")
    val got = Retention.cohorts(df, "u", "ts", "week").collect()
    assert(got.length === 1)
    assert(got.head.getLong(2) === 1L && got.head.getDouble(4) === 1.0)
  }

  test("retention: month cohorts use month boundaries, not 30-day blocks") {
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-31 10:00:00")),
      (1L, Timestamp.valueOf("2024-02-01 10:00:00")))   // next day, next month
      .toDF("u", "ts")
    val got = Retention.cohorts(df, "u", "ts", "month")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((0L, 1L), (1L, 1L)),
      "one day apart across the boundary must be offset 1")
  }

  test("abTest: hand-computed z, control row null, degenerate variance null") {
    val units =
      (1 to 1000).map(i => ("control", i <= 100)) ++
      (1 to 1000).map(i => ("a", i <= 150)) ++
      (1 to 200).map(i => ("dead", false))          // 0% everywhere vs 10%
    val df = units.toDF("variant", "converted")
    val got = Experiment.abTest(df, "variant", "converted", "control")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        r.getBoolean(6))).toSeq

    def z(c1: Long, n1: Long, c0: Long, n0: Long): Double = {
      val rate = c1.toDouble / n1; val rate0 = c0.toDouble / n0
      val pool = (c1 + c0).toDouble / (n1 + n0)
      val se2 = pool * (1.0 - pool) * (1.0 / n1 + 1.0 / n0)
      BigDecimal((rate - rate0) / math.sqrt(se2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got === Seq(
      ("a", 1000L, 150L, 0.15, Some(z(150, 1000, 100, 1000)), true),
      ("control", 1000L, 100L, 0.1, None, false),
      ("dead", 200L, 0L, 0.0, Some(z(0, 200, 100, 1000)), true)))

    // pooled variance degenerates only when EVERY arm is 0% (or 100%)
    val flat = Seq(("control", false), ("x", false)).toDF("variant", "converted")
    val fz = Experiment.abTest(flat, "variant", "converted", "control")
      .filter(col("variant") === "x").head()
    assert(fz.isNullAt(5) && !fz.getBoolean(6),
      "0%-vs-0% must yield null z, not NaN")

    intercept[IllegalArgumentException] {
      Experiment.abTest(flat, "variant", "converted", "missing")
    }
  }

  test("hazard: right-censoring keeps boundary users at risk without " +
      "counting them as churn; at-risk is the reverse cumulative") {
    val day = (d: Int) => Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(d).atStartOfDay())
    // corpus end = day 20. u1: days 1-5 (age 4, churned); u2: 1 and 19
    // (age 18, last seen 1 day before end -> censored at guard 3);
    // u3: day 2 only (age 0, churned); u4: 18-20 (age 2, censored)
    val ev = Seq((1L, day(1)), (1L, day(5)), (2L, day(1)), (2L, day(19)),
      (3L, day(2)), (4L, day(18)), (4L, day(20)))
      .toDF("user_id", "ts")
    val got = Retention.hazard(ev, "user_id", "ts", censorGuardDays = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === Seq(
      (0L, 4L, 1L, 0L, 0.25),  // u3 churns of 4 at risk
      (2L, 3L, 0L, 1L, 0.0),   // u4 censored, still at risk through 2
      (4L, 2L, 1L, 0L, 0.5),   // u1 churns of the 2 surviving past 2
      (18L, 1L, 0L, 1L, 0.0))) // u2 censored at the boundary
  }

  test("attribution: last/first/linear credit hand-built journeys; " +
      "unattributed conversions keep full value on the NULL channel") {
    import graft.operators.Attribution
    val ts = (m: Int) => Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: click(1) view(2) BUY(3,$10) view(4) BUY(5,$20)
    // user 2: BUY(1,$5) with no touches at all
    val ev = Seq(
      (1L, ts(1), 1L, "click", 0.0), (1L, ts(2), 2L, "view", 0.0),
      (1L, ts(3), 3L, "buy", 10.0), (1L, ts(4), 4L, "view", 0.0),
      (1L, ts(5), 5L, "buy", 20.0),
      (2L, ts(1), 6L, "buy", 5.0)
    ).toDF("user_id", "ts", "event_id", "event_type", "value")
    def run(model: String) = Attribution.credit(ev, "user_id", "ts",
        "event_id", isTouch = col("event_type").isin("click", "view"),
        channel = col("event_type"),
        isConversion = col("event_type") === "buy",
        value = col("value"), model = model)
      .collect().map(r => Option(r.getString(0)).getOrElse("NULL") ->
        (r.getLong(1), r.getDouble(2))).toMap
    val last = run("last")
    // buy#1 credits view(2); buy#2 credits view(4); user2 unattributed
    assert(last("view") == (2L, 30.0), s"$last")
    assert(last("NULL") == (1L, 5.0), s"$last")
    assert(!last.contains("click"))
    val first = run("first")
    // buy#1 credits click(1); buy#2's span starts after buy#1 → view(4)
    assert(first("click") == (1L, 10.0), s"$first")
    assert(first("view") == (1L, 20.0), s"$first")
    val linear = run("linear")
    // buy#1 splits $10 over {click, view}; buy#2 gives view $20 whole
    assert(linear("click") == (1L, 5.0), s"$linear")
    assert(linear("view") == (2L, 25.0), s"$linear")
    assert(linear("NULL") == (1L, 5.0), s"$linear")
  }

  test("attribution: a (ts, tie) collision between touches credits " +
      "exactly ONE row — value is never double-counted") {
    import graft.operators.Attribution
    val ts = (m: Int) => Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // two touches sharing (ts, event_id) — e.g. a dirty feed replaying
    // the same tie key — then one $10 conversion
    val ev = Seq(
      (1L, ts(1), 7L, "click", 0.0), (1L, ts(1), 7L, "view", 0.0),
      (1L, ts(2), 8L, "buy", 10.0)
    ).toDF("user_id", "ts", "event_id", "event_type", "value")
    for (model <- Seq("first", "last")) {
      val got = Attribution.credit(ev, "user_id", "ts", "event_id",
          isTouch = col("event_type").isin("click", "view"),
          channel = col("event_type"),
          isConversion = col("event_type") === "buy",
          value = col("value"), model = model)
        .agg(sum("n_credits"), sum("credit")).collect().head
      assert(got.getLong(0) == 1L, s"$model credited ${got.getLong(0)} rows")
      assert(got.getDouble(1) == 10.0, s"$model total ${got.getDouble(1)}")
    }
  }

  test("eventPaths: counts ordered k-windows, drops incomplete tails, " +
      "deterministic top-N cut") {
    import graft.operators.Attribution
    val ts = (m: Int) => Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"), (1L, ts(3), 3L, "c"),
      (1L, ts(4), 4L, "b"),
      (2L, ts(1), 5L, "a"), (2L, ts(2), 6L, "b"), (2L, ts(3), 7L, "c")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Attribution.eventPaths(ev, "user_id", "ts", "event_id",
        col("event_type"), k = 3, topN = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // user1 windows: a>b>c, b>c>b; user2: a>b>c — tails of length <3 drop
    assert(got.toSeq === Seq("a>b>c" -> 2L, "b>c>b" -> 1L))
  }

  test("coOccurrence: exact pair counts and lift on a hand basket set; " +
      "mega-baskets excluded whole; support cut applies") {
    import graft.operators.Affinity
    // baskets: {x,y} {x,y} {x,z} {y} + a 5-item mega basket (cap 4)
    val rows = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"), (4L, "y")) ++
      (1 to 5).map(i => (9L, s"m$i"))
    val df = rows.toDF("basket", "item")
    val got = Affinity.coOccurrence(df, "basket", "item",
        minSupport = 2L, maxBasketSize = 4)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3))))
    // only (x,y) reaches support 2 of the 4 kept baskets:
    // lift = 2·4 / (3·3)
    assert(got.toSeq === Seq(("x", "y") -> (2L, 0.888889)))
  }

  test("associationRules: directional confidence on a hand basket set; " +
      "minConfidence cuts asymmetrically; mega-basket still excluded") {
    import graft.operators.Affinity
    // same baskets as the coOccurrence test: {x,y} {x,y} {x,z} {y} + cap
    val rows = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"), (4L, "y")) ++
      (1 to 5).map(i => (9L, s"m$i"))
    val df = rows.toDF("basket", "item")
    val got = Affinity.associationRules(df, "basket", "item",
        minSupport = 1L, minConfidence = 0.5, maxBasketSize = 4)
      .orderBy("antecedent", "consequent")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // x→y 2/3 keeps, y→x 2/3 keeps, x→z 1/3 cut, z→x 1/1 keeps —
    // the same pair survives in one direction and dies in the other
    assert(got.toSeq === Seq(
      ("x", "y", 2L, 2.0 / 3.0, 8.0 / 9.0),
      ("y", "x", 2L, 2.0 / 3.0, 8.0 / 9.0),
      ("z", "x", 1L, 1.0, 4.0 / 3.0)))
  }

  test("rankSumTest: hand midranks with a 3-way tie — U counts wins " +
      "plus half-ties, z matches the tie-corrected formula exactly") {
    import graft.operators.Experiment
    // A = {1,3,3}, B = {2,3,5}: U_A = 2 wins + 2 half-ties = 3,
    // T = 3³−3 = 24, cubic = 7·6·5 = 210, 4σ² = 9·186/90
    val df = Seq((1.0, true), (3.0, true), (3.0, true),
      (2.0, false), (3.0, false), (5.0, false)).toDF("v", "ga")
    val got = Experiment.rankSumTest(df, col("v"), col("ga")).head
    assert(got.getLong(0) === 3L && got.getLong(1) === 3L)
    assert(got.getDouble(2) === 3.0)
    assert(got.getDouble(3) === -3.0 / math.sqrt(9.0 * 186.0 / 90.0))
    // all-tied values: variance 0 -> NULL z
    val tied = Seq((7.0, true), (7.0, false)).toDF("v", "ga")
    assert(Experiment.rankSumTest(tied, col("v"), col("ga"))
      .head.isNullAt(3))
  }

  test("chiSquareCells: 2x2 hand table — expected counts from " +
      "marginals, chi2 parts sum to the textbook statistic") {
    import graft.operators.Experiment
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(10)(("y", "n")) ++
      Seq.fill(5)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    val got = Experiment.chiSquareCells(rows.toDF("a", "b"), "a", "b")
      .orderBy("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq === Seq(
      ("n", "n", 15L, 10.0, 2.5), ("n", "y", 5L, 10.0, 2.5),
      ("y", "n", 10L, 15.0, 5.0 / 3.0), ("y", "y", 20L, 15.0, 5.0 / 3.0)))
  }

  test("kruskalWallis: three tie-free groups match the closed form; " +
      "all-tied values yield NULL h; partitioning-invariant") {
    // A={1,2}, B={3,4}, C={5,6}: ranks 1..6, R = 3/7/11,
    // H = 12/(6·7) · (9+49+121)/2 − 3·7 = 2/7 · 89.5 − 21
    val df = Seq((1.0, "a"), (2.0, "a"), (3.0, "b"), (4.0, "b"),
      (5.0, "c"), (6.0, "c")).toDF("v", "g")
    val got = Experiment.kruskalWallis(df, col("v"), col("g")).head
    assert(got.getLong(0) === 3L && got.getLong(1) === 6L)
    val h = 12.0 / (6.0 * 7.0) * 89.5 - 3.0 * 7.0
    assert(math.abs(got.getDouble(2) - h) < 1e-9)
    assert(got.getDouble(2) === got.getDouble(3)) // no ties
    assert(got.getLong(4) === 2L)
    assert(got.getDouble(5) > 0.0 && got.getDouble(5) < 1.0)
    val re = Experiment.kruskalWallis(df.repartition(7), col("v"),
      col("g")).head
    assert(re.toSeq === got.toSeq)
    // every value tied: cubic == T, NULL h and p
    val tied = Seq((7.0, "a"), (7.0, "b"), (7.0, "c")).toDF("v", "g")
    val t = Experiment.kruskalWallis(tied, col("v"), col("g")).head
    assert(t.isNullAt(2) && t.isNullAt(3) && t.isNullAt(5))
  }

  test("gTestIndependence: 2x2 hand table matches the four-term LLR " +
      "closed form; dof and n from the marginals") {
    import graft.operators.Expectations
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(10)(("y", "n")) ++
      Seq.fill(5)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    val got = Expectations.gTestIndependence(rows.toDF("a", "b"),
      col("a"), col("b")).head
    assert(got.getLong(0) === 50L && got.getLong(1) === 2L &&
      got.getLong(2) === 2L && got.getLong(3) === 1L)
    // G = 2·Σ o·ln(o·n/(r·c)) over the four observed cells
    val g = 2.0 * (20.0 * math.log(20.0 * 50 / (30.0 * 25)) +
      10.0 * math.log(10.0 * 50 / (30.0 * 25)) +
      5.0 * math.log(5.0 * 50 / (20.0 * 25)) +
      15.0 * math.log(15.0 * 50 / (20.0 * 25)))
    assert(math.abs(got.getDouble(4) - g) < 1e-6) // pico-quantized
    assert(got.getDouble(5) > 0.0 && got.getDouble(5) < 1.0)
    val re = Expectations.gTestIndependence(
      rows.toDF("a", "b").repartition(7), col("a"), col("b")).head
    assert(re.toSeq === got.toSeq)
  }

  test("cohenKappa: textbook 2x2 table gives kappa 0.4 exactly; " +
      "constant raters yield NULL kappa with full observed agreement") {
    import graft.operators.Experiment
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(10)(("y", "n")) ++
      Seq.fill(5)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    val got = Experiment.cohenKappa(rows.toDF("a", "b"), "a", "b").head
    // po = 35/50, pe = (30·25 + 20·25)/2500 = 0.5, κ = 0.2/0.5
    assert(got.getLong(0) === 50L && got.getDouble(1) === 0.7 &&
      got.getDouble(2) === 0.5 && got.getDouble(3) === 0.4)
    val const = Experiment.cohenKappa(
      Seq.fill(9)(("x", "x")).toDF("a", "b"), "a", "b").head
    assert(const.getDouble(1) === 1.0 && const.isNullAt(3))
  }

  test("itemSimilarity: hand-computed cosine/jaccard; equal-cosine tie " +
      "breaks on neighbor id; topK cuts per item") {
    import graft.operators.Affinity
    // baskets {x,y} {x,y} {x,z} {y,z}: n_x=3 n_y=3 n_z=2,
    // pairs (x,y)=2 (x,z)=1 (y,z)=1
    val rows = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"), (4L, "y"), (4L, "z"))
    val df = rows.toDF("basket", "item")
    val got = Affinity.itemSimilarity(df, "basket", "item",
        topK = 1, minSupport = 1L)
      .orderBy("item")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    // z's two neighbors tie at 1/sqrt(6) — neighbor-id tie-break keeps x
    assert(got.toSeq === Seq(
      ("x", 1, "y", 2L, 2.0 / 3.0, 0.5),
      ("y", 1, "x", 2L, 2.0 / 3.0, 0.5),
      ("z", 1, "x", 1L, 1.0 / math.sqrt(6.0), 0.25)))
  }

  test("rfm: hand-computed tiles — score 1 is most recent / most " +
      "frequent / highest spend; segment packs the digits; " +
      "partitioning-invariant") {
    // 4 users, buckets=4 → each tile holds exactly one user
    // u1: day 0, 1 event,  10.0   (oldest, least frequent, lowest)
    // u2: day 1, 2 events, 20.0
    // u3: day 2, 3 events, 30.0
    // u4: day 3, 4 events, 40.0   (newest, most frequent, highest)
    val rows = for {
      u <- 1 to 4; e <- 1 to u
    } yield (u.toLong, (u - 1).toLong * 86400L, u * 10.0 / u)
    val ev = rows.toDF("user_id", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = Retention.rfm(ev, "user_id", "ts", "value", buckets = 4)
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // recency_days vs corpus max (day 3): u1→3 … u4→0
    assert(got.toSeq === Seq(
      (1L, 3L, 1L, 4L, 4L, 4L, 444L),
      (2L, 2L, 2L, 3L, 3L, 3L, 333L),
      (3L, 1L, 3L, 2L, 2L, 2L, 222L),
      (4L, 0L, 4L, 1L, 1L, 1L, 111L)))
    val re = Retention.rfm(ev.repartition(7), "user_id", "ts", "value",
        buckets = 4)
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(re.toSeq === got.toSeq)
  }

  test("runsTest: hand-computed alternating series — exact run count, " +
      "median ties dropped, degenerate side yields NULL z") {
    // days 1..8, values 5,1,6,2,7,3,8,4: median (lower, rank 4 of 8)
    // is 4 → day 8 (v = 4) drops; remaining signs T F T F T F T →
    // runs = 7, n_above = 4, n_below = 3
    val vals = Seq(5.0, 1.0, 6.0, 2.0, 7.0, 3.0, 8.0, 4.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (f"2024-03-${i + 1}%02d 09:00:00", "a", v) } ++
      Seq(("2024-03-01 09:00:00", "flat", 1.0),
        ("2024-03-02 09:00:00", "flat", 2.0))
    val ev = rows.toDF("tss", "event_type", "value")
      .withColumn("ts", to_timestamp(col("tss")))
    val got = Experiment.runsTest(ev, "event_type", "ts", col("value"))
      .orderBy("series").collect()
    val a = got.head
    assert((a.getString(0), a.getLong(1), a.getLong(2), a.getLong(3)) ===
      (("a", 4L, 3L, 7L)))
    // μ = 24/7 + 1, σ² = 24·17/(49·6): z = (7 − μ)/σ ≈ 2.1828
    val mu = 24.0 / 7.0 + 1.0
    val sd = math.sqrt(24.0 * 17.0 / (49.0 * 6.0))
    assert(math.abs(a.getDouble(4) - (7.0 - mu) / sd) < 1e-12)
    // 'flat': 2 days, median 1 → the 1 drops, only 'above' remains
    val f = got.last
    assert(f.getString(0) === "flat" && f.getLong(2) === 0L &&
      f.isNullAt(4))
  }

  test("spearman: monotone maps to ±1 exactly, ties midrank, " +
      "constant side NULL, partitioning-invariant") {
    val cubic = (1 to 10).map(i => (i.toDouble, math.pow(i.toDouble, 3)))
    assert(Experiment.spearman(cubic.toDF("x", "y"), col("x"), col("y"))
      .head.getDouble(1) === 1.0)
    val anti = (1 to 10).map(i => (i.toDouble, -i.toDouble))
    assert(Experiment.spearman(anti.toDF("x", "y"), col("x"), col("y"))
      .head.getDouble(1) === -1.0)
    // ties: x = [1,1,2,2] (midranks 1.5,1.5,3.5,3.5) vs y = 1..4 →
    // ρ = 2/√5 (hand-computed Pearson over midranks)
    val tied = Seq((1.0, 1.0), (1.0, 2.0), (2.0, 3.0), (2.0, 4.0))
      .toDF("x", "y")
    assert(math.abs(Experiment.spearman(tied, col("x"), col("y"))
      .head.getDouble(1) - 2.0 / math.sqrt(5.0)) < 1e-12)
    val const = Seq((1.0, 5.0), (2.0, 5.0)).toDF("x", "y")
    assert(Experiment.spearman(const, col("x"), col("y")).head.isNullAt(1))
    val re = Experiment.spearman(tied.repartition(5), col("x"), col("y"))
      .head.getDouble(1)
    assert(re === Experiment.spearman(tied, col("x"), col("y"))
      .head.getDouble(1))
  }

  test("diffInDiff: hand-computed 2x2 — shared trend cancels; an " +
      "empty cell nulls the estimate instead of faking a zero") {
    // treat: 10 -> 20 (+10); ctrl: 5 -> 7 (+2) => did = 8
    val rows = Seq(
      (true, false, 10.0), (true, false, 10.0), (true, true, 20.0),
      (false, false, 5.0), (false, true, 7.0), (false, true, 7.0))
      .toDF("t", "p", "v")
    val r = Experiment.diffInDiff(rows, col("t"), col("p"), col("v")).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((2L, 1L, 1L, 2L)))
    assert(r.getDouble(4) === 10.0 && r.getDouble(5) === 20.0 &&
      r.getDouble(6) === 5.0 && r.getDouble(7) === 7.0)
    assert(r.getDouble(8) === 8.0)
    // no treated-post observations: did must be NULL
    val gap = Experiment.diffInDiff(rows.filter(!(col("t") && col("p"))),
      col("t"), col("p"), col("v")).head
    assert(gap.isNullAt(5) && gap.isNullAt(8))
  }

  test("followedBy: strictly-before containment with unlimited gap; " +
      "same-timestamp pairs never count; audience sizes and share") {
    import spark.implicits._
    val ev = Seq(
      // u1: a then (gap) b — counts for (a,b); also b-then-a? no: b max
      // is after a min only in the (a,b) direction
      (1L, "2024-01-01 10:00:00", "a"),
      (1L, "2024-01-03 10:00:00", "b"),
      // u2: b only — audience of b, no pair
      (2L, "2024-01-02 10:00:00", "b"),
      // u3: a and b at the SAME instant — strict < excludes both ways
      (3L, "2024-01-05 10:00:00", "a"),
      (3L, "2024-01-05 10:00:00", "b"))
      .toDF("user_id", "tss", "event_type")
      .select(col("user_id"), col("tss").cast("timestamp").as("ts"),
        col("event_type"))
    val got = Attribution.followedBy(ev, "user_id", "ts",
        col("event_type"))
      .orderBy("step_a", "step_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === Seq(("a", "b", 1L, 2L, 0.5)))
  }

  test("audienceOverlap: hand-computed Jaccard and overlap; an entity " +
      "over the group cap is excluded from every pair") {
    import spark.implicits._
    val df = Seq(
      ("x", 1L), ("x", 2L), ("x", 3L),
      ("y", 2L), ("y", 3L), ("y", 4L),
      ("z", 9L)).toDF("grp", "ent")
    val got = Affinity.audienceOverlap(df, "grp", "ent")
      .orderBy("group_a", "group_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    // x∩y = {2,3}: jaccard 2/4, overlap 2/3
    assert(got.toSeq === Seq(("x", "y", 3L, 3L, 2L, 0.5, 2.0 / 3.0)))
    // cap: entity 2 in both groups is dropped at cap 1 → intersection
    // shrinks to {3}... entity 3 also in both — cap 1 drops BOTH
    val capped = Affinity.audienceOverlap(df, "grp", "ent",
      maxGroupsPerEntity = 1)
    assert(capped.count() === 0L, "cap must drop every 2-group entity")
  }

  test("cohortLtv: exact cents per cell, cumulative per cohort, LTV " +
      "divides by cohort size not payers") {
    def at(day: Int): Timestamp =
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime +
        day * 86400000L + 12 * 3600000L)   // 2024-01-01 is a Monday
    // u1: 10.00 in W0, 5.00 in W1; u2: 2.50 in W0 (same cohort);
    // u3 cohort W1: 1.00
    val df = Seq(
      (1L, at(0), 1000L), (1L, at(8), 500L),
      (2L, at(3), 250L),
      (3L, at(9), 100L)).toDF("u", "ts", "cents")
    val got = graft.operators.Retention.cohortLtv(df, "u", "ts",
        col("cents"), "week")
      .collect().map(r => (r.getTimestamp(0).toString.take(10),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getDouble(6)))
    assert(got.toSeq === Seq(
      ("2024-01-01", 0L, 2L, 1250L, 1250L, 2L, 6.25),
      ("2024-01-01", 1L, 1L, 500L, 1750L, 2L, 8.75),
      ("2024-01-08", 0L, 1L, 100L, 100L, 1L, 1.0)))
    // partitioning invariance
    val re = graft.operators.Retention.cohortLtv(df.repartition(7),
        "u", "ts", col("cents"), "week")
      .collect().map(_.getLong(4))
    assert(re.toSeq === got.map(_._5).toSeq)
  }

  test("powerMde: hand-checked two-proportion MDE; control and " +
      "degenerate rates carry NULL") {
    // control: 100 units, 25 conv (p0 = .25); t1: 400 units
    val rows = (1 to 100).map(i => ("control", i <= 25)) ++
      (1 to 400).map(i => ("t1", i <= 90)) ++
      Seq(("t2", false)) // n = 1, valid (p0 from control)
    val got = graft.operators.Experiment.powerMde(
        rows.toDF("v", "c"), "v", col("c"), control = "control")
      .orderBy("variant").collect()
    val z = 1.959963984540054 + 0.8416212335729143
    val p0 = 0.25
    val want = z * math.sqrt(p0 * (1.0 - p0) * (1.0 / 100 + 1.0 / 400))
    assert(got(0).getString(0) === "control" && got(0).isNullAt(4))
    assert(got(1).getDouble(4) === want)
    assert(got(1).getDouble(5) === want / p0)
    assert(!got(2).isNullAt(4)) // tiny arm still powered-checkable
    // degenerate control (all converted): NULL MDEs everywhere
    val degen = graft.operators.Experiment.powerMde(
        Seq(("control", true), ("t1", false)).toDF("v", "c"),
        "v", col("c"), control = "control")
      .orderBy("variant").collect()
    assert(degen.forall(_.isNullAt(4)))
  }

  test("kaplanMeier: censoring shrinks the risk set without adding a " +
      "step; d = n ends the curve at exactly 0; partitioning-invariant") {
    // subjects: event@1, censor@2, event@3 ×2, censor@4, event@5
    val df = Seq((1L, true), (2L, false), (3L, true), (3L, true),
        (4L, false), (5L, true)).zipWithIndex
      .map { case ((t, e), i) => ("g", i.toLong, t, e) }
      .toDF("g", "id", "dur", "ev")
    val got = graft.operators.Retention.kaplanMeier(df, "g",
        col("dur"), col("ev"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // t=1: 6 at risk, 1 event  -> S = 5/6
    // t=2: censor only         -> no row, risk drops to 4
    // t=3: 4 at risk, 2 events -> S = 5/6 · 1/2
    // t=5: 1 at risk, 1 event  -> S = 0 exactly (never ln(0))
    assert(got.toSeq === Seq(
      (1L, 6L, 1L, 0L, 0.833333333),
      (3L, 4L, 2L, 0L, 0.416666666),
      (5L, 1L, 1L, 0L, 0.0)))
    val re = graft.operators.Retention.kaplanMeier(df.repartition(7),
        "g", col("dur"), col("ev"))
      .collect().map(r => r.getDouble(5))
    assert(re.toSeq === got.map(_._5).toSeq)
  }

  test("logRankTest: hand hypergeometric case; empty group raises; " +
      "partitioning-invariant") {
    val df = Seq(("a", 1L, true), ("a", 2L, true), ("a", 3L, false),
      ("b", 2L, true), ("b", 4L, true), ("b", 5L, false),
      ("z", 9L, true)) // outside the named pair: excluded
      .toDF("g", "dur", "ev")
    val got = graft.operators.Retention.logRankTest(df, "g",
      col("dur"), col("ev"), "a", "b").head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3)) === ((3L, 3L, 2L, 2L)))
    // t=1: eA=.5 v=.25; t=2: eA=.8 v=.36; t=4: eA=0 v=0
    assert(got.getDouble(4) === 1.3)
    assert(math.abs(got.getDouble(5) - 0.49 / 0.61) < 1e-9)
    // chi2 = .8033 -> p = erfc(sqrt(chi2/2)) ~ .3701
    assert(math.abs(got.getDouble(6) - 0.3701) < 1e-3)
    val err = intercept[Exception] {
      graft.operators.Retention.logRankTest(df, "g", col("dur"),
        col("ev"), "a", "missing").collect()
    }
    def chain(x: Throwable): String =
      if (x == null) "" else x.getMessage + " | " + chain(x.getCause)
    assert(chain(err).contains("missing"))
    val re = graft.operators.Retention.logRankTest(df.repartition(7),
      "g", col("dur"), col("ev"), "a", "b").head()
    assert(re.toSeq === got.toSeq)
  }

  test("markovCredit: hand-solved two-channel chain; removal effects " +
      "and credits; channel guard fires in-plan; " +
      "partitioning-invariant") {
    // e1: A → B → conv; e2: A → (drop). Baseline P = 0.5; removing
    // either channel kills every converting path → effects (1, 1),
    // shares (0.5, 0.5), credit 0.5 conversions each
    val ev = Seq(
      (1L, ts(1), "touch", "A"), (1L, ts(2), "touch", "B"),
      (1L, ts(3), "conv", null),
      (2L, ts(1), "touch", "A"))
      .toDF("u", "t", "kind", "ch")
    def run(df: org.apache.spark.sql.DataFrame) =
      Attribution.markovCredit(df, "u", "t", "t",
        col("kind") === "touch", col("ch"), col("kind") === "conv")
    val got = run(ev).collect().sortBy(_.getString(0))
    assert(got.length == 2)
    val a = got(0); val b = got(1)
    assert(a.getString(0) == "A" && a.getLong(1) == 2)
    assert(b.getString(0) == "B" && b.getLong(1) == 1)
    assert(math.abs(a.getDouble(2) - 1.0) < 1e-9 &&
      math.abs(b.getDouble(2) - 1.0) < 1e-9)
    assert(math.abs(a.getDouble(3) - 0.5) < 1e-9)
    assert(math.abs(a.getDouble(4) - 0.5) < 1e-9 &&
      math.abs(b.getDouble(4) - 0.5) < 1e-9)
    // a direct conversion raises the baseline but credits no channel
    val withDirect = ev.union(
      Seq((3L, ts(1), "conv", null)).toDF("u", "t", "kind", "ch"))
    val g2 = run(withDirect).collect().sortBy(_.getString(0))
    assert(math.abs(g2(0).getDouble(2) - 0.5) < 1e-9) // (2/3−1/3)/(2/3)
    assert(math.abs(g2(0).getDouble(4) - 1.0) < 1e-9) // 0.5 share × 2
    val err = intercept[Exception] {
      Attribution.markovCredit(ev, "u", "t", "t",
        col("kind") === "touch", col("ch"), col("kind") === "conv",
        maxChannels = 1).collect()
    }
    def chain(x: Throwable): String =
      if (x == null) "" else x.getMessage + " | " + chain(x.getCause)
    assert(chain(err).contains("maxChannels"))
    val re = run(ev.repartition(5)).collect().sortBy(_.getString(0))
    assert(re.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
  }
}
