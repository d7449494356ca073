package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

/** Skew mitigation for joins/aggregations whose key distribution breaks the
  * one-shuffle-partition-per-key assumption at scale.
  *
  * First line of defense is AQE's skew-join splitting (on by default —
  * SURVEY §4 "split planning / shuffle sizing" is built-in). These helpers
  * cover the case AQE can't: a broadcast-infeasible dimension joined on a
  * pathologically hot key. Classic salting: fact keys get a random salt in
  * [0,n); the dimension is replicated n× with all salts; the join key
  * becomes (key, salt), spreading each hot key over n reducers.
  */
object Skew {

  /** Deterministic per-row salt in [0, n): hash of the whole row's key plus
    * a disambiguator column (monotonically_increasing_id is fine too, but a
    * hash keeps re-runs identical for differential testing). */
  def salt(n: Int, disambiguator: Column): Column =
    pmod(xxhash64(disambiguator), lit(n.toLong)).cast("int")

  /** Salted equi-join: `fact ⋈ dim` on `key`, with the hot-key load spread
    * over `salts` reducers. `dim` is replicated `salts`× (keep it the
    * smaller side). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      salts: Int, disambiguator: Column, joinType: String = "inner"): DataFrame = {
    // right/full outer would emit each UNMATCHED dim row once per salt
    // replica (salts copies instead of one) — refuse rather than corrupt
    val jt = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti", "cross")
        .contains(jt),
      s"saltedJoin cannot preserve $joinType semantics: the replicated dim " +
        "side would null-extend once per salt; use a plain join for it")
    val saltedFact = fact.withColumn("__salt", salt(salts, disambiguator))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(saltedDim, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Two-phase skewed aggregation: partial-aggregate on (key, salt), then
    * final-aggregate on key. For algebraic aggregates Spark's own partial
    * aggregation already does this; use for aggregations forced through a
    * single phase (e.g. collect-style or UDAFs with big state). */
  def twoPhaseAgg(df: DataFrame, key: String, salts: Int,
      disambiguator: Column,
      partial: Seq[Column], finalAgg: Seq[Column]): DataFrame =
    df.withColumn("__salt", salt(salts, disambiguator))
      .groupBy(col(key), col("__salt"))
      .agg(partial.head, partial.tail: _*)
      .groupBy(col(key))
      .agg(finalAgg.head, finalAgg.tail: _*)

  /** Join/aggregation-key skew diagnostic — the MEASUREMENT half of this
    * module: before choosing salting/broadcast/AQE settings for a 100 TB
    * join, profile the key. Returns the `topN` heaviest keys, each row
    * carrying its count, share of all rows, and the distribution summary
    * of per-key counts (distinct keys, max, exact p50/p99 of the
    * count-per-key distribution): `max_cnt / p50_cnt` is the skew ratio
    * that decides whether AQE's skew split suffices or a hot key needs
    * salting.
    *
    * Shape: one map-side-combined count aggregate (the only corpus-sized
    * pass), then everything else runs on the distinct-key-sized counts
    * table — top-N via `TakeOrderedAndProject` (distributed heap top-k,
    * never a global sort; the rank window runs AFTER the limit, over ≤
    * topN rows), and one summary row broadcast onto the topN rows. The
    * exact `percentile` over per-key counts is itself an aggregate over
    * the counts table; corpora whose DISTINCT-key count is itself huge
    * should swap it for `percentile_approx` — same plan otherwise. */
  /** Gini concentration of an integer-valued metric across entities —
    * "how concentrated is revenue / traffic / token volume?" (0 =
    * perfectly even, →1 = one entity holds everything): the classic
    * rank formula `G = (2·Σᵢ i·yᵢ − (n+1)·Σy) / (n·Σy)` over the
    * ascending global order. The same number data teams read off a
    * Lorenz curve, computed exactly.
    *
    * Numerics: ranks come from [[graft.operators.Linkage.globalRank]]
    * (range-repartitioned — never a single-partition window), ties
    * broken by id (any rank permutation within ties leaves G
    * unchanged); every sum is an exact integer in DECIMAL(19/38,0) and
    * G is ONE double division. NULL when total ≤ 0 or n < 2.
    *
    * Scale: the global rank is a range repartition + per-bucket
    * windows; the sufficient stats are one map-side-combinable
    * aggregate. `value` must be integer-valued (counts, cents). */
  def giniConcentration(df: DataFrame, idCol: String, value: Column)
      : DataFrame = {
    val d19 = "decimal(19,0)"
    val ranked = graft.operators.Linkage.globalRank(
      df.select(col(idCol).as("__id"), value.cast("long").as("__y"))
        .filter(col("__y").isNotNull),
      "__id", col("__y"))
    ranked.agg(
        count(lit(1)).cast(d19).as("__n"),
        sum(col("__y").cast(d19)).cast(d19).as("__t"),
        sum(col("grank").cast(d19) * col("__y").cast(d19))
          .cast("decimal(38,0)").as("__s"))
      .select(col("__n").cast("bigint").as("n"),
        col("__t").cast("bigint").as("total"),
        when(col("__t") <= 0 || col("__n") < 2,
            lit(null).cast("double"))
          .otherwise(
            // 2S − (n+1)T spelled addition-only: products of two
            // 19-digit decimals stay inside the 38-digit budget
            (col("__s") + col("__s") -
              (col("__n") * col("__t") + col("__t"))).cast("double") /
            (col("__n") * col("__t")).cast("double"))
          .as("gini"))
  }

  def keyProfile(df: DataFrame, key: Column, topN: Int): DataFrame = {
    // key-cardinality-sized, but COMPUTING it scans the corpus — both the
    // summary and the top-N consume it, so truncate the lineage (lazy:
    // materializes on first use) instead of scanning twice
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
      .transform(CheckpointOps(_, eager = false))
    val summary = counts.agg(
      count(lit(1)).as("distinct_keys"),
      sum(col("cnt")).as("total_rows"),
      max(col("cnt")).as("max_cnt"),
      round(expr("percentile(cnt, 0.5)"), 6).as("p50_cnt"),
      round(expr("percentile(cnt, 0.99)"), 6).as("p99_cnt"))
    val top = counts
      .orderBy(col("cnt").desc, col("key").asc)
      .limit(topN)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("key").asc)))
    top.crossJoin(broadcast(summary))
      .select(col("rank").cast("long").as("rank"), col("key"), col("cnt"),
        round(col("cnt").cast("double") / col("total_rows").cast("double"), 6)
          .as("share"),
        col("distinct_keys"), col("total_rows"), col("max_cnt"),
        col("p50_cnt"), col("p99_cnt"))
      .orderBy(col("rank"))
  }

  /** ABC / Pareto classification: rank items by exact integer value
    * descending, walk the cumulative share, and band them — A while the
    * PRECEDING cumulative share is under `cutA`% (so the item that
    * crosses the cut still lands in A, the standard rule), B under
    * `cutB`%, C otherwise. The actionable form of [[giniConcentration]]:
    * "these 900 customers are 80% of revenue" / "these 3 sources are
    * 95% of tokens — prune the tail". Returns the class summary:
    * (abc_class, n_items, total_value, share).
    *
    * Exactness: cumulative sums ride the distributed prefix machinery
    * ([[graft.operators.Linkage.globalRank]]'s range-bucket + broadcast
    * offsets shape — never a single-partition window over items), and
    * the band test is the integer cross-multiplication
    * 100·(cum − v) < cut·total — no float share ever decides a class.
    * `share` is ONE double division per summary row.
    *
    * Scale: one range repartition of the items table, per-bucket
    * windows, a buckets-sized offset broadcast, one 3-row reduction. */
  def abcAnalysis(df: DataFrame, idCol: String, value: Column,
      cutA: Int = 80, cutB: Int = 95, buckets: Int = 64): DataFrame = {
    require(cutA >= 1 && cutA < cutB && cutB <= 100,
      s"need 1 <= cutA < cutB <= 100, got ($cutA, $cutB)")
    val items = df
      .filter(value.isNotNull && value >= 0)
      .select(col(idCol).as("__id"),
        value.cast("decimal(19,0)").as("__v"))
    val ranged = items
      .repartitionByRange(buckets, col("__v").desc, col("__id"))
      .withColumn("__b", spark_partition_id())
      // bucket ids must not re-randomize
      .transform(CheckpointOps(_, eager = false))
    val wB = Window.partitionBy(col("__b"))
      .orderBy(col("__v").desc, col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = ranged.groupBy(col("__b"))
      .agg(sum(col("__v")).cast("decimal(28,0)").as("__bs"))
      .withColumn("__off",
        coalesce(sum(col("__bs")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)),
          lit(java.math.BigDecimal.ZERO).cast("decimal(28,0)")))
      .select(col("__b"), col("__off").cast("decimal(28,0)"))
    val total = items.agg(sum(col("__v")).cast("decimal(28,0)")
      .as("__tot"))
    def dbl(c: Column): Column = c.cast("string").cast("double")
    ranged
      .withColumn("__cum",
        sum(col("__v")).over(wB).cast("decimal(28,0)"))
      .join(broadcast(offsets), Seq("__b"))
      .crossJoin(broadcast(total))
      .withColumn("__before",
        (col("__off") + col("__cum") - col("__v")).cast("decimal(28,0)"))
      .withColumn("abc_class",
        when(col("__before") * 100 < col("__tot") * cutA, "A")
          .when(col("__before") * 100 < col("__tot") * cutB, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("__v")).cast("decimal(19,0)").as("total_value"))
      .crossJoin(broadcast(total))
      .select(col("abc_class"), col("n_items"), col("total_value"),
        when(col("__tot") === 0, lit(0.0d))
          .otherwise(dbl(col("total_value")) / dbl(col("__tot")))
          .as("share"))
  }

  /** Herfindahl–Hirschman concentration index per market —
    * [[giniConcentration]]'s antitrust-flavored sibling, and the
    * domain-mixture diagnostic for training corpora ("one crawl source
    * owns 62% of this language"): HHI = Σ_firm share² ∈ (0, 1], 1 =
    * monopoly, 1/n_firms = perfectly even. With exact integer firm
    * totals s_f (route money through cents upstream),
    * HHI = Σs_f² / (Σs_f)², both sums exact decimals and the quotient
    * ONE fixed double expression — engine-bit-identical.
    *
    * Scale: one (market, firm) aggregate with map-side combine, one
    * market-keyed reduction — nothing wider than firm cardinality
    * shuffles. Returns (market, n_firms, total, hhi). */
  def hhi(df: DataFrame, marketCol: String, firmCol: String,
      value: Column): DataFrame = {
    val firms = df
      .filter(col(firmCol).isNotNull && value.isNotNull)
      .groupBy(col(marketCol).as("market"), col(firmCol).as("__f"))
      .agg(sum(value.cast("decimal(19,0)")).cast("decimal(19,0)")
        .as("__s"))
    def dbl(c: Column): Column = c.cast("string").cast("double")
    firms
      .groupBy(col("market"))
      .agg(count(lit(1)).as("n_firms"),
        sum(col("__s")).cast("decimal(38,0)").as("__tot"),
        sum((col("__s") * col("__s")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__sq"))
      .select(col("market"), col("n_firms"),
        col("__tot").cast("decimal(19,0)").as("total"),
        when(col("__tot") === 0, lit(null).cast("double"))
          .otherwise(dbl(col("__sq")) /
            (dbl(col("__tot")) * dbl(col("__tot")))).as("hhi"))
  }

  /** Largest-remainder (Hamilton) allocation: split an integer `total`
    * across groups proportionally to a non-negative integer weight,
    * EXACTLY — Σ allocation = total always, which naive per-group
    * rounding cannot promise. The planning primitive behind sampling
    * budgets ("allocate 1M documents across domains by token mass"),
    * shard quotas, and ad/budget splits. Each group gets
    * `floor(total·w/W)` plus one bonus unit for the `total − Σfloor`
    * largest remainders (`total·w mod W`), ties to the smaller key so
    * the plan replays identically anywhere.
    *
    * Exactness: pure 64-bit integer arithmetic throughout — the caller
    * guarantees `total · max(weight) < 2⁶³` (pre-scale coarse weights
    * at the extreme; a REQUIREMENT, not a silent wrap). `share` is one
    * double division for the report.
    *
    * Scale: one weight aggregate to the groups-sized table, one 1-row
    * total broadcast, one rank window over GROUPS (allocation targets
    * are few by definition — the buckets-sized-window class). */
  def largestRemainder(df: DataFrame, keyCol: String, weight: Column,
      total: Long): DataFrame = {
    require(total >= 0, s"total must be >= 0, got $total")
    val groups = df
      .filter(weight.isNotNull && weight >= 0)
      .groupBy(col(keyCol).as("key"))
      .agg(sum(weight.cast("long")).as("w"))
      .filter(col("w") > 0)
    // one scalar join carries W; floors and remainders are per-row
    // 64-bit integral arithmetic (div = IntegralDivide, exact)
    val wSum = groups.agg(sum(col("w")).as("__W"))
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rem").desc, col("key"))
    val based = groups.crossJoin(broadcast(wSum))
      .withColumn("__base",
        call_function("div", lit(total) * col("w"), col("__W")))
      .withColumn("__rem", pmod(lit(total) * col("w"), col("__W")))
    val leftover = based
      .agg((lit(total) - sum(col("__base"))).as("__k"))
    based.crossJoin(broadcast(leftover))
      .withColumn("__rk", row_number().over(wRank))
      .select(col("key"), col("w").as("weight"),
        (col("__base") + when(col("__rk") <= col("__k"), 1L)
          .otherwise(0L)).as("allocation"),
        (col("w").cast("double") / col("__W").cast("double"))
          .as("share"))
  }

  /** Effective sample size of a weighted sample per group —
    * `ESS = (Σw)² / Σw²` (Kish), with the design effect `n/ESS`: the
    * "my 1M importance-weighted rows are worth how many unweighted
    * ones?" diagnostic behind every weighted draw
    * ([[graft.operators.Dedup.weightedPrioritySample]], importance
    * sampling, survey reweighting). ESS = n for uniform weights and
    * collapses toward 1 as weight mass concentrates.
    *
    * Exactness: integer weights route through the 19×19→38-digit
    * decimal product discipline (Σw, Σw² exact); ESS and deff are
    * each ONE double expression over the exact sums. Rows with NULL
    * or non-positive weight are excluded.
    *
    * Scale: one map-side-combined group aggregate — nothing wider
    * than group cardinality shuffles. */
  def effectiveSampleSize(df: DataFrame, groupCol: String,
      weight: Column): DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    df.filter(weight.isNotNull && weight > 0)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        sum(weight.cast("long")).as("__sw"),
        sum(d19(weight.cast("long")) * d19(weight.cast("long")))
          .as("__sww"))
      .select(col("group"), col("n"),
        col("__sw").as("sum_weight"),
        (dbl(d19(col("__sw")) * d19(col("__sw"))) / dbl(col("__sww")))
          .as("ess"),
        (col("n").cast("double") * dbl(col("__sww")) /
          dbl(d19(col("__sw")) * d19(col("__sw")))).as("deff"))
  }

  /** Theil T inequality index per group over positive integer values
    * (pass cents/micro units): `T = Σᵢ (xᵢ/S)·ln(xᵢ·n/S)` — 0 for
    * perfect equality, ln(n) for total concentration; the decomposable
    * entropy-family complement of [[giniConcentration]] (Theil
    * sub-indices add across partitions, Gini's don't).
    *
    * Numerics: S and n are exact; each unit's share and ratio are
    * fixed double expressions over them; the ln follows the repo's
    * log discipline (`round(ln, 9)` absorbs the ≤1-ulp engine
    * difference) and each `share·ln9` term is pico-quantized
    * (`floor(x·10¹² + 0.5)`) so the per-group sum is an order-free
    * exact integer (|Σ| ≤ ln(n)·10¹² — Long-safe to n ~ 10^300).
    * `theil` is the sum scaled back; `theil_norm = theil/ln9(n)`
    * (both display-rounded to 9). Rows with value ≤ 0 are excluded
    * (ln is undefined there — document the drop at scale).
    *
    * Scale: one group-keyed aggregate for (n, S), a group-sized
    * broadcast join back, one more group-keyed aggregate. Returns
    * (group, n, total, theil, theil_norm). */
  def theilIndex(df: DataFrame, groupCol: String, value: Column)
      : DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df
      .select(col(groupCol).as("group"), value.cast("long").as("__x"))
      .filter(col("__x").isNotNull && col("__x") > 0)
    val stats = base.groupBy(col("group"))
      .agg(count(lit(1)).as("__n"),
        sum(d19(col("__x"))).cast("decimal(28,0)").as("__t"))
    val share = col("__x").cast("double") / dbl(col("__t"))
    val ratio = share * col("__n").cast("double")
    val pico = floor(share * round(log(ratio), 9) *
      lit(1000000000000.0) + lit(0.5)).cast("long")
    base.join(broadcast(stats), Seq("group"))
      .groupBy(col("group"))
      .agg(first(col("__n")).as("n"),
        first(col("__t")).cast("bigint").as("total"),
        sum(pico).as("__p"))
      .select(col("group"), col("n"), col("total"),
        round(col("__p").cast("double") / 1000000000000.0, 9)
          .as("theil"),
        when(col("n") <= 1, lit(null).cast("double"))
          .otherwise(round((col("__p").cast("double") / 1000000000000.0)
            / round(log(col("n").cast("double")), 9), 9))
          .as("theil_norm"))
  }

  /** Lorenz curve at `points` evenly spaced population fractions —
    * the curve behind [[giniConcentration]]'s scalar: for each
    * i ∈ 1..points, the share of total value held by the BOTTOM
    * ⌊i·n/points⌋ units in the (value, id) ascending total order.
    * The inputs a fairness/concentration report plots directly.
    *
    * Numerics: membership of a unit in prefix i is the integer
    * cross-multiplication `grank·points ≤ i·n` (no division, exact);
    * prefix value sums are exact decimals; each share is ONE double
    * division. Ties at a prefix boundary cannot perturb the sum —
    * tied units carry equal values, so whichever lands inside
    * contributes the same amount.
    *
    * Scale: one [[graft.operators.Linkage.globalRank]] pass
    * (distributed range sort — never a single-partition window), then
    * ONE aggregate computing all `points` conditional prefix sums
    * (points is a literal ≤ 1000). Returns
    * (point, pop_share, units, cum_value, value_share) ordered by
    * point. */
  def lorenzCurve(df: DataFrame, idCol: String, value: Column,
      points: Int = 10): DataFrame = {
    require(points >= 1 && points <= 1000,
      s"points must be in [1,1000], got $points")
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val ranked = graft.operators.Linkage.globalRank(
      df.select(col(idCol).as("__id"), value.cast("long").as("__y"))
        .filter(col("__y").isNotNull && col("__y") >= 0),
      "__id", col("__y"))
    val stats = ranked.agg(count(lit(1)).as("__n"),
      sum(d19(col("__y"))).cast("decimal(28,0)").as("__t"))
    val inPrefix = (i: Int) =>
      col("grank") * points <= col("__n") * i
    val aggCols = (1 to points).flatMap { i => Seq(
      sum(when(inPrefix(i), 1L).otherwise(0L)).as(s"__u$i"),
      sum(when(inPrefix(i), d19(col("__y"))).otherwise(d19(lit(0))))
        .cast("decimal(28,0)").as(s"__c$i"))
    }
    val one = ranked.crossJoin(broadcast(stats))
      .agg(aggCols.head, aggCols.tail: _*)
      .crossJoin(broadcast(stats))
    // fan the one aggregate row out to `points` rows via posexplode —
    // a per-point union would paste `points` copies of the WHOLE
    // aggregation plan (measured 130 exchanges at points = 10)
    // (see also palmaRatio, which reads two fixed prefix cuts)
    one.select(col("__t"), posexplode(arrays_zip(
        array((1 to points).map(i => col(s"__u$i")): _*),
        array((1 to points).map(i => col(s"__c$i")): _*)))
        .as(Seq("__i", "__z")))
      .select((col("__i") + 1).cast("long").as("point"),
        ((col("__i") + 1).cast("double") / points.toDouble)
          .as("pop_share"),
        col("__z").getField("0").as("units"),
        col("__z").getField("1").cast("bigint").as("cum_value"),
        (dbl(col("__z").getField("1")) / dbl(col("__t")))
          .as("value_share"))
  }

  /** Palma ratio — top-10% share over bottom-40% share, the
    * inequality headline that reads the two Lorenz tails directly
    * (more interpretable than Gini when the middle is stable, the
    * development-economics standard): units rank ascending by
    * (value, id); bottom-40% = ranks with `grank·10 ≤ 4·n`, top-10% =
    * ranks with `grank·10 > 9·n` (integer cross-multiplication — no
    * division touches a row). Both masses are exact decimals; the
    * shares and the ratio are fixed double expressions. `palma` is
    * NULL when the bottom mass is 0 (the ratio diverges). One row:
    * (n, total, bottom40_value, top10_value, bottom40_share,
    * top10_share, palma).
    *
    * Scale: one [[graft.operators.Linkage.globalRank]] pass + ONE
    * aggregate with two conditional sums. */
  def palmaRatio(df: DataFrame, idCol: String, value: Column)
      : DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val ranked = graft.operators.Linkage.globalRank(
      df.select(col(idCol).as("__id"), value.cast("long").as("__y"))
        .filter(col("__y").isNotNull && col("__y") >= 0),
      "__id", col("__y"))
    val stats = ranked.agg(count(lit(1)).as("__n"),
      sum(d19(col("__y"))).cast("decimal(28,0)").as("__t"))
    ranked.crossJoin(broadcast(stats))
      .agg(first(col("__n")).as("n"),
        first(col("__t")).cast("bigint").as("total"),
        sum(when(col("grank") * 10 <= col("__n") * 4, d19(col("__y")))
          .otherwise(d19(lit(0)))).cast("decimal(28,0)").as("__b40"),
        sum(when(col("grank") * 10 > col("__n") * 9, d19(col("__y")))
          .otherwise(d19(lit(0)))).cast("decimal(28,0)").as("__t10"),
        first(col("__t")).as("__tt"))
      .select(col("n"), col("total"),
        col("__b40").cast("bigint").as("bottom40_value"),
        col("__t10").cast("bigint").as("top10_value"),
        (dbl(col("__b40")) / dbl(col("__tt"))).as("bottom40_share"),
        (dbl(col("__t10")) / dbl(col("__tt"))).as("top10_share"),
        when(col("__b40") === 0, lit(null).cast("double"))
          .otherwise(dbl(col("__t10")) / dbl(col("__b40")))
          .as("palma"))
  }

  /** Atkinson inequality index per group at ε = 1 — the
    * welfare-theoretic member of the family ([[theilIndex]] is the
    * entropy member, [[palmaRatio]] the tails member): `A = 1 −
    * geomean(x)/mean(x)`, the fraction of total income a society
    * could give up and stay equally well off under log utility.
    * 0 = perfect equality, → 1 as concentration grows.
    *
    * Numerics: values are positive integers (ln needs x > 0 — zero/
    * negative rows are excluded, same convention as Theil); per-row
    * `round(ln x, 9)` pico-quantizes and sums as exact decimals
    * (order-free — a long sum would overflow past ~2·10⁵ rows at
    * pico scale, so the sum rides decimal(28,0) like every other
    * big-sum in the family); mean, geomean and the index are fixed
    * double expressions, display-rounded to 9.
    *
    * Scale: ONE group-keyed map-side-combined aggregate — no join, no
    * window. Returns (group, n, total, mean, geomean, atkinson). */
  /** Join-explosion audit — the pre-flight check before an equi-join
    * at scale: exact output cardinality `Σ_k n_left(k)·n_right(k)` and
    * the top-k hottest keys by contribution, computed from the two
    * KEY-CARDINALITY count tables (the corpus rows are touched once
    * each for counting and never joined). The 100 TB question this
    * answers: "is this join 10× input or 10⁶× input, and which keys
    * make it so?" — the decision input for [[saltedJoin]] / broadcast
    * / pre-aggregation, made of exact numbers instead of optimizer
    * estimates. Returns the top `topK` keys by (out_rows desc, key):
    * (key, left_rows, right_rows, out_rows, total_out_rows, share);
    * NULL keys are excluded (they never match in an equi-join).
    *
    * Scale: two count aggregates (map-side combined), one
    * key-cardinality join, a 1-row total broadcast,
    * TakeOrderedAndProject. */
  def joinExplosionAudit(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column, topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val ca = left.select(leftKey.cast("string").as("key"))
      .filter(col("key").isNotNull)
      .groupBy(col("key")).agg(count(lit(1)).as("left_rows"))
    val cb = right.select(rightKey.cast("string").as("key"))
      .filter(col("key").isNotNull)
      .groupBy(col("key")).agg(count(lit(1)).as("right_rows"))
    val contrib = ca.join(cb, Seq("key"))
      .select(col("key"), col("left_rows"), col("right_rows"),
        (col("left_rows").cast("decimal(19,0)") *
          col("right_rows").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("__out"))
      .transform(CheckpointOps(_, eager = false)) // total + top-k
    val tot = contrib.agg(coalesce(sum(col("__out")),
      lit(0).cast("decimal(38,0)")).cast("decimal(38,0)").as("__tot"))
    contrib.crossJoin(broadcast(tot))
      .select(col("key"), col("left_rows"), col("right_rows"),
        col("__out").cast("decimal(19,0)").cast("bigint").as("out_rows"),
        col("__tot").cast("decimal(19,0)").cast("bigint")
          .as("total_out_rows"),
        (dbl(col("__out")) / dbl(col("__tot"))).as("share"))
      .orderBy(col("out_rows").desc, col("key"))
      .limit(topK)
  }

  def atkinsonIndex(df: DataFrame, groupCol: String, value: Column)
      : DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val pico = floor(round(log(col("__x").cast("double")), 9) *
      lit(1000000000000.0) + lit(0.5)).cast("long")
    val nD = col("n").cast("double")
    val mean = dbl(col("__t")) / nD
    val geo = exp(dbl(col("__ln")) / (nD * 1000000000000.0))
    df.select(col(groupCol).as("group"), value.cast("long").as("__x"))
      .filter(col("group").isNotNull && col("__x").isNotNull &&
        col("__x") > 0)
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n"),
        sum(d19(col("__x"))).cast("decimal(28,0)").as("__t"),
        sum(d19(pico)).cast("decimal(28,0)").as("__ln"))
      .select(col("group"), col("n"),
        col("__t").cast("bigint").as("total"),
        round(mean, 9).as("mean"), round(geo, 9).as("geomean"),
        round(lit(1.0) - geo / mean, 9).as("atkinson"))
  }
}
