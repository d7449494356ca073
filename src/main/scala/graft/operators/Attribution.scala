package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

/** Marketing-style conversion attribution and path mining over an event
  * stream — the revenue-credit companion of [[Funnel]] (same
  * product-analytics consumer the reference's event collectors feed;
  * see `Funnel`'s provenance note).
  *
  * Scale shape, both operators: ONE hash exchange on the entity key,
  * window passes that reuse it, and aggregates that are map-side
  * combinable. Attribution's touch↔conversion pairing is a
  * co-partitioned self-join on (entity, span) — spans are bounded by
  * conversions per entity, so no reducer ever sees more than one
  * entity's touch window. Nothing event-scale reaches the driver.
  */
object Attribution {

  /** Credit conversion value to preceding touch channels. Span
    * semantics: events are ordered per entity by (ts, tie); each
    * conversion closes a span that began after the previous conversion,
    * and only touches INSIDE that span (strictly before the conversion
    * in the ordering) are candidates. Models:
    *  - "first": the span's earliest touch gets the full value;
    *  - "last": the span's latest touch gets the full value;
    *  - "linear": every touch in the span gets `value/n` (6-decimal
    *    quantized).
    * Conversions with NO preceding touch in their span credit the
    * channel NULL (kept — unattributed revenue is a real number the
    * report must show, not drop). Credited values are quantized to
    * micro-units via `floor(v·10⁶ + 0.5)` — exact IEEE, no engine-build
    * round()/double→DECIMAL tie dependence — and summed as
    * DECIMAL(28,0) (headroom ~10²⁷ micro-units, so a channel total can
    * exceed the ~9.2·10¹⁸ Long bound without wrap), so the totals are
    * engine-exact under any partitioning; the reported credit is ONE
    * correctly-rounded division by 10⁶. Returns (channel, n_credits, credit) — `n_credits`
    * counts credit rows: conversions for first/last, conversion–touch
    * pairs for linear. */
  def credit(events: DataFrame, entity: String, ts: String, tie: String,
      isTouch: Column, channel: Column, isConversion: Column,
      value: Column, model: String = "last"): DataFrame = {
    require(Set("first", "last", "linear")(model), s"unknown model $model")
    val wPrev = Window.partitionBy(col(entity))
      .orderBy(col(ts), col(tie))
      .rowsBetween(Window.unboundedPreceding, -1)
    // span id = conversions strictly before this event: a conversion's
    // own span id is its index, and exactly the touches since the
    // previous conversion share it
    val base = events
      .filter(isTouch || isConversion)
      .withColumn("__span", coalesce(
        sum(isConversion.cast("long")).over(wPrev), lit(0L)))
    val touches = base.filter(isTouch).select(col(entity).as("__e"),
      col("__span"), col(ts).as("__tts"), col(tie).as("__ttie"),
      channel.as("__ch"))
    val convs = base.filter(isConversion).select(col(entity).as("__e"),
      col("__span"), value.cast("double").as("__v"))
    val joined = convs.join(touches, Seq("__e", "__span"), "left")
    val wSpan = Window.partitionBy(col("__e"), col("__span"))
    val picked = model match {
      case "linear" =>
        // an unattributed conversion (no touches in span: the left join's
        // single null-channel row, __n = 0) keeps its FULL value — never
        // divide by the empty touch count
        joined.withColumn("__n", count(col("__ch")).over(wSpan))
          .withColumn("__credit",
            when(col("__n") === 0,
              floor(col("__v") * lit(1000000.0) + lit(0.5)))
              .otherwise(floor(col("__v") / col("__n") * lit(1000000.0)
                + lit(0.5)))
              .cast("long"))
      case m =>
        // row_number (not a min/max-struct equality filter) so a (ts,
        // tie) collision between two touches still credits EXACTLY one
        // row — a tie filter would keep every collider and double-count
        // the conversion's value. The unattributed conversion (left
        // join's single all-null touch row) is its span's only row, so
        // rn = 1 keeps it.
        val ord = if (m == "first") Seq(col("__tts").asc, col("__ttie").asc)
                  else Seq(col("__tts").desc, col("__ttie").desc)
        joined.withColumn("__rn", row_number().over(wSpan.orderBy(ord: _*)))
          .filter(col("__rn") === 1)
          .withColumn("__credit",
            floor(col("__v") * lit(1000000.0) + lit(0.5)).cast("long"))
    }
    picked
      .groupBy(col("__ch").as("channel"))
      .agg(count(lit(1)).as("n_credits"),
        (sum(col("__credit").cast("decimal(28,0)"))
          .cast("string").cast("double") / 1000000.0).as("credit"))
  }

  /** Temporal-containment pair support — "for users who do A, how many
    * go on to do B?": for every ordered step pair (a, b), the number of
    * entities with an a-event STRICTLY before some b-event, alongside
    * the a-audience size and their ratio. [[eventPaths]] counts
    * CONTIGUOUS k-step windows; this is the gap-tolerant companion (an
    * intervening click does not break "signup → purchase"), i.e.
    * length-2 sequential-pattern support with unlimited gap.
    *
    * The containment test collapses to span arithmetic: an entity has
    * a-before-b iff `min ts(a) < max ts(b)` — so the corpus reduces to
    * one (entity, step) min/max aggregate (map-side combinable) and a
    * per-entity self-join bounded by the entity's DISTINCT step count
    * (step cardinality, not event count — never quadratic in events).
    * `share` is ONE double division of exact counts. */
  def followedBy(events: DataFrame, entity: String, ts: String,
      step: Column): DataFrame = {
    val spans = events
      .filter(step.isNotNull && col(entity).isNotNull &&
        col(ts).isNotNull)
      .groupBy(col(entity).as("__e"), step.as("__s"))
      .agg(min(col(ts)).as("__mn"), max(col(ts)).as("__mx"))
      .transform(CheckpointOps(_, eager = false)) // pair join + audience sizes
    val pairs = spans.as("a")
      .join(spans.as("b"),
        col("a.__e") === col("b.__e") && col("a.__s") =!= col("b.__s") &&
          col("a.__mn") < col("b.__mx"))
      .groupBy(col("a.__s").as("step_a"), col("b.__s").as("step_b"))
      .agg(count(lit(1)).as("n_entities")) // (entity, step) rows unique
    val sizes = spans.groupBy(col("__s").as("step_a"))
      .agg(count(lit(1)).as("n_entities_a"))
    pairs.join(sizes, Seq("step_a"))
      .select(col("step_a"), col("step_b"), col("n_entities"),
        col("n_entities_a"),
        (col("n_entities").cast("double") /
          col("n_entities_a").cast("double")).as("share"))
  }

  /** Frequent k-step event paths — "what do entities DO, in order?":
    * every length-`k` window of each entity's ordered event stream
    * becomes a `a>b>c` path string, counted corpus-wide; returns the
    * `topN` paths by count (ties broken by path string, so the cut is
    * deterministic). One entity exchange + k−1 stacked leads over it +
    * a map-side-combined count + TakeOrdered — the same plan family as
    * [[Funnel.reach]], with output bounded by topN. */
  def eventPaths(events: DataFrame, entity: String, ts: String,
      tie: String, step: Column, k: Int, topN: Int): DataFrame = {
    require(k >= 2, s"paths need k >= 2, got $k")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val w = Window.partitionBy(col(entity)).orderBy(col(ts), col(tie))
    val steps = (0 until k).map {
      case 0 => step
      case i => lead(step, i).over(w)
    }
    events
      .withColumn("__path", concat_ws(">", steps: _*))
      .withColumn("__last", steps.last) // materialized: a window expr
      .filter(col("__last").isNotNull)  // cannot sit in a filter directly
      .groupBy(col("__path").as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(topN)
  }

  /** Markov removal-effect attribution — the DATA-DRIVEN credit model
    * the rule-based [[credit]] family can't express ("how much
    * conversion probability disappears if channel c vanishes?"):
    * journeys become a first-order Markov chain over states
    * {START, channels…, CONV, DROP}; the chain's absorption
    * probability into CONV from START is the baseline; removing a
    * channel (every hop INTO it re-routed to DROP) and re-solving
    * gives that channel's removal effect
    * `(P_base − P_without_c)/P_base`, and credit shares are removal
    * effects normalized over channels (Anderl et al.'s standard
    * construction).
    *
    * Span semantics are EXACTLY [[credit]]'s: per entity, each
    * conversion closes a span; a span's hops are START→first touch,
    * touch→next touch, last touch→CONV; a trailing span with no
    * conversion ends →DROP; a conversion with NO preceding touch is a
    * direct START→CONV hop (it raises the baseline but no channel can
    * claim it — honest unattributed mass).
    *
    * Scale: one hash exchange on the entity key (the [[credit]]
    * window), ONE (from, to) count aggregate — the collected
    * transition matrix is ≤ (k+2)² rows with k guarded IN-PLAN at
    * `maxChannels` (`raise_error` riding the count before the
    * collect: a per-item id column fails loudly, never OOMs the
    * driver). The k+1 absorption solves are driver arithmetic on that
    * model-sized matrix ([[graft.operators.Regression]] Gauss–Jordan,
    * fixed order).
    *
    * Returns one row per channel: (channel, n_transitions,
    * removal_effect, share, credit) with `credit = share ×
    * total conversions`; NULL effects when the baseline is 0 (no
    * conversions) — and an all-zero removal row normalizes to NULL
    * shares rather than 0/0. */
  def markovCredit(events: DataFrame, entity: String, ts: String,
      tie: String, isTouch: Column, channel: Column,
      isConversion: Column, maxChannels: Int = 64): DataFrame = {
    require(maxChannels >= 1 && maxChannels <= 256,
      s"maxChannels must be in [1,256], got $maxChannels")
    val spark = events.sparkSession
    val wPrev = Window.partitionBy(col(entity))
      .orderBy(col(ts), col(tie))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = events
      .filter(isTouch || isConversion)
      .withColumn("__span", coalesce(
        sum(isConversion.cast("long")).over(wPrev), lit(0L)))
      .withColumn("__conv", isConversion)
      .withColumn("__ch",
        when(isConversion, lit(null).cast("string"))
          .otherwise(channel.cast("string")))
    // per (entity, span): ordered hops. The span window is bounded by
    // one entity's touches between two conversions.
    val wSpan = Window.partitionBy(col(entity), col("__span"))
      .orderBy(col(ts), col(tie))
    val hops = base
      .withColumn("__rn", row_number().over(wSpan))
      .withColumn("__next", lead(col("__ch"), 1).over(wSpan))
      .withColumn("__nextConv", lead(col("__conv"), 1).over(wSpan))
    val START = "__START__"
    val CONV = "__CONV__"
    val DROP = "__DROP__"
    // edges: START→(first row's state), touch→touch, touch→CONV
    // (conversion row is the span's LAST row by construction),
    // trailing touch→DROP
    val firstEdge = hops.filter(col("__rn") === 1)
      .select(lit(START).as("__from"),
        when(col("__conv"), lit(CONV)).otherwise(col("__ch"))
          .as("__to"))
    val touchEdge = hops.filter(!col("__conv"))
      .select(col("__ch").as("__from"),
        when(col("__nextConv").isNotNull && col("__nextConv"), lit(CONV))
          .when(col("__next").isNotNull, col("__next"))
          .otherwise(lit(DROP)).as("__to"))
    val trans = firstEdge.unionByName(touchEdge)
      .filter(col("__from").isNotNull && col("__to").isNotNull)
      .groupBy(col("__from"), col("__to"))
      .agg(count(lit(1)).as("__n"))
    // in-plan channel-cardinality guard riding the aggregate spine
    val kGuard = trans
      .filter(col("__from") =!= START)
      .agg(countDistinct(col("__from")).as("__k"))
      .select(when(col("__k") > maxChannels,
          raise_error(concat(col("__k").cast("string"),
            lit(s" channels exceed maxChannels=$maxChannels — " +
              "markovCredit is a channel-mix model, not a per-item " +
              "scorer"))).cast("bigint"))
        .otherwise(col("__k")).as("__k"))
    // collect WITH the guard column — a select that dropped __k would
    // let column pruning eliminate the raise_error (the bradleyTerry
    // collect shape)
    val rows = trans.crossJoin(broadcast(kGuard))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val channels = rows.iterator
      .flatMap { case (f, t, _) => Iterator(f, t) }
      .filter(s => s != START && s != CONV && s != DROP)
      .toSeq.distinct.sorted
    val nConv = rows.iterator.filter(_._2 == CONV).map(_._3).sum
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("channel",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_transitions",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("removal_effect",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("share",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("credit",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    val outRows: Seq[org.apache.spark.sql.Row] = {
      val transient = START +: channels
      val idx = transient.zipWithIndex.toMap
      val outMass = rows.groupBy(_._1).view
        .mapValues(_.map(_._3).sum.toDouble).toMap
      val fromTouches = channels.map(c =>
        c -> rows.filter(_._1 == c).map(_._3).sum).toMap
      // absorption probability into CONV from START with channel set
      // `removed` re-routed to DROP: solve (I − Q)f = r
      def pConv(removed: Set[String]): Option[Double] = {
        val keep = transient.filterNot(removed)
        val ki = keep.zipWithIndex.toMap
        val m = keep.size
        val a = Array.ofDim[Double](m, m)
        val r = new Array[Double](m)
        for (i <- 0 until m) a(i)(i) = 1.0
        for ((f, t, n) <- rows if ki.contains(f)) {
          val i = ki(f)
          val p = n.toDouble / outMass(f)
          if (t == CONV) r(i) += p
          else if (t != DROP && ki.contains(t) && !removed(t))
            a(i)(ki(t)) -= p
          // hops into a removed/unknown state fall to DROP: no term
        }
        Regression.solveWithInverse(a, r).map(_._1(ki(START)))
      }
      pConv(Set.empty) match {
        case Some(baseP) if baseP > 0.0 && nConv > 0 =>
          val effects = channels.map { c =>
            val p = pConv(Set(c)).getOrElse(0.0)
            c -> math.max(0.0, (baseP - p) / baseP)
          }
          val total = effects.map(_._2).sum
          effects.map { case (c, e) =>
            val share: Any = if (total > 0.0) e / total else null
            val credit: Any =
              if (total > 0.0) e / total * nConv.toDouble else null
            org.apache.spark.sql.Row(c, fromTouches(c), e, share, credit)
          }
        case _ =>
          channels.map(c => org.apache.spark.sql.Row(
            c, fromTouches(c), null, null, null))
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(outRows, 1), schema)
  }
}
