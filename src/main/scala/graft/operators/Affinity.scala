package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

/** Market-basket co-occurrence mining — "what is bought (clicked, read,
  * co-edited) together?": item pairs sharing a basket, with support and
  * lift. The recommendation-feature companion of [[Retrieval]]'s
  * content-based ranking.
  *
  * Scale shape: ONE basket-keyed aggregate collects each basket's
  * sorted distinct item set, and the pair expansion is generated
  * MAP-SIDE from that array — no self-join, no separate distinct or
  * size-count pass (the pre-r16 shape paid a (basket,item)-keyed
  * distinct, a size aggregate, a semi-join and a basket-keyed
  * self-join: four exchanges of the posting set where one suffices).
  * A `maxBasketSize` cap bounds the quadratic blow-up the same way
  * `capBuckets` guards the LSH family: a degenerate mega-basket (a
  * crawler's session, a warehouse account) would otherwise emit
  * |basket|² pairs of zero discriminative value. Counts are exact
  * integers; `lift` is one fixed double formula over them, so results
  * are engine-exact. */
object Affinity {

  /** Per-basket sorted distinct item sets: `(__b, __items)` — the
    * shared front half of the basket kernels, ONE basket-keyed
    * aggregate. `collect_set` dedupes (basket, item) postings exactly
    * like the former `.distinct()`, and the size cap drops oversized
    * baskets whole. The aggregation buffer is ONE basket's distinct
    * items (bounded by the largest basket, not the corpus; oversized
    * baskets are discarded right after the aggregate — the guard
    * bounds the pair EMISSION either way, this shape just carries the
    * mega-basket's set through one exchange before dropping it).
    * Lazily checkpointed: every kernel reads it 2-3 times. */
  private[graft] def basketItemSets(df: DataFrame, basketCol: String,
      itemCol: String, maxBasketSize: Int): DataFrame =
    df.filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .groupBy(col("__b"))
      .agg(sort_array(collect_set(col("__i"))).as("__items"))
      .filter(size(col("__items")) <= maxBasketSize)
      .transform(CheckpointOps(_, eager = false))

  /** Each basket's `a < b` item pairs as `(__x, __y)` rows, generated
    * map-side from the sorted set: the array is distinct and
    * ascending, so `(items[i], items[j])` for `i < j` enumerates
    * exactly the pairs the former basket-keyed self-join
    * (`a.__i < b.__i` on the same basket) produced — zero joins, and
    * the downstream pair-count aggregate gets map-side partial
    * aggregation that the join shape denied it. */
  private[graft] def basketPairs(itemSets: DataFrame): DataFrame =
    itemSets
      .select(explode(flatten(transform(col("__items"),
        (x, i) => transform(
          slice(col("__items"), i + lit(2),
            size(col("__items")) - i - lit(1)),
          y => struct(x.as("__x"), y.as("__y")))))).as("__p"))
      .select(col("__p.__x").as("__x"), col("__p.__y").as("__y"))

  /** Item-pair co-occurrence counts with support/lift:
    * (item_a, item_b, n_baskets, lift), item_a < item_b, pairs below
    * `minSupport` baskets dropped. `lift = (n_ab · N) / (n_a · n_b)`
    * where N is the total basket count — > 1 means the pair co-occurs
    * more than independence predicts. Baskets larger than
    * `maxBasketSize` are excluded whole (skew guard, documented
    * coverage cut — log the drop rate at scale).
    *
    * `broadcastPairs` forces the support-filtered pair table onto the
    * broadcast side of the frequency joins (see the plan note below) —
    * correct when `minSupport` keeps the surviving pairs output-scale.
    * A LOW minSupport over a dense catalog can leave a multi-GB pair
    * table; pass `broadcastPairs = false` there to restore AQE's
    * size-based join planning (slower shuffle, no forced broadcast /
    * driver-OOM risk). */
  def coOccurrence(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2L, maxBasketSize: Int = 256,
      broadcastPairs: Boolean = true): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    def maybeBroadcast(t: DataFrame) =
      if (broadcastPairs) broadcast(t) else t
    val kept = basketItemSets(df, basketCol, itemCol, maxBasketSize)
    // total basket count as a broadcast one-row scalar join — never a
    // driver-side action in the operator body (kept is one row per
    // basket, so no distinct is needed)
    val total = kept.agg(count(lit(1)).as("__n"))
    val itemFreq = kept.select(explode(col("__items")).as("__i"))
      .groupBy(col("__i"))
      .agg(count(lit(1)).as("__ni"))
    val pairs = basketPairs(kept)
      .groupBy(col("__x").as("item_a"), col("__y").as("item_b"))
      .agg(count(lit(1)).as("n_baskets"))
      .filter(col("n_baskets") >= minSupport)
    // the support-filtered pair table is OUTPUT-scale (the rules a
    // consumer keeps: ~3.5k rows at sf0.1 and sublinear in postings,
    // since survival needs >= minSupport co-occurrences), while itemFreq
    // is catalog-scale — broadcast the pairs side so the two frequency
    // joins stream itemFreq with ZERO extra exchanges. AQE cannot see
    // this on its own: the union/filter above the pair groupBy hides the
    // post-filter size from the logical stats, so it was flipping these
    // joins to keyed shuffles at sf1 (SCALE.md round-10 smoke).
    maybeBroadcast(pairs)
      .join(itemFreq.select(col("__i").as("item_a"), col("__ni").as("__na")),
        Seq("item_a"))
      .join(itemFreq.select(col("__i").as("item_b"), col("__ni").as("__nb")),
        Seq("item_b"))
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("n_baskets"),
        round(col("n_baskets").cast("double") * col("__n").cast("double") /
          (col("__na").cast("double") * col("__nb").cast("double")), 6)
          .as("lift"))
  }

  /** Item-to-item similarity neighbors — the classic "customers who
    * bought X also bought Y" primitive: for every item, its `topK`
    * most-similar other items by binary-incidence cosine
    * `n_ab / √(n_a·n_b)`, with Jaccard `n_ab / (n_a + n_b − n_ab)`
    * alongside. Pairs below `minSupport` shared baskets never rank.
    *
    * Numerics: all counts are exact longs (≪ 2⁵³, so their double
    * images are exact); cosine is one correctly-rounded `sqrt` and one
    * correctly-rounded division, Jaccard one division — both
    * bit-identical in any IEEE-754 engine, so ranking on them (ties
    * broken by neighbor id) is deterministic with no rounding.
    *
    * Scale shape: the pair expansion is [[coOccurrence]]'s capped
    * basket-keyed self-join; directionalizing doubles only the
    * support-filtered pair table. The top-k window partitions by item —
    * at 100 TB that key is item-cardinality (fine), never basket-
    * cardinality, and no partition exceeds the item's surviving
    * neighbor count. */
  def itemSimilarity(df: DataFrame, basketCol: String, itemCol: String,
      topK: Int = 10, minSupport: Long = 2L,
      maxBasketSize: Int = 256,
      broadcastPairs: Boolean = true): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    def maybeBroadcast(t: DataFrame) =
      if (broadcastPairs) broadcast(t) else t
    val kept = basketItemSets(df, basketCol, itemCol, maxBasketSize)
    val itemFreq = kept.select(explode(col("__items")).as("__i"))
      .groupBy(col("__i"))
      .agg(count(lit(1)).as("__ni"))
    val pairs = basketPairs(kept)
      .groupBy(col("__x"), col("__y"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minSupport)
    val directed = pairs
      .select(col("__x").as("item"), col("__y").as("neighbor"),
        col("n_shared"))
      .unionAll(pairs.select(col("__y").as("item"),
        col("__x").as("neighbor"), col("n_shared")))
    // directed = 2x the support-filtered pair table — output-scale (see
    // coOccurrence's broadcast note); broadcasting it keeps both
    // frequency joins shuffle-free at any SF where the kept neighbor
    // set fits memory, which a consumer of top-k neighbors needs anyway
    // (broadcastPairs = false restores AQE planning for low-minSupport
    // dense catalogs where the pair table is NOT output-scale)
    val scored = maybeBroadcast(directed)
      .join(itemFreq.select(col("__i").as("item"), col("__ni").as("__na")),
        Seq("item"))
      .join(itemFreq.select(col("__i").as("neighbor"),
        col("__ni").as("__nb")), Seq("neighbor"))
      .withColumn("cosine", col("n_shared").cast("double") /
        sqrt((col("__na") * col("__nb")).cast("double")))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("__na") + col("__nb") - col("n_shared")).cast("double"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("item"))
      .orderBy(col("cosine").desc, col("neighbor"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("item"), col("rank"), col("neighbor"), col("n_shared"),
        col("cosine"), col("jaccard"))
  }

  /** Audience overlap between groups — "how much do the click and the
    * purchase audiences overlap?": for every group pair, the DISTINCT
    * entity intersection with Jaccard and Szymkiewicz–Simpson overlap
    * coefficients. The entity-similarity complement of
    * [[itemSimilarity]] (items sharing baskets vs groups sharing
    * members).
    *
    * Numerics: intersection/sizes are exact longs; jaccard and
    * overlap are each ONE correctly-rounded double division.
    *
    * Scale shape: one distinct on (group, entity), a per-entity pair
    * expansion bounded by `maxGroupsPerEntity` (the [[coOccurrence]]
    * skew cap — an entity in every group is capped, never
    * pair-exploded), group-sized joins after. */
  def audienceOverlap(df: DataFrame, groupCol: String, entityCol: String,
      maxGroupsPerEntity: Int = 256): DataFrame = {
    val posts = df
      .filter(col(groupCol).isNotNull && col(entityCol).isNotNull)
      .select(col(groupCol).as("__g"), col(entityCol).as("__e"))
      .distinct()
    val sized = posts.groupBy(col("__e"))
      .agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") <= maxGroupsPerEntity)
      .select(col("__e"))
    val kept = posts.join(sized, Seq("__e"), "left_semi")
      .transform(CheckpointOps(_, eager = false)) // sizes + the pair join
    val sizes = kept.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.__e") === col("b.__e") && col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("group_a"), col("b.__g").as("group_b"))
      .agg(count(lit(1)).as("intersection"))
    broadcast(pairs)
      .join(sizes.select(col("__g").as("group_a"), col("__n").as("n_a")),
        Seq("group_a"))
      .join(sizes.select(col("__g").as("group_b"), col("__n").as("n_b")),
        Seq("group_b"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("intersection"),
        (col("intersection").cast("double") /
          (col("n_a") + col("n_b") - col("intersection")).cast("double"))
          .as("jaccard"),
        (col("intersection").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("overlap"))
  }

  /** Directional association rules `antecedent → consequent` over the
    * same capped basket postings as [[coOccurrence]]: each surviving
    * undirected pair emits both directions with
    * `confidence = n_ab / n_antecedent` (how often the consequent
    * follows given the antecedent) and
    * `lift = (n_ab · N) / (n_a · n_b)`. Rules below `minSupport`
    * baskets or `minConfidence` are dropped.
    *
    * Numerics: every count is an exact long; `confidence` and `lift`
    * are each ONE double division of exactly-computed integer operands
    * (products stay in long range: counts are bounded by the basket
    * count), so the emitted doubles are correctly-rounded and
    * bit-identical in any IEEE engine — no rounding applied.
    *
    * Scale shape: identical to [[coOccurrence]] (basket-keyed pair
    * join behind the `maxBasketSize` skew cap, frequencies joined on
    * item, total-basket scalar broadcast); the direction union doubles
    * only the already-support-filtered pair table, not the expansion. */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2L, minConfidence: Double = 0.0,
      maxBasketSize: Int = 256,
      broadcastPairs: Boolean = true): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(minConfidence >= 0.0 && minConfidence <= 1.0,
      s"minConfidence must be in [0,1], got $minConfidence")
    def maybeBroadcast(t: DataFrame) =
      if (broadcastPairs) broadcast(t) else t
    val kept = basketItemSets(df, basketCol, itemCol, maxBasketSize)
    val total = kept.agg(count(lit(1)).as("__n"))
    val itemFreq = kept.select(explode(col("__items")).as("__i"))
      .groupBy(col("__i"))
      .agg(count(lit(1)).as("__ni"))
    val pairs = basketPairs(kept)
      .groupBy(col("__x"), col("__y"))
      .agg(count(lit(1)).as("n_baskets"))
      .filter(col("n_baskets") >= minSupport)
    val directed = pairs
      .select(col("__x").as("antecedent"), col("__y").as("consequent"),
        col("n_baskets"))
      .unionAll(pairs.select(col("__y").as("antecedent"),
        col("__x").as("consequent"), col("n_baskets")))
    // output-scale rule table (see coOccurrence's broadcast note;
    // broadcastPairs = false restores AQE planning for low minSupport)
    maybeBroadcast(directed)
      .join(itemFreq.select(col("__i").as("antecedent"),
        col("__ni").as("__na")), Seq("antecedent"))
      .join(itemFreq.select(col("__i").as("consequent"),
        col("__ni").as("__nc")), Seq("consequent"))
      .crossJoin(broadcast(total))
      .withColumn("confidence",
        col("n_baskets").cast("double") / col("__na").cast("double"))
      .filter(col("confidence") >= minConfidence)
      .select(col("antecedent"), col("consequent"), col("n_baskets"),
        col("confidence"),
        ((col("n_baskets") * col("__n")).cast("double") /
          (col("__na") * col("__nc")).cast("double")).as("lift"))
  }
}
