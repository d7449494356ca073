package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

/** Record-linkage / entity-resolution blocking: candidate-pair
  * generation without the O(n²) cross join. The reference stops at
  * moving records (its Sqoop/OGG lineage); matching them is left to the
  * warehouse — this is that operator, Spark-first.
  */
object Linkage {

  /** Sorted-neighborhood blocking (Hernández & Stolfo): order the
    * corpus by a blocking key and emit every pair within `neighborhood`
    * positions — the classic "similar records sort near each other"
    * candidate generator (by name, by length, by normalized address …).
    * Returns (id_a, id_b) with `id_a` the earlier row in the global
    * (sortKey, id) order; downstream verifies pairs with a real
    * similarity (the same compose-then-verify shape as the LSH dedup
    * family).
    *
    * SEMANTICS: pairs (a, b) with `0 < grank(b) − grank(a) <=
    * neighborhood` where grank is the row's rank in the global
    * (sortKey, id) order — exactly the single-window formulation, which
    * is also the oracle.
    *
    * 100 TB shape: the global sort is a RANGE REPARTITION (Spark's
    * distributed sort primitive), never one partition's window. Within
    * a bucket, neighbors come from `neighborhood` stacked `lead`s over
    * one per-bucket window. Pairs that CROSS bucket boundaries are
    * recovered exactly from a boundary sliver — each bucket's first and
    * last `neighborhood` rows (≤ 2·n·buckets rows, broadcastable) with
    * their global ranks reconstructed from per-bucket counts (a
    * buckets-sized aggregate) — so the result is invariant to where the
    * range partitioner happens to cut, including empty and
    * smaller-than-neighborhood buckets. */
  /** EXACT edit-distance-1 similarity self-join by deletion
    * neighborhoods (the FastSS / SymSpell recipe, public since Bocek et
    * al. 2007): two strings are within Levenshtein distance 1 iff they
    * share a member of {s} ∪ {s minus one character} — a substitution
    * shares the deletion at the edited position, an insert/delete pair
    * shares the shorter string itself. The shared-variant test admits
    * some distance-2 pairs (e.g. "ab"/"ba" both delete to "b"), so
    * candidates verify with one exact `levenshtein` call; it admits
    * NO false negatives, so the result is exactly all pairs at
    * distance ≤ 1 — unlike the probabilistic LSH family, this join is
    * lossless and needs no recall caveat.
    *
    * Returns (id_a, id_b, dist) with id_a < id_b, dist ∈ {0, 1}
    * (dist 0 = exact duplicates; drop them upstream with
    * [[graft.operators.Dedup]] if unwanted).
    *
    * 100 TB shape: each string emits |s|+1 postings (use this on
    * identifier-like keys — names, codes, normalized titles — not
    * documents), the candidate join is a variant-keyed shuffle, and the
    * verify is one codegen'd levenshtein per candidate. A variant
    * bucket's size is the count of strings one edit apart at that
    * position — naturally small for key-like data; compose with a
    * normalizer upstream for adversarial corpora. */
  def editJoin(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val base = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(textCol).as("__s"))
    // {s} ∪ single-character deletions, tagged so dist-0 pairs are
    // found only via the identity variant
    val variants = base.select(col("__id"), col("__s"),
      explode(concat(array(col("__s")),
        expr("transform(sequence(1, length(__s))," +
          " i -> concat(substring(__s, 1, i-1), substring(__s, i+1)))")))
        .as("__v"))
      .distinct()
    val cand = variants.as("a")
      .join(variants.as("b"),
        col("a.__v") === col("b.__v") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__s").as("__sa"), col("b.__s").as("__sb"))
      .distinct()
    cand
      .withColumn("dist",
        levenshtein(col("__sa"), col("__sb")).cast("long"))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      sortKey: Column, neighborhood: Int, buckets: Int = 64): DataFrame = {
    require(neighborhood >= 1,
      s"neighborhood must be >= 1, got $neighborhood")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val idT = df.schema(idCol).dataType
    val ranged = df
      .select(col(idCol).as("__id"), sortKey.as("__key"))
      .repartitionByRange(buckets, col("__key"), col("__id"))
      .withColumn("__b", spark_partition_id())
      // bucket ids must not re-randomize
      .transform(CheckpointOps(_, eager = false))
    val wB = Window.partitionBy(col("__b"))
      .orderBy(col("__key"), col("__id"))
    val ranked = ranged.withColumn("__r", row_number().over(wB))

    // within-bucket pairs: `neighborhood` stacked leads, one window pass
    val leads = (1 to neighborhood).map(i => lead(col("__id"), i).over(wB))
    val intra = ranged
      .withColumn("__nb", array(leads: _*))
      .select(col("__id").as("id_a"),
        explode(col("__nb")).as("id_b"))
      .filter(col("id_b").isNotNull)

    // per-bucket counts -> global-rank offsets (buckets-sized)
    val offsets = ranged.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(
          Window.orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // boundary sliver: first/last `neighborhood` rows of every bucket,
    // with exact global ranks; tiny by construction
    val sliver = ranked.join(offsets, "__b")
      .filter(col("__r") <= neighborhood ||
        col("__r") > col("__n") - neighborhood)
      .select(col("__b"), col("__id"), (col("__off") + col("__r")).as("__g"))
      .transform(CheckpointOps(_, eager = false))
    val cross = sliver.as("a").join(sliver.as("b"),
        col("b.__g") > col("a.__g") &&
          col("b.__g") <= col("a.__g") + neighborhood &&
          col("a.__b") =!= col("b.__b"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))

    intra.unionByName(cross)
      .select(col("id_a").cast(idT), col("id_b").cast(idT))
  }

  /** Fuzzy (token-Jaccard) cross-corpus matching — the MATCHING half of
    * entity resolution ([[sortedNeighborhoodPairs]] generates
    * candidates within one corpus; this links a probe table against a
    * reference: "which master record is this dirty row?"). For each
    * left row, the `topPerLeft` right rows whose DISTINCT-token Jaccard
    * meets `threshold`, ranked by (score desc, right id).
    *
    * Execution, the postings compose-then-verify shape of the near-dup
    * family: tokens explode on both sides; the RIGHT (reference)
    * postings drop tokens shared by more than `maxTokenDf` right rows
    * (stopword-ish tokens generate quadratic candidates and carry no
    * identity — the [[Dedup.capBuckets]] skew guard); candidates are
    * the distinct (left, right) pairs sharing a surviving token; each
    * candidate verifies by EXACT Jaccard over the full token sets
    * (pruning affects candidate RECALL only, never a reported score).
    * Never an all-pairs product; the shuffles are keyed by token and by
    * pair. Tokens are whitespace-split, case-preserving — normalize
    * upstream ([[graft.operators.TextAnalysis]]) for looser matching.
    * Returns the left id, matched right id, `jaccard` (rounded to 6),
    * and `rank`. */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
      leftId: String, leftText: String, rightId: String, rightText: String,
      threshold: Double, maxTokenDf: Int = 1000,
      topPerLeft: Int = 1): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0,1], got $threshold")
    require(topPerLeft >= 1 && maxTokenDf >= 1, "bad caps")
    def toks(text: Column) =
      array_distinct(filter(split(text, "\\s+"), t => t =!= ""))
    val l = left.select(col(leftId).as("__lid"),
      toks(col(leftText)).as("__lt"))
    val r = right.select(col(rightId).as("__rid"),
      toks(col(rightText)).as("__rt"))
    val lPost = l.select(col("__lid"), explode(col("__lt")).as("__tok"))
    val rPost = Dedup.capBuckets(
      r.select(col("__rid"), explode(col("__rt")).as("__tok")),
      Seq("__tok"), maxTokenDf, min = 1)
    val cand = lPost.join(rPost, "__tok")
      .select(col("__lid"), col("__rid")).distinct()
    val scored = cand
      .join(l, "__lid").join(r, "__rid")
      .select(col("__lid"), col("__rid"),
        round(Dedup.jaccard(col("__lt"), col("__rt")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val w = Window.partitionBy(col("__lid"))
      .orderBy(col("jaccard").desc, col("__rid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topPerLeft)
      .select(col("__lid").as(leftId), col("__rid").as(rightId),
        col("jaccard"), col("rank").cast("long").as("rank"))
  }

  /** Exact dense global rank (1..N) in the (sortKey, id) total order —
    * WITHOUT a single-partition window: range repartition (Spark's
    * distributed sort) + per-bucket `row_number` + bucket-count prefix
    * offsets (a buckets-sized aggregate broadcast back). The building
    * block under [[sortedNeighborhoodPairs]]' boundary sliver and
    * [[negativeSamples]]' index join, exposed because "give every row
    * its exact position" keeps coming up (dense ids for trainers,
    * deterministic shard assignment) and the naive
    * `row_number() OVER (ORDER BY …)` moves the corpus to one task.
    * Appends `grank`. */
  def globalRank(df: DataFrame, idCol: String, sortKey: Column,
      buckets: Int = 64): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(!df.columns.contains("grank"),
      "globalRank appends 'grank', which already exists on the input")
    val ranged = df
      .repartitionByRange(buckets, sortKey, col(idCol))
      .withColumn("__b", spark_partition_id())
      // bucket ids must not re-randomize
      .transform(CheckpointOps(_, eager = false))
    val wB = Window.partitionBy(col("__b"))
      .orderBy(sortKey, col(idCol))
    val offsets = ranged.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(
          Window.orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    ranged.withColumn("__r", row_number().over(wB))
      .join(broadcast(offsets), "__b")
      .withColumn("grank", col("__off") + col("__r"))
      .drop("__b", "__r", "__off")
  }

  /** Deterministic negative sampling — `k` pseudo-random OTHER rows per
    * anchor, the contrastive-pair generator (embedding / reranker
    * training needs "k negatives per document", reproducibly, at corpus
    * scale): negative `i` of anchor `a` is the row at global position
    * `h(a, i) mod (N−1)` (positions at-or-after the anchor shift by one
    * so the anchor can never draw itself). The hash is the same
    * overflow-free pre-reduced multiplicative form as the sampling
    * family (engine-portable — an external system reproduces the exact
    * pairs), mixed per (anchor, i).
    *
    * 100 TB shape: one [[globalRank]] pass (distributed sort), then the
    * anchors explode ×k and equi-join the rank index on the computed
    * position — two keyed shuffles, no randomness at execution time and
    * no driver-side state. Returns (anchor, i, neg) where `neg` is the
    * sampled id. Collisions across i are possible (independent draws
    * with replacement, the standard contrastive regime). */
  def negativeSamples(df: DataFrame, idCol: String, k: Int,
      seed: Long = 42L, buckets: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val n = df.count()
    require(n >= 2, s"need at least 2 rows to sample negatives, got $n")
    // one distributed-sort pass feeds both sides of the position join
    val ranks = globalRank(df.select(col(idCol)), idCol, col(idCol),
      buckets).transform(CheckpointOps(_, eager = false))
    val idx = ranks.select(col(idCol).as("neg"), col("grank"))
    val anchors = ranks
      .select(col(idCol).as("anchor"), col("grank").as("__ga"))
    // portable overflow-free hash: ((a mod M)·A' + i·B' + seed mod M)
    // mod M, with (M−1)·A' ≈ 4.3e14 « Long.Max; M ≈ 1e9 bounds the
    // drawable positions — stripe the seed for corpora past 1e9 rows
    val M = 1000000007L
    val h = pmod(
      pmod(col("anchor"), lit(M)) * lit(427799L) +
        col("__i") * lit(40503L) + lit(seed % M), lit(M))
    val draw = pmod(h, lit(n - 1)) + 1 // position in 1..N-1
    anchors
      .withColumn("__i", explode(array((1 to k).map(lit): _*)))
      .withColumn("__pos",
        when(draw >= col("__ga"), draw + 1).otherwise(draw))
      .join(idx, col("__pos") === col("grank"))
      .select(col("anchor"), col("__i").as("i"), col("neg"))
  }

  /** Golden-record survivorship — the step AFTER linkage: collapse each
    * duplicate cluster to one master row (the MDM "survivorship" rules,
    * here the two deterministic classics):
    *
    *  - `canonical_id`: the `idCol` of the cluster row with the
    *    SMALLEST `winnerKey` struct ("oldest id wins", "highest trust
    *    wins" via a negated score, …). `winnerKey` must be a total
    *    order over cluster rows (include `idCol` last if the leading
    *    keys can tie) — ties would otherwise make the pick
    *    partitioning-dependent.
    *  - `top_<voteCol>`: the PLURALITY value of `voteCol` across the
    *    cluster, ties broken by the smallest value — "most sources
    *    agree" conflict resolution, fully deterministic.
    *
    * Plus `members` (cluster size) and `n_<voteCol>` (distinct values
    * seen — a conflict-rate signal). Returns one row per cluster:
    * (clusterCols*, canonical_id, members, n_<voteCol>, top_<voteCol>).
    *
    * 100 TB shape: two aggregates, no window over raw rows — the first
    * reduces the corpus to (cluster, vote) granularity with map-side
    * combine carrying (count, min winner) partials; the second runs
    * over that already-reduced table, so the wide shuffle moves one row
    * per (cluster, distinct vote), not per record. For long cluster
    * keys (raw text), pass a fingerprint column as the cluster key so
    * the shuffle carries 8 bytes, not documents. */
  def goldenRecords(df: DataFrame, clusterCols: Seq[String], idCol: String,
      winnerKey: Seq[Column], voteCol: String): DataFrame = {
    require(clusterCols.nonEmpty, "need at least one cluster column")
    require(winnerKey.nonEmpty, "need a winner ordering")
    val cs = clusterCols.map(col)
    val wk = struct(winnerKey.zipWithIndex
      .map { case (c, i) => c.as(s"k$i") }: _*)
    val perVote = df
      .groupBy((cs :+ col(voteCol)): _*)
      .agg(count(lit(1)).as("__n"),
        min_by(col(idCol), wk).as("__cid"),
        min(wk).as("__wk"))
    // ties: __wk is total by contract; (−n, vote) is unique because
    // vote values are distinct within the cluster after the first agg
    perVote
      .groupBy(cs: _*)
      .agg(sum(col("__n")).as("members"),
        count(lit(1)).as(s"n_$voteCol"),
        min_by(col("__cid"), col("__wk")).as("canonical_id"),
        min_by(col(voteCol),
          struct((-col("__n")).as("n"), col(voteCol).as("v")))
          .as(s"top_$voteCol"))
  }

  /** Duplicate-transaction detection — the FRAUD/ops flavor of dedup
    * (double-charged cards, double-booked invoices, replayed postings):
    * two transactions are suspect when the same entity posts the SAME
    * exact amount within `maxDays`. Text near-dup machinery is the
    * wrong tool here — the match key is (entity, exact cents) and the
    * fuzziness lives only in the date. Returns one row per suspect
    * pair (ordered by id): (entity, cents, id_a, id_b, day_a, day_b,
    * gap_days).
    *
    * Scale: pairs expand ONLY inside (entity, cents) blocks — the
    * [[graft.operators.Dedup.capBuckets]] guard drops degenerate blocks
    * (a default amount shared by thousands would expand quadratically;
    * a real screen reviews those separately) — so the join is
    * block-bounded by construction, never corpus². Amounts must be
    * exact integer cents. */
  def duplicateTransactions(df: DataFrame, idCol: String, entity: Column,
      amountCents: Column, ts: Column, maxDays: Int = 2,
      maxGroup: Int = 64): DataFrame = {
    require(maxDays >= 0, s"maxDays must be >= 0, got $maxDays")
    val txns = df
      .filter(entity.isNotNull && amountCents.isNotNull && ts.isNotNull)
      .select(col(idCol).as("__id"), entity.as("entity"),
        amountCents.cast("long").as("cents"),
        date_trunc("day", ts).cast("date").as("__day"))
    val pruned = graft.operators.Dedup.capBuckets(txns,
      Seq("entity", "cents"), maxGroup)
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.entity") === col("b.entity") &&
          col("a.cents") === col("b.cents") &&
          col("a.__id") < col("b.__id"))
      .filter(abs(datediff(col("b.__day"), col("a.__day"))) <= maxDays)
      .select(col("a.entity").as("entity"), col("a.cents").as("cents"),
        col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__day").as("day_a"), col("b.__day").as("day_b"),
        abs(datediff(col("b.__day"), col("a.__day"))).cast("long")
          .as("gap_days"))
  }

  /** Phonetic blocking join — the sound-alike complement to
    * [[editJoin]] (one typo) and [[sortedNeighborhoodPairs]] (near in
    * sort order): candidate pairs share a Soundex code (Spark's
    * codegen'd `soundex` — the classic American-English phonetic key:
    * "Smith"/"Smyth", "Robert"/"Rupert" block together while one-letter
    * lookalikes with different sounds do not), then verify with one
    * exact `levenshtein` call, keeping pairs within `maxDist`.
    *
    * Returns (id_a, id_b, key_a, key_b, block, dist) with id_a < id_b —
    * `block` the shared phonetic code, `dist` the verified edit
    * distance. Keys are phonetic-normalized only for BLOCKING; the
    * verify runs on the raw key text.
    *
    * 100 TB shape: one phonetic-key shuffle (16 B codes), within-block
    * self-join, per-candidate codegen verify — never row×row. Soundex
    * collapses aggressively (all codes are letter+3 digits), so
    * degenerate blocks are dropped by the shared
    * [[graft.operators.Dedup.capBuckets]] skew guard (`maxBlock`) —
    * the recall/cost dial every blocking join here exposes; a dropped
    * block is a REVIEW signal (that key text is too common to link
    * phonetically), not silence, when `auditBlocks` is used. */
  def phoneticJoin(df: DataFrame, idCol: String, keyCol: String,
      maxDist: Int = 2, maxBlock: Int = 256): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val base = df
      .filter(col(idCol).isNotNull && col(keyCol).isNotNull &&
        length(trim(col(keyCol))) > 0)
      .select(col(idCol).as("__id"), col(keyCol).as("__k"),
        soundex(upper(trim(col(keyCol)))).as("__blk"))
    val pruned = graft.operators.Dedup.capBuckets(
      base, Seq("__blk"), maxBlock)
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.__id") < col("b.__id"))
      .withColumn("dist",
        levenshtein(col("a.__k"), col("b.__k")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__k").as("key_a"), col("b.__k").as("key_b"),
        col("a.__blk").as("block"), col("dist"))
  }

  /** Block-size audit for [[phoneticJoin]]: one row per phonetic block
    * with its member count and whether the join would skip it
    * (`oversized` past `maxBlock`, `singleton` below pairing size) —
    * the coverage report that makes the skew guard's drops visible. */
  def phoneticBlockAudit(df: DataFrame, idCol: String, keyCol: String,
      maxBlock: Int = 256): DataFrame =
    df.filter(col(idCol).isNotNull && col(keyCol).isNotNull &&
        length(trim(col(keyCol))) > 0)
      .groupBy(soundex(upper(trim(col(keyCol)))).as("block"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col(keyCol)).as("n_distinct_keys"))
      .select(col("block"), col("n"), col("n_distinct_keys"),
        (col("n") > maxBlock).as("oversized"),
        (col("n") < 2).as("singleton"))
}
