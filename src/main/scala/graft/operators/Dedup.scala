package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.CheckpointOps

import graft.functions.VectorFunctions

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB case: every variant is (per-row expression work) → (one shuffle on
  * a bucket/hash key) → (within-bucket verification). No driver-side
  * materialization; candidate buckets are capped to bound skew.
  *
  * Exact dedup is a hash aggregate; near-dup uses MinHash+LSH banding
  * (shingle → signature → band → bucket join), SimHash with chunk banding,
  * or random-hyperplane LSH over embeddings. Signatures/planes are derived
  * from a fixed seed so plans are deterministic across runs and executors.
  */
object Dedup {

  /** Exact dedup: canonical survivor = min(id) per key column set. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("dup_count"))

  /** Exact duplicate GROUPS at large-key scale: the first shuffle carries
    * only (id, xxhash64(keys)) — 16 bytes/row, never the key columns
    * themselves — and the true key columns travel only for rows whose hash
    * group has >1 member (the candidate set, tiny for natural corpora).
    * A 64-bit collision can only add a candidate; the final group-by on the
    * real keys restores exactness. Returns (keyCols*, survivor_id,
    * dup_count) for keys occurring more than once. */
  def exactDupGroups(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val ids = df.select(col(idCol).as("__dup_id"),
      xxhash64(keyCols.map(col): _*).as("kh"))
    val cand = ids
      .withColumn("c", count(lit(1)).over(Window.partitionBy("kh")))
      .filter(col("c") > 1)
      .select("__dup_id") // distinct name so an idCol named "id" can't collide
    df.join(cand, df(idCol) === cand("__dup_id")).drop("__dup_id")
      .groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)
  }

  /** Loser ids of exact duplicate groups, hash-first — the removal-side
    * companion of [[exactDupGroups]], shaped so the corpus spine never
    * shuffles wide rows:
    *  1. one aggregate on `xxhash64(keys)` finds colliding hashes; with
    *     map-side combine the only corpus-wide shuffle carries
    *     (hash, partial count) = 16 bytes/row;
    *  2. the colliding-hash set (tiny for natural corpora) broadcast-joins
    *     back to pull just the CANDIDATE rows' true keys;
    *  3. survivor = min(id) per true key group among candidates (a window
    *     over only the candidate sliver — 64-bit collisions merely add a
    *     candidate, the true-key grouping restores exactness);
    *  4. everything but the survivor is a loser.
    * Returns one column `idCol`. Anti-join it against the corpus to dedup:
    * the loser set is small, so AQE broadcasts it and the corpus side of
    * the anti-join does not shuffle either. */
  def exactLosers(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val kh = xxhash64(keyCols.map(col): _*)
    val candKh = df.select(kh.as("__kh"))
      .groupBy("__kh").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select("__kh")
    val candRows = df.withColumn("__kh", kh)
      .join(candKh, "__kh")
      .select((idCol +: keyCols).map(col): _*)
    candRows
      .withColumn("__surv",
        min(col(idCol)).over(Window.partitionBy(keyCols.map(col): _*)))
      // null-safe: a NULL-id duplicate must still lose to the group's
      // (non-null) min survivor — plain =!= evaluates to NULL for it and
      // the filter would let the duplicate row survive. (A group whose
      // ids are ALL null has a null survivor and keeps its rows; ids are
      // assumed populated — this guards the stray-null case.)
      .filter(!(col(idCol) <=> col("__surv")))
      .select(col(idCol))
  }

  /** One-time MinHash index of a corpus for [[nearDupIncrement]]: per doc,
    * the banded LSH signature and the hashed shingle set — everything the
    * ingest-time near-dup check needs, so the base corpus TEXT is read
    * once at index-build time and never again. Persist this (it is
    * `bands·8 + |shingles|·8` bytes/doc, a small fraction of text) and
    * append each surviving increment's index rows after ingest. */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    docs.select(col(idCol).as("id"),
      org.apache.spark.sql.graft.NativeFunctions
        .minhashBands(col(textCol), shingleK, numHashes, bands).as("bands"),
      shingleHashes(col(textCol), shingleK).as("sh"))
  }

  /** Incremental NEAR-dup dedup: survivors of an ingest batch against a
    * [[minhashIndex]] of the already-deduplicated base — the analogue of
    * [[exactIncrement]] for near-duplicates:
    *  1. sketch: the shingle+minhash kernels run once over the increment,
    *     into one eager checkpoint that every later step reads;
    *  2. intra-batch: the [[minhashNearDups]] pairs within the increment,
    *     verified by exact Jaccard, go to ONE aggregate
    *     ([[componentLosers]]) that drops every member but its
    *     component's minimum id. Size contract: the verified pairs of one
    *     increment sit in one row of one task, 16 B per pair — smaller
    *     than the candidate block the probe below already broadcasts;
    *  3. cross-corpus: every sketched row probes the base index, which is
    *     first shrunk by a BROADCAST semi-join against the increment's
    *     (small, distinct) bucket keys — the full index streams through
    *     map tasks and never shuffles; only the matched sliver enters the
    *     cap window and the band join. Base buckets above `maxBucketSize`
    *     are dropped (boilerplate bands), the shared skew guard — matched
    *     buckets keep all their members, so the cap sees true bucket
    *     sizes. Candidates verify by exact Jaccard over the hashed
    *     shingle sets (the increment's from its sketch, the base side's
    *     from the index). A match found for an intra loser is dropped
    *     with it, so probing the intra losers too changes no survivor;
    *     it lets the probe start without waiting for step 2;
    *  4. the survivors are the sketched rows anti-joined with the intra
    *     losers and with the base matches. The frame stays lazy, so the
    *     caller's materialization runs the stages of steps 2 and 3
    *     concurrently.
    * Returns the surviving increment rows with all their columns. */
  def nearDupIncrement(increment: DataFrame, baseIndex: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, maxBucketSize: Int = 64): DataFrame =
    nearDupIncrementIndexed(increment, baseIndex, idCol, textCol,
      shingleK, numHashes, bands, threshold, maxBucketSize)
      .drop("bands", "sh")

  /** [[nearDupIncrement]] that also RETURNS the survivors' minhash
    * sketches as `bands`/`sh` columns ([[minhashIndex]]'s schema, keyed
    * by the caller's id column): the ingest loop appends survivors to
    * the index every batch, and rebuilding the index from survivor TEXT
    * re-runs the shingle+minhash kernels — the dominant per-doc compute
    * of the whole pipeline — a second time. The sketches here are the
    * ones the dedup itself banded and verified with (computed once into
    * the increment's checkpoint), so indexing them is free. */
  def nearDupIncrementIndexed(increment: DataFrame, baseIndex: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, maxBucketSize: Int = 64): DataFrame = {
    require(!increment.columns.contains("bands") &&
      !increment.columns.contains("sh"),
      "nearDupIncrementIndexed appends 'bands'/'sh' columns — the " +
        "increment must not already carry them")
    require(numHashes % bands == 0, "bands must divide numHashes")
    // Probe/build parameter mismatch check — structural, one limit-1 scan
    // of the index. An index built with different `bands` produces band
    // keys that match NOTHING, so every base near-duplicate would
    // silently survive ingest. (shingleK/numHashes are not structurally
    // detectable — persist them with the index like any model metadata.)
    baseIndex.select(size(col("bands")).as("__nb")).limit(1).collect()
      .foreach { r =>
        require(r.getInt(0) == bands,
          s"baseIndex carries ${r.getInt(0)} bands per signature but " +
            s"nearDupIncrement was called with bands=$bands — probe with " +
            "the index's build-time parameters")
      }
    // The shingle+minhash kernels — the dominant per-doc compute of the
    // whole pipeline — run EXACTLY ONCE over the increment, into this
    // checkpoint; every downstream pass (intra-batch band join + verify,
    // base-index probe, shingle verify, survivors' index append) reads
    // the precomputed `bands`/`sh` columns instead of re-sketching.
    // Eager: the probe's stages and the intra-batch stages below start
    // concurrently, and a lazy checkpoint would be computed by whichever
    // of them reaches it first, or by several.
    // Increment-scale by contract — never the index.
    val withSk = increment
      .withColumn("bands", org.apache.spark.sql.graft.NativeFunctions
        .minhashBands(col(textCol), shingleK, numHashes, bands))
      .withColumn("sh", shingleHashes(col(textCol), shingleK))
      .transform(CheckpointOps(_, eager = true))
    val incBanded = withSk
      .select(col(idCol).as("inc_id"), posexplode(col("bands")))
      .withColumnsRenamed(Map("pos" -> "band_idx", "col" -> "band_hash"))
    val incSh = withSk.select(col(idCol).as("inc_id"), col("sh"))
    // Intra-batch pair candidates from the precomputed sketches — the
    // same band→cap→pair→jaccard-verify shape as [[minhashNearDups]],
    // minus its per-doc kernels.
    val prunedIntra = capBuckets(
      incBanded.withColumnRenamed("inc_id", "id"),
      Seq("band_idx", "band_hash"), maxBucketSize)
    val intraPairs = bucketPairs(prunedIntra, Seq("band_idx", "band_hash"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
      .join(incSh.withColumnsRenamed(
        Map("inc_id" -> "id_a", "sh" -> "sh_a")), "id_a")
      .join(incSh.withColumnsRenamed(
        Map("inc_id" -> "id_b", "sh" -> "sh_b")), "id_b")
      .filter(jaccard(col("sh_a"), col("sh_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
    // Cluster-canonical intra-batch survivors: pairwise id_b-dropping
    // over-deletes chains (a~b, b~c, a!~c would delete BOTH b and c,
    // losing c's content entirely) — the same reasoning as the batch
    // pipeline's dropNearDups.
    val intraLosers = componentLosers(intraPairs).select(col("id").as("__l"))

    // Shrink the corpus-scale index to the buckets the increment touches
    // BEFORE any wide operator: the semi-join build side is the increment's
    // distinct bucket keys (micro-batch-sized by contract), broadcast, so
    // the index scan is map-only. The cap window then runs over the matched
    // sliver; a matched bucket keeps all its members, so the window count
    // is the true bucket size.
    val incKeys = incBanded.select("band_idx", "band_hash").distinct()
    val baseMatched = baseIndex
      .select(col("id").as("base_id"), posexplode(col("bands")))
      .withColumnsRenamed(Map("pos" -> "band_idx", "col" -> "band_hash"))
      .join(broadcast(incKeys), Seq("band_idx", "band_hash"), "left_semi")
    val basePruned =
      capBuckets(baseMatched, Seq("band_idx", "band_hash"), maxBucketSize, min = 1)
    val cand = incBanded.join(basePruned, Seq("band_idx", "band_hash"))
      .select("inc_id", "base_id").distinct()

    val baseSh = baseIndex.select(col("id").as("base_id"), col("sh").as("__sh_b"))
    // cand x incSh is increment-sized; broadcasting it keeps the shingle
    // arrays of the base index (the heavy column) from ever shuffling.
    val matched = baseSh.join(broadcast(cand.join(
        incSh.withColumnRenamed("sh", "__sh_i"), "inc_id")), "base_id")
      .filter(jaccard(col("__sh_i"), col("__sh_b")) >= threshold)
      .select(col("inc_id").as("__m")).distinct()
    withSk
      .join(intraLosers, withSk(idCol) === col("__l"), "left_anti")
      .join(matched, withSk(idCol) === col("__m"), "left_anti")
  }

  /** Loser ids of a pair graph `pairs(id_a, id_b)`: every member whose
    * connected component has a smaller id, in ONE aggregate — the edges
    * are collected into one row and a union-find kernel
    * ([[org.apache.spark.sql.graft.ComponentLosers]]) resolves them, so
    * no iteration and no round bound. For increment-sized graphs only:
    * the whole edge list sits in one task. The survivors equal those of
    * [[dupClusters]]; corpus-scale graphs go there. Returns one column
    * `id`. */
  private[graft] def componentLosers(pairs: DataFrame): DataFrame =
    pairs.agg(collect_list(struct(col("id_a"), col("id_b"))).as("__es"))
      .select(explode(org.apache.spark.sql.graft.NativeFunctions
        .componentLosers(col("__es"))).as("id"))

  /** Incremental exact dedup: survivors of an INGEST batch against an
    * already-deduplicated base corpus — the path an accumulating corpus
    * actually runs at 100 TB, where re-deduping the base on every ingest
    * is not an option:
    *  1. intra-batch: hash-first losers within the increment
    *     ([[exactLosers]]);
    *  2. hash screen: the base projects to `xxhash64(keys)` ONLY — the
    *     base's key columns never move; increment rows whose hash misses
    *     every base hash are definitely new;
    *  3. colliding sliver: only base rows sharing a colliding hash pull
    *     their true keys (a semi-join against the tiny colliding-hash
    *     set) for the exact verify, so a 64-bit collision can cost a
    *     narrow re-check but never drop a genuinely-new row.
    * Null keys compare EQUAL (`<=>`), matching [[exact]]/[[exactLosers]]
    * (whose window partitioning groups nulls): a null-keyed increment row
    * is a duplicate of a null-keyed base row, and of other null-keyed
    * increment rows — the same one-survivor rule as any other key value.
    * Returns the surviving increment rows with all their columns. */
  def exactIncrement(increment: DataFrame, base: DataFrame,
      idCol: String, keyCols: Seq[String]): DataFrame = {
    val kh = xxhash64(keyCols.map(col): _*)
    val intra = increment.join(exactLosers(increment, idCol, keyCols),
      Seq(idCol), "left_anti")
    val baseH = base.select(kh.as("__bh")).distinct()
    val withH = intra.withColumn("__kh", kh)
    val clean = withH
      .join(baseH, withH("__kh") === baseH("__bh"), "left_anti")
      .drop("__kh")
    val colliding = withH
      .join(baseH, withH("__kh") === baseH("__bh"), "left_semi")
    val baseSliver = base.withColumn("__bh2", kh)
      .join(colliding.select(col("__kh").as("__bh2")).distinct(), "__bh2")
      .select(keyCols.map(col): _*)
    // <=> not the USING-join's =: xxhash64 maps all-null keys on both
    // sides to the seed, so null-keyed rows reach this verify — SQL null
    // inequality would then resurrect them despite exactLosers having
    // deduped the same nulls within the batch.
    val verified = colliding
      .join(baseSliver,
        keyCols.map(k => colliding(k) <=> baseSliver(k)).reduce(_ && _),
        "left_anti")
      .drop("__kh")
    clean.unionByName(verified)
  }

  /** Ordered candidate pairs within capped buckets, WITHOUT a self-join:
    * one groupBy on the bucket keys (which reuses the `capBuckets` window
    * partitioning — no extra shuffle) collects the ≤cap member structs,
    * then a pair-expansion HOF explodes the O(cap²)-bounded combinations.
    * Compared to the classic bucket self-join this removes a second
    * evaluation of the bucket subtree, the join itself, and one wide
    * exchange. Returns columns `a`, `b` (structs of "id" +: payload),
    * with a.id < b.id by construction (members sorted). The outer lambda
    * references only the collected attribute, so Catalyst's lambda
    * inlining hazard (see project notes) does not apply. */
  private[graft] def bucketPairs(pruned: DataFrame, keys: Seq[String],
      payload: Seq[String] = Nil): DataFrame = {
    val member = struct(("id" +: payload).map(col): _*)
    val buckets = pruned.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(member)).as("__xs"))
    val pairsCol = flatten(transform(col("__xs"), (a, i) =>
      transform(slice(col("__xs"), i + lit(2), size(col("__xs"))),
        b => struct(a.as("a"), b.as("b")))))
    buckets.select(explode(pairsCol).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
  }

  /** Keep rows whose bucket (over `keys`) has between 2 and `cap` members,
    * computed as a window count over the same keys. One shuffle: the window
    * hash-partitions on `keys`, the downstream self-join on the same keys
    * reuses that partitioning (and Spark's ReuseExchange dedups the two
    * identical join sides), so no groupBy-count subtree, no join-back, and
    * nothing to persist. This is the shared skew guard for every LSH
    * operator here: a degenerate bucket of N members is O(N²) pairs in one
    * reducer, so buckets above `cap` are dropped. */
  private[graft] def capBuckets(df: DataFrame, keys: Seq[String], cap: Int,
      min: Int = 2): DataFrame =
    df.withColumn("__bsz",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__bsz").between(min, cap))
      .drop("__bsz")

  /** Token k-shingles of a text column ("w1 w2 .. wk" strings). */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => array_join(slice(toks, i + 1, lit(k)), " ")))
  }

  /** Set Jaccard similarity of two array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType)

  /** Distinct shingle xxhash64 set as `array<long>` (fused native
    * expression — no shingle strings in the plan). Set operations over
    * these hashes equal the string-set operations up to 64-bit collisions,
    * which is the same fidelity MinHash itself assumes. */
  def shingleHashes(text: Column, k: Int): Column =
    org.apache.spark.sql.graft.NativeFunctions.shingleHashes(text, k)

  /** MinHash signatures as a narrow table: (id, m0..m{H-1}).
    *
    * Computed posting-style — explode shingles to rows, one xxhash64 per
    * shingle, then H seeded rehashes (`xxhash64(i, base)`, overflow-free
    * under ANSI mode unlike the classic a*x+b) reduced with H `min` partial
    * aggregates. Map-side combine means the shuffle carries only H longs
    * per doc regardless of document size — this is the 100 TB-safe shape.
    * (The nested-lambda formulation `transform(seq(H), i → array_min(...))`
    * is quadratic in practice: Catalyst inlines the shingle expression into
    * the outer lambda and recomputes it H times per row.)
    */
  def minhashSignaturesPosting(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int): DataFrame = {
    val posting = docs
      .select(col(idCol).as("id"),
        explode(shingles(col(textCol), shingleK)).as("g"))
      .select(col("id"), xxhash64(col("g")).as("h"))
    val minCols = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"m$i"))
    posting.groupBy("id").agg(minCols.head, minCols.tail: _*)
  }

  /** Default signature path: the fused native expression (one pass per doc,
    * zero shuffle — bit-compatible with [[minhashSignaturesPosting]], which
    * stays as the row-explosion fallback for documents too large to shingle
    * in one task). Returns (id, sig: array<long>). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      org.apache.spark.sql.graft.NativeFunctions
        .minhashSignature(col(textCol), shingleK, numHashes).as("sig"))

  /** MinHash+LSH near-duplicate pairs.
    *
    * docs(idCol, textCol) → (id_a, id_b, jaccard) for candidate pairs whose
    * exact shingle Jaccard ≥ threshold. bands*rowsPerBand = numHashes.
    * The band join shuffles on (band_idx, band_hash); buckets larger than
    * maxBucketSize are dropped (standard LSH skew guard — a degenerate
    * bucket of N docs would otherwise produce N² pairs). Shingle arrays are
    * joined back only for the surviving candidate pairs, so the wide
    * arrays never travel through the band shuffle.
    */
  def minhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, maxBucketSize: Int = 64): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // fused signature+banding kernel (bit-identical to
    // xxhash64(slice(sig, j*r+1, r)) — pinned in ExpressionsSpec)
    val banded = docs
      .select(col(idCol).as("id"),
        posexplode(org.apache.spark.sql.graft.NativeFunctions
          .minhashBands(col(textCol), shingleK, numHashes, bands)))
      .withColumnsRenamed(Map("pos" -> "band_idx", "col" -> "band_hash"))
    val pruned = capBuckets(banded, Seq("band_idx", "band_hash"), maxBucketSize)

    // candidate pairs checkpoint (O(dup pairs), two longs each): the
    // two shingle joins below and any iterative consumer (dupClusters)
    // otherwise re-run the band pipeline per reference
    val pairs = bucketPairs(pruned, Seq("band_idx", "band_hash"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .transform(CheckpointOps(_, eager = false))

    // shingle sets computed ONCE, for candidate ids only, and kept as a
    // candidates-sized block (never corpus-sized): the former shape
    // joined the full (id, sh) frame twice, which re-executed the
    // upstream docs chain once per side — in the curation pipeline that
    // chain is the whole quality/decontamination cascade
    val candIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    val sh = docs.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleK).as("sh"))
      .join(candIds, Seq("id"), "left_semi")
      .transform(CheckpointOps(_, eager = false))
    pairs
      .join(sh.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), "id_a")
      .join(sh.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash over whitespace tokens: per-token xxhash64, ±1 vote per
    * bit, sign → bit. Integer votes make the result order-independent. */
  def simhash64(text: Column): Column = {
    val hashes = transform(split(text, " "), w => xxhash64(w))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(
        acc,
        transform(
          sequence(lit(0), lit(63)),
          b => when(call_function("shiftright", h, b).bitwiseAND(lit(1L)) === 1L, 1)
            .otherwise(-1)),
        (x, y) => x + y))
    aggregate(
      transform(votes, (c, i) =>
        when(c > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
  }

  /** SimHash signatures via the fused native expression (one pass per doc,
    * no shuffle). [[simhashSignaturesPosting]] keeps the explode→aggregate
    * form for documents too large to tokenize in one task. */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      org.apache.spark.sql.graft.NativeFunctions.simhash64(col(textCol)).as("sig"))

  /** Posting-style SimHash (explode tokens → 64 vote sums → pack): the
    * shuffle carries 64 ints per doc, map-side combined. */
  def simhashSignaturesPosting(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val posting = docs
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("w"))
      .select(col("id"), xxhash64(col("w")).as("h"))
    val voteCols = (0 until 64).map(b =>
      sum(when(call_function("shiftright", col("h"), lit(b))
        .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$b"))
    posting.groupBy("id").agg(voteCols.head, voteCols.tail: _*)
      .select(col("id"),
        (0 until 64).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  /** The signature chunking that backs [[simhashNearDups]]'s recall
    * guarantee: `max(4, radius+1)` chunks covering all 64 bits, so two
    * signatures within Hamming `radius` differ in at most `radius` chunks
    * and MUST share one (pigeonhole). Widths differ by at most one bit
    * when the chunk count does not divide 64; the mask after the
    * arithmetic shift discards sign-extension bits. */
  private[graft] def simhashChunks(sig: Column, radius: Int): Seq[Column] = {
    require(radius >= 0 && radius <= 15,
      s"simhash banding supports radius 0..15 (16 chunks of >= 4 bits), got $radius")
    val c = math.max(4, radius + 1)
    val widths = (0 until c).map(i => 64 / c + (if (i < 64 % c) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    widths.zip(offsets).map { case (w, off) =>
      val mask = if (w == 64) -1L else (1L << w) - 1L
      call_function("shiftright", sig, lit(off)).bitwiseAND(lit(mask))
    }
  }

  /** SimHash near-dup pairs within a Hamming radius. Banding on
    * `max(4, radius+1)` chunks guarantees candidate recall for ANY
    * requested radius (pigeonhole — a fixed four-chunk banding would
    * silently lose pairs beyond radius 3); verification is an exact
    * popcount on the XOR. Larger radii cost proportionally more chunk
    * rows and denser buckets — the usual LSH recall/cost dial. */
  def simhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      radius: Int = 3, maxBucketSize: Int = 256): DataFrame = {
    val sigs = simhashSignatures(docs, idCol, textCol)
    val chunked = sigs.select(
      col("id"), col("sig"),
      posexplode(array(simhashChunks(col("sig"), radius): _*)))
      .withColumnsRenamed(Map("pos" -> "chunk_idx", "col" -> "chunk_val"))
    val pruned = capBuckets(chunked, Seq("chunk_idx", "chunk_val"), maxBucketSize)

    bucketPairs(pruned, Seq("chunk_idx", "chunk_val"), payload = Seq("sig"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= radius)
  }

  /** Character/token n-gram Jaccard near-dups without MinHash: exact-verify
    * every pair that shares at least one rare shingle. The posting shuffles
    * on the shingle's 64-bit hash — never the shingle string, and never the
    * full shingle array (those are re-derived only for the surviving pairs
    * in the verify join, the same shape as [[minhashNearDups]]). Shingles
    * with document frequency above docFreqCap are dropped first
    * (inverse-document-frequency pruning); a 64-bit hash collision can only
    * add a candidate pair, which exact verification then screens. */
  def ngramJaccardNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.5,
      docFreqCap: Int = 32): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleK).as("sh"))
    val posting = sh.select(col("id"), explode(col("sh")).as("gh"))
    val prunedPosting = capBuckets(posting, Seq("gh"), docFreqCap)
    val pairs = bucketPairs(prunedPosting, Seq("gh"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    pairs
      .join(sh.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), "id_a")
      .join(sh.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** ASYMMETRIC near-dup: containment |sh(a) ∩ sh(b)| / |sh(a)| — the
    * quote/subset detector Jaccard misses. A short document pasted into
    * a long one has containment ≈ 1 in the short→long direction while
    * Jaccard (÷ by the UNION) stays tiny, so [[ngramJaccardNearDups]]
    * never fires; this is the standard screen for embedded benchmark
    * answers, boilerplate inclusions, and quote-heavy derivatives.
    * Emits BOTH orientations of each candidate pair that clears
    * `threshold`: (id_a, id_b, n_a, intersection, containment) meaning
    * "`containment` of a's shingles also appear in b".
    *
    * Scale: same machinery as the Jaccard form — shingle-hash postings
    * with the [[capBuckets]] document-frequency guard (a boilerplate
    * shingle shared by a million docs is pruned, never pair-expanded),
    * exact verification on candidate pairs only. The intersection is
    * exact; containment is ONE double division. */
  def containmentJoin(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.5,
      docFreqCap: Int = 32): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleK).as("sh"))
      // postings + both verify joins
      .transform(CheckpointOps(_, eager = false))
    val posting = sh.select(col("id"), explode(col("sh")).as("gh"))
    val prunedPosting = capBuckets(posting, Seq("gh"), docFreqCap)
    val pairs = bucketPairs(prunedPosting, Seq("gh"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val both = pairs.union(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    both
      .join(sh.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), "id_a")
      .join(sh.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("intersection"))
      .withColumn("containment",
        col("intersection").cast(DoubleType) / col("n_a").cast(DoubleType))
      .filter(col("containment") >= threshold)
  }

  /** LSH-recall evaluation harness — the threshold-tuning report every
    * production near-dup deployment needs: on an EVALUATION SLICE
    * (bounded by the caller — the exact side enumerates all pairs that
    * share any shingle, so corpus-scale input defeats the purpose), run
    * the exact n-gram Jaccard join (docFreqCap lifted — complete ground
    * truth) and the MinHash-banded join with the production parameters,
    * and report ONE row: (exact_pairs, lsh_pairs, matched, recall,
    * precision). `recall` is what banding trades away (both sides
    * verify exact Jaccard on the same shingles, so precision is 1.0
    * unless the configurations diverge — a non-1.0 precision is itself
    * a finding). The numbers feed bands/numHashes sizing BEFORE a
    * 100 TB run commits to them. */
  def lshRecallReport(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 4, threshold: Double = 0.35, numHashes: Int = 128,
      bands: Int = 32, maxBucketSize: Int = 64): DataFrame = {
    val slice = CheckpointOps(docs, eager = false) // both joins read it
    val exact = ngramJaccardNearDups(slice, idCol, textCol, shingleK,
        threshold, docFreqCap = Int.MaxValue)
      .select(col("id_a"), col("id_b"))
      .transform(CheckpointOps(_, eager = false)) // count + the match join
    val lsh = minhashNearDups(slice, idCol, textCol, shingleK, numHashes,
        bands, threshold, maxBucketSize)
      .select(col("id_a"), col("id_b"))
      .transform(CheckpointOps(_, eager = false))
    val ne = exact.agg(count(lit(1)).as("exact_pairs"))
    val nl = lsh.agg(count(lit(1)).as("lsh_pairs"))
    val nm = lsh.join(exact, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("matched"))
    ne.crossJoin(nl).crossJoin(nm) // three one-row frames
      .select(col("exact_pairs"), col("lsh_pairs"), col("matched"),
        when(col("exact_pairs") === 0L, lit(null).cast("double"))
          .otherwise(col("matched").cast(DoubleType) /
            col("exact_pairs").cast(DoubleType)).as("recall"),
        when(col("lsh_pairs") === 0L, lit(null).cast("double"))
          .otherwise(col("matched").cast(DoubleType) /
            col("lsh_pairs").cast(DoubleType)).as("precision"))
  }

  /** Template mining by shape normalization: collapse every digit run
    * to `#` and every letter run to `w` (after lowercasing), then count
    * documents per SHAPE — form letters, scraped boilerplate, and
    * machine-generated spam share a skeleton even when every token
    * differs, which is exactly the duplicate class shingle-based
    * near-dup scores as "different" (all the content words changed).
    * Returns shapes with ≥ `minDocs` members:
    * (shape_md5, n_docs, sample_doc_id) — the md5 bounds output width
    * (shapes can be document-length) and is engine-portable.
    *
    * Scale: shape is a zero-shuffle regexp chain in the scan stage; the
    * groupBy is ONE shape-keyed count with map-side combine — template
    * clusters collapse in the combiner, so the shuffle carries distinct
    * shapes, not documents. */
  def templateMine(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Long = 5L): DataFrame = {
    val shape = regexp_replace(
      regexp_replace(lower(col(textCol)), "[0-9]+", "#"),
      "[a-z]+", "w")
    docs
      .filter(col(textCol).isNotNull)
      .groupBy(shape.as("__shape"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(idCol)).as("sample_doc_id"))
      .filter(col("n_docs") >= minDocs)
      .select(md5(col("__shape")).as("shape_md5"), col("n_docs"),
        col("sample_doc_id"))
  }

  /** Duplicate clusters from a pair list: connected components by min-label
    * propagation, so every member maps to its component's smallest id (the
    * canonical survivor). Each iteration is one join + agg over the
    * (small) dup-pair graph with lineage truncated via `CheckpointOps` —
    * the standard DataFrame shape for iterative graph algorithms; LSH dup
    * graphs have tiny diameters so this converges in a few rounds.
    * Checkpoint blocks are O(graph vertices) — two longs per dup-pair
    * member, a sliver of corpus size — and superseded iterations' blocks
    * are reclaimed by Spark's ContextCleaner once unreferenced. Returns
    * (id, cluster_id).
    *
    * This is the corpus-scale path: `TrainingDataPipeline`,
    * `MediaCurationPipeline` and the gates call it. An increment's pair
    * graph, which fits one task, goes through [[componentLosers]]
    * instead ([[nearDupIncrementIndexed]]). */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // edges are checkpointed too: every iteration joins against them, and
    // without truncation each join would re-execute the full upstream
    // candidate pipeline (minhash/shingle over the corpus) per iteration.
    // The block is O(dup pairs) — two longs per edge. Checkpoint the
    // DIRECTED pairs first and build the symmetric view from the blocks:
    // checkpointing the union directly would execute the candidate
    // pipeline once per union branch (measured: the near-dup loser plan
    // in the p332 pipeline carried the corpus chain twice, ~600 KB of
    // physical plan).
    val p0 = CheckpointOps(
      pairs.select(col("id_a"), col("id_b")), eager = true)
    val edges =
      p0.union(p0.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    var labels = CheckpointOps(
      edges.select(col("id_a").as("id")).distinct()
        .withColumn("label", col("id")),
      eager = true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges.join(labels, edges("id_b") === labels("id"))
        .groupBy(edges("id_a").as("id")).agg(min("label").as("nl"))
      // convergence piggybacks on the checkpoint materialization via
      // observe — no separate compare-join job per iteration
      val obs = org.apache.spark.sql.Observation(s"graft_cc_$i")
      val updated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .observe(obs, coalesce( // sum over an empty graph is null, not 0
          sum(when(col("label") =!= col("__old"), 1L).otherwise(0L)),
          lit(0L)).as("chg"))
        .select("id", "label")
        .transform(CheckpointOps(_, eager = true))
      converged = obs.get("chg").asInstanceOf[Long] == 0L
      labels = updated
      i += 1
    }
    // Partial convergence means distant chain members still carry labels
    // above their component minimum — a caller that drops non-canonical
    // ids would then silently KEEP duplicates. Fail loudly instead.
    if (!converged) throw new IllegalStateException(
      s"dupClusters did not converge within $maxIter iterations — the " +
        "pair graph has a component with diameter > maxIter (long " +
        "near-dup chains); raise maxIter")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Deterministic stratified sample: keep a row iff its hash bucket (out
    * of `denominator`) falls below `fraction · denominator` — reproducible
    * across runs, partitionings and engines (unlike `df.sample`), zero
    * shuffle, filter fully codegen'd. `hash` defaults to seeded xxhash64 of
    * the id column; pass any deterministic expression to stratify
    * differently (e.g. by user, by domain). */
  def hashSample(df: DataFrame, idCol: String, fraction: Double,
      hash: Option[Column] = None, denominator: Int = 1 << 16): DataFrame =
    df.filter(hashSampleKeep(idCol, fraction, hash, denominator))

  /** The keep predicate [[hashSample]] filters on, exposed so an audit
    * path (a drop ledger) can mark the rows sampled OUT by negating it
    * over ONE pass of the input — instead of anti-joining the input
    * against its own sampled self, which carries the upstream chain
    * twice through the plan. */
  def hashSampleKeep(idCol: String, fraction: Double,
      hash: Option[Column] = None, denominator: Int = 1 << 16): Column = {
    val h = hash.getOrElse(xxhash64(lit("graft_sample"), col(idCol)))
    pmod(h, lit(denominator)) < (lit(fraction) * denominator)
  }

  /** Deterministic weight-biased sample without replacement: each row
    * gets priority `u / w` where `u` is the portable multiplicative
    * hash of its NUMERIC id (so the draw replays identically across
    * runs, partitionings, and engines) and `w > 0` its weight; the k
    * SMALLEST priorities win, so doubling a row's weight halves its
    * priority and (stochastically) doubles its selection odds. This is
    * the Efraimidis–Spirakis one-pass reservoir shape with a linear
    * (u/w) rather than exponential (u^(1/w)) priority transform — the
    * transform is monotone in u for fixed w, and the linear form keeps
    * the priority ONE IEEE division, bit-identical in every engine,
    * where pow/ln are not. Ties (same priority) break on id.
    *
    * Scale: priority is a zero-shuffle codegen'd expression; the global
    * bottom-k is `ORDER BY … LIMIT k` = TakeOrderedAndProject — each
    * partition forwards at most k rows to a single k-sized merge, never
    * a global sort. Weights come from any column (quality score, token
    * count, domain boost); rows with NULL or non-positive weight are
    * excluded (a zero-weight row must never win). */
  def weightedPrioritySample(df: DataFrame, idCol: String,
      weight: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // two-stage MINSTD chain mod the Mersenne prime 2^31-1: ~2.1e9
    // distinct values (vs 1e6 for the single-stage 1000003 chain, whose
    // heavy ties biased the draw toward small ids), products stay under
    // 2^47 so BIGINT arithmetic never overflows in any engine, and the
    // +1 keeps u >= 1 — an id divisible by the modulus must not map to
    // priority 0 and win regardless of weight
    val m = 2147483647L
    val u1 = pmod(pmod(col(idCol), lit(m)) * lit(48271L), lit(m))
    val u = (pmod(u1 * lit(48271L), lit(m)) + lit(1L)).cast("double")
    df.filter(weight.isNotNull && weight > 0)
      .withColumn("priority", u / weight.cast("double"))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** Leakage-safe dataset split: every row of a GROUP (user, domain,
    * dup-cluster) lands on the same side, because the split is a pure
    * function of the group key — a row-level random split puts one
    * user's Monday events in train and their Tuesday events in test,
    * and the model "predicts" what it memorized. Assign
    * `splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)` style
    * cumulative hash-bucket bands; fractions must sum to ≤ 1 (any
    * remainder gets NULL — an explicit holdout). Zero shuffle, fully
    * codegen'd, reproducible across runs/partitionings/engines. The
    * default hash is the overflow-free portable multiplicative chain
    * (the [[groupBottomK]] discipline) over a NUMERIC group key, so an
    * external system reproduces the assignment in plain SQL; pass
    * `hash = Some(xxhash64(...))` for string keys (portable across
    * Spark jobs, not across engines). Appends `split`. */
  def groupSplit(df: DataFrame, groupCol: String,
      splits: Seq[(String, Double)], hash: Option[Column] = None,
      denominator: Int = 10000): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "need at least one split with positive fraction")
    val total = splits.map(_._2).sum
    require(total <= 1.0 + 1e-9, s"fractions sum to $total > 1")
    // 427799 = 2654435761 mod 1000003 (pre-reduced Knuth multiplier)
    val h = hash.getOrElse(
      pmod(pmod(col(groupCol), lit(1000003L)) * lit(427799L), lit(1000003L)))
    val b = pmod(h, lit(denominator))
    // integer cut bands, not float thresholds: 0.8 + 0.1 accumulates to
    // 0.9000000000000001 in IEEE, and `b < 0.9…1 * 10000` admits bucket
    // 9000 while an external SQL reimplementation's `b < 9000` does not —
    // rounding each cumulative cut to a bucket count removes the boundary
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail
      .map(hi => math.round(hi * denominator))
    val expr = splits.zip(cuts).foldRight(
      lit(null).cast("string")) { case (((name, _), hi), acc) =>
      when(b < lit(hi), lit(name)).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Deterministic disjoint-and-covering corpus split (train/val/test):
    * weights normalize to contiguous bucket ranges over a hash of the id,
    * so every row lands in exactly ONE split, reproducibly at any
    * partitioning (and in any engine when given an engine-portable hash,
    * as the gate does). Zero shuffle — one codegen'd when-chain; the last
    * range is open-ended so floating-point bound rounding can never
    * orphan the tail bucket. Returns the input plus a `split` column. */
  def splitCorpus(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)],
      hash: Option[Column] = None, denominator: Int = 1 << 16): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits need positive weights")
    val total = splits.map(_._2).sum
    val h = pmod(hash.getOrElse(xxhash64(lit("graft_split"), col(idCol))),
      lit(denominator))
    val bounds = splits.scanLeft(0.0) {
      case (acc, (_, w)) => acc + w / total * denominator
    }.tail
    val assign = splits.zip(bounds).init
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), b), acc) => when(h < lit(b), lit(name)).otherwise(acc)
      }
    df.withColumn("split", assign)
  }

  /** Split-leakage removal: documents in the TRAIN split that are exact
    * or shingle-overlap near-duplicates of any holdout (val/test) document
    * are dropped from train — the holdout stays untouched, so evaluation
    * sets keep their intended distribution while the training side loses
    * its leaked twins (the train/val decontamination step of The Pile /
    * GPT-3 style corpus prep). Pure composition of [[splitCorpus]]'s
    * output with [[decontaminate]]: cost scales with the HOLDOUT side
    * (small by construction), never train². */
  def decontaminateSplits(df: DataFrame, idCol: String, textCol: String,
      splitCol: String = "split", trainSplit: String = "train",
      shingleK: Int = 5): DataFrame = {
    // Null-safe complement: with a user-supplied split column, plain
    // === / =!= would BOTH reject a NULL split value and the row would
    // vanish from the output entirely (the ternary-logic trap
    // temperatureMix documents). Null splits land in the holdout side:
    // they are not train, so they are kept untouched.
    val train = df.filter(col(splitCol) <=> trainSplit)
    val holdout = df.filter(!(col(splitCol) <=> trainSplit))
    // The holdout can be a corpus FRACTION (e.g. a 5% val split of a
    // 10 TB corpus), not a benchmark-sized table — leave the join
    // strategy to the planner instead of forcing a broadcast.
    decontaminate(train, holdout.select(col(idCol), col(textCol)),
        idCol, textCol, shingleK, hintBroadcast = false)
      .unionByName(holdout)
  }

  /** Corpus-level repeated-span removal (the C4/RefinedWeb curation step):
    * documents are cut into fixed `spanTokens`-token spans (the fused
    * [[org.apache.spark.sql.graft.TokenChunks]] kernel, overlap 0, trailing
    * partial span kept); every span that already occurred earlier in the
    * corpus — first occurrence = smallest (id, pos) — is dropped, and each
    * document is reassembled from its surviving spans in order. Documents
    * whose every span is a repeat disappear entirely (span dedup subsumes
    * exact-document dedup).
    *
    * Scale shape mirrors [[exactLosers]]: the corpus-wide shuffle that
    * finds repeated spans carries only `(xxhash64(span), partial count)`
    * = 16 bytes/row with map-side combine — never the span text. The
    * colliding-hash sliver (tiny for natural corpora, so AQE broadcasts
    * it) pulls back just the CANDIDATE spans' text for the true
    * first-occurrence window — a 64-bit collision can only add a
    * candidate; grouping by the real span string restores exactness. The
    * loser (id, pos) list then anti-joins the span stream, and the only
    * remaining corpus-wide exchange is the per-document reassembly
    * groupBy — the irreducible shuffle of any corpus rewrite.
    * Returns (id, text, kept_spans [, carryCols*]): `carryCols` are
    * per-document metadata columns carried through the reassembly
    * (cheaper than a post-hoc corpus-wide metadata join).
    * Documents with NULL text produce no spans and therefore no output
    * row (same as a document whose every span is a repeat) — coalesce
    * nulls upstream if they must survive the rewrite. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, carryCols: Seq[String] = Nil): DataFrame = {
    def spans = docs.select(
      (col(idCol).as("id") +:
        posexplode(org.apache.spark.sql.graft.NativeFunctions
          .tokenChunks(col(textCol), spanTokens, 0)) +:
        carryCols.map(col)): _*)
      .withColumnRenamed("col", "span")
    val candHashes = spans
      .select(xxhash64(col("span")).as("__sh"))
      .groupBy("__sh").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select("__sh")
    val candSpans = spans.withColumn("__sh", xxhash64(col("span")))
      .join(candHashes, "__sh")
    val losers = candSpans
      .withColumn("__rn", row_number().over(
        Window.partitionBy("span").orderBy("id", "pos")))
      .filter(col("__rn") > 1)
      .select(col("id"), col("pos"))
    spans.join(losers, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("span")))),
          x => x.getField("span")), " ").as("text"),
        (count(lit(1)).as("kept_spans") +:
          carryCols.map(c => first(col(c)).as(c))): _*)
  }

  /** Boilerplate line removal — the line-level dedup of the
    * CCNet/RefinedWeb recipe: a LINE (separator-delimited) that occurs in
    * more than `maxDocFreq` DISTINCT documents is boilerplate (nav menus,
    * cookie banners, signatures) and every occurrence is removed; the
    * surviving lines are reassembled in original order. Documents whose
    * every line was boilerplate are dropped.
    *
    * Hash-first with exact confirmation, like [[exactLosers]]: the
    * corpus-wide counting shuffle carries `(xxhash64(line), id)` distinct
    * pairs — 16 B/row, map-side combinable, never line text; the text of
    * the (rare) candidate hashes is then recounted EXACTLY by line string
    * on that sliver, so a 64-bit collision can never remove an innocent
    * line. The boilerplate set is tiny by definition (lines occurring in
    * many documents) → broadcast anti-join; the only text-bearing
    * exchange is the per-doc reassembly groupBy, the irreducible shuffle
    * of any corpus rewrite (same as [[spanDedup]]).
    *
    * Returns (id, text, kept_lines, carryCols..., total_lines). */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Long, sep: String = "\n",
      carryCols: Seq[String] = Nil): DataFrame = {
    def lines = docs.select(
        (col(idCol).as("id") +:
          posexplode(split(col(textCol),
            java.util.regex.Pattern.quote(sep))) +:
          carryCols.map(col)): _*)
      .withColumnRenamed("col", "line")
    // pass 1: doc frequency per line HASH (distinct doc pairs, 16 B/row)
    val candHashes = lines
      .select(xxhash64(col("line")).as("__lh"), col("id"))
      .distinct()
      .groupBy(col("__lh")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select(col("__lh"))
    // pass 2: exact recount by line STRING on the candidate sliver only
    val boiler = lines
      .withColumn("__lh", xxhash64(col("line")))
      .join(broadcast(candHashes), "__lh")
      .select(col("line"), col("id")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select(col("line"))
    // Single reassembly pass: flag boilerplate lines (broadcast left
    // join) instead of anti-joining, so per-doc totals and surviving text
    // come out of ONE groupBy — three corpus scans total (hash count,
    // exact recount on the candidate sliver, rebuild) rather than four.
    // Docs reduced to nothing drop via the kept filter.
    val flagged = lines.join(
      broadcast(boiler.withColumn("__bl", lit(true))), Seq("line"), "left")
    flagged.groupBy(col("id"))
      .agg(
        array_join(transform(
          filter(
            array_sort(collect_list(struct(col("pos"),
              when(col("__bl").isNull, col("line")).as("kl")))),
            x => x.getField("kl").isNotNull),
          x => x.getField("kl")), sep).as("text"),
        (sum(when(col("__bl").isNull, 1L).otherwise(0L)).as("kept_lines") +:
          count(lit(1)).as("total_lines") +:
          carryCols.map(c => first(col(c)).as(c))): _*)
      .filter(col("kept_lines") > 0)
      .select((col("id") +: col("text") +: col("kept_lines") +:
        carryCols.map(col) :+ col("total_lines")): _*)
  }

  /** Per-stratum deterministic sampling — the data-mixing step of a
    * training pipeline (e.g. upsample curated sources, downsample
    * crawl): each stratum keeps its own fraction, resolved through the
    * same engine-portable hash-bucket rule as [[hashSample]]. Zero
    * shuffle, fully codegen'd filter; reproducible across runs,
    * partitionings and engines, unlike `df.sampleBy`. The default hash
    * seed differs from [[hashSample]]'s so composing the two (corpus
    * downsample × stratum mixing) keeps independent buckets — with a
    * shared seed the filters would correlate and the composed keep rate
    * would be min(f, rate) instead of f·rate. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double,
      hash: Option[Column] = None, denominator: Int = 1 << 16): DataFrame = {
    val h = hash.getOrElse(xxhash64(lit("graft_mix"), col(idCol)))
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(pmod(h, lit(denominator)) < (rate * denominator))
  }

  /** Exact k-per-group deterministic sample — "k example documents from
    * EVERY source/domain/cluster" — via the mergeable bottom-k-by-hash
    * aggregate ([[org.apache.spark.sql.graft.BottomKIdsAgg]]): each group
    * keeps the k ids with the smallest (hash, id) pairs, which is a
    * uniform without-replacement sample when the hash is uniform, and a
    * deterministic function of the input set always.
    *
    * Why not `row_number() OVER (PARTITION BY group ORDER BY hash)`? The
    * window formulation SORTS EVERY GROUP IN FULL — at 100 TB that is a
    * corpus-wide shuffle carrying every row into a per-group sort just to
    * throw away all but k. Here the exchange carries at most k (hash, id)
    * pairs per group per map partition (heap state is O(k), map-side
    * combined), and nothing is ever sorted but k-element heaps. The two
    * formulations are equivalent by construction — `DataOpsSpec` pins
    * engine ≡ window on real data, and the d150 gate's oracle IS the
    * window formulation.
    *
    * Returns (group, id) rows, totally ordered within a group by the
    * caller's hash then id. The default hash is engine-portable
    * (multiplicative, mirrors [[hashSample]]'s style) so an external
    * system reproduces the exact sample. The multiplication is done on
    * PRE-REDUCED operands — `((id mod M)·(A mod M)) mod M`, identical to
    * `(id·A) mod M` by modular arithmetic but bounded by (M−1)·427799
    * ≈ 4.3e11, so it can never overflow a Long: the naive product
    * `id·2654435761` overflows for ids ≥ ~3.5e9, which under ANSI mode
    * is a job-killing ARITHMETIC_OVERFLOW at exactly the scale this
    * aggregate targets. Join the result back to the corpus (broadcast —
    * it is `groups·k` rows) to fetch payloads. */
  def groupBottomK(df: DataFrame, groupCol: String, idCol: String, k: Int,
      hash: Option[Column] = None): DataFrame = {
    // 427799 = 2654435761 mod 1000003 (Knuth multiplier, pre-reduced)
    val h = hash.getOrElse(
      pmod(pmod(col(idCol), lit(1000003L)) * lit(427799L), lit(1000003L)))
    df.groupBy(col(groupCol))
      .agg(org.apache.spark.sql.graft.NativeFunctions
        .bottomKIdsAgg(h.cast("long"), col(idCol).cast("long"), k)
        .as("__ids"))
      .select(col(groupCol), explode(col("__ids")).as(idCol))
  }

  /** Exact top-k-BY-SCORE per group — the quality-ranked sibling of
    * [[groupBottomK]] ("keep the k highest-quality documents per
    * domain"): scores map through the order-preserving sortable-bits
    * transform ([[org.apache.spark.sql.graft.SortableDoubleBits]]),
    * bit-inverted so the k LARGEST scores are the k smallest keys, and
    * ride the same mergeable O(k)-state heap — no group is ever sorted,
    * the exchange carries ≤ k pairs per group per map partition. This is
    * [[domainCap]]'s 100 TB form: the rank-window cap sorts every
    * domain; this keeps only heap state. Ties (equal scores) break by id
    * ascending; null scores are skipped (a row without a score cannot be
    * preferred); NaN orders above +Infinity exactly like Spark's sort.
    * Returns (group, id); join back to fetch payloads. */
  def groupTopKByScore(df: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    val nf = org.apache.spark.sql.graft.NativeFunctions
    val key = bitwise_not(nf.sortableDoubleBits(col(scoreCol).cast("double")))
    df.groupBy(col(groupCol))
      .agg(nf.bottomKIdsAgg(key, col(idCol).cast("long"), k).as("__ids"))
      .select(col(groupCol), explode(col("__ids")).as(idCol))
  }

  /** Temperature-scaled domain mixing — the `p_d ∝ n_d^α` exponential
    * smoothing rule used to set multi-domain/multilingual training mixes
    * (α < 1 upweights small domains, α = 1 keeps natural proportions;
    * the public recipe from the multilingual-BERT/XLM-R line of work).
    * Target share `p_d = n_d^α / Σ n^α` of a `targetRows` budget,
    * realized as per-domain rates `min(1, p_d·targetRows/n_d)` through
    * the deterministic [[stratifiedSample]] bucket rule, so the realized
    * mix is reproducible across runs and partitionings. Fully
    * distributed — the rate math is [[mixturePlan]]'s relational formula
    * (one group-by to a domains-sized table + a one-row scalar join),
    * and the rates reach the rows through a join the optimizer
    * broadcasts when domains are few (the usual case) and shuffles when
    * a caller passes a 100M-cardinality domain column — NOTHING is ever
    * collected to the driver, so domain cardinality is never a failure
    * mode. A domain whose budgeted share exceeds its size keeps every
    * row — repetition beyond 1x is [[upsample]]'s job, compose the two
    * for that.
    *
    * `weightCol` switches the budget unit from rows to per-row weights —
    * the TOKEN-budgeted mix real pretraining recipes specify ("X billion
    * tokens per domain", not documents): domain sizes become
    * `n_d = Σ weight` and `targetRows` is a weight budget. Rows are still
    * kept or dropped whole (hash sampling is row-wise uniform within a
    * domain, so the realized weight share converges to the budgeted
    * share); null weights count as 0. */
  def temperatureMix(df: DataFrame, idCol: String, domainCol: String,
      alpha: Double, targetRows: Long,
      weightCol: Option[String] = None): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1], got $alpha")
    require(targetRows > 0, "targetRows must be positive")
    // null domains are a domain, not a leak: a when-chain on the raw
    // column can never match NULL (ternary logic), which would silently
    // drop every null-domain row AND deflate the other domains' rates
    // (the null group still inflates wsum) — so bucket through a
    // null-coalesced shadow column
    val dcol = "__graft_domain"
    val withDomain = df.withColumn(dcol,
      coalesce(col(domainCol).cast(StringType), lit("__graft_null__")))
    val size = weightCol
      .map(w => coalesce(sum(col(w).cast(DoubleType)), lit(0.0)))
      .getOrElse(count(lit(1)).cast(DoubleType))
    val sizes = withDomain.groupBy(col(dcol)).agg(size.as("__graft_n"))
      .filter(col("__graft_n") > 0.0) // zero-weight domains: rate 0
    val wsum = sizes
      .agg(sum(pow(col("__graft_n"), lit(alpha))).as("__graft_wsum"))
    val rates = sizes.crossJoin(broadcast(wsum)) // one-row scalar join
      .select(col(dcol), least(lit(1.0),
        pow(col("__graft_n"), lit(alpha)) / col("__graft_wsum")
          * lit(targetRows.toDouble) / col("__graft_n"))
        .as("__graft_rate"))
    // the same deterministic bucket rule as [[stratifiedSample]], with
    // the rate arriving by join instead of a when-chain: an inner join
    // realizes defaultRate = 0 (zero-weight domains vanish with their
    // missing rate row) and keeps the plan size constant in #domains
    val denom = 1 << 16
    val h = xxhash64(lit("graft_mix"), col(idCol))
    withDomain
      .join(rates, Seq(dcol))
      .filter(pmod(h, lit(denom)) < (col("__graft_rate") * denom))
      .drop(dcol, "__graft_rate")
  }

  /** Distributed sibling of [[temperatureMix]]'s driver-side rate math —
    * the MIXTURE PLAN as a DataFrame: one row per domain with its size
    * `n` (rows, or Σ`weightCol` when budgets are in tokens), its
    * temperature-scaled share `n^alpha / Σ n^alpha`, the capped
    * per-domain sampling `rate` = min(1, share·target/n), and the
    * expected realized size. Pretraining recipes are REVIEWED as such
    * tables before anything materializes; this emits the plan itself so
    * it can be persisted, diffed, and audited. Entirely relational (one
    * group-by + a one-row scalar join — nothing through the driver), and
    * exactly the formula [[temperatureMix]] applies, so the plan and the
    * materialization can never drift.
    *
    * Null domains report as the empty string (a domain, not a leak —
    * same semantics as temperatureMix's null bucket). `rate` and `share`
    * are rounded to `roundTo` decimals for engine-reproducibility;
    * `expected_n` = floor(n·rate + 0.5) uses the UNROUNDED rate
    * (floor(x+0.5), not round(x): exact IEEE, no engine-build half-rule
    * dependence — n·rate is non-negative so this is plain half-up). */
  def mixturePlan(df: DataFrame, domainCol: String, alpha: Double,
      targetRows: Long, weightCol: Option[String] = None,
      roundTo: Int = 6): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1], got $alpha")
    require(targetRows > 0, "targetRows must be positive")
    val size = weightCol
      .map(w => coalesce(sum(col(w).cast(DoubleType)), lit(0.0)))
      .getOrElse(count(lit(1)).cast(DoubleType))
    val sizes = df
      .groupBy(coalesce(col(domainCol).cast(StringType), lit(""))
        .as("domain"))
      .agg(size.as("n"))
      .filter(col("n") > 0.0)
    val wsum = sizes.agg(sum(pow(col("n"), lit(alpha))).as("__wsum"))
    val share = pow(col("n"), lit(alpha)) / col("__wsum")
    val rate = least(lit(1.0), share * lit(targetRows.toDouble) / col("n"))
    sizes.crossJoin(broadcast(wsum)) // one-row scalar join
      .select(col("domain"), col("n").cast(LongType).as("n"),
        round(share, roundTo).as("share"),
        round(rate, roundTo).as("rate"),
        floor(col("n") * rate + 0.5).cast(LongType).as("expected_n"))
      .orderBy(col("domain"))
  }

  /** Per-domain quota cap — the "no domain dominates the mix" guard
    * (Gopher-style source capping): keep at most `cap` rows per domain,
    * PREFERRING rows by `preference` descending (a quality score, a
    * recency timestamp — any column expression), ties by ascending id so
    * the cut is deterministic at any partitioning. Domains under the cap
    * pass through whole. One hash shuffle on the domain + a per-domain
    * local sort (rank never leaves its partition); a skewed giant domain
    * is ONE reducer's sort — for pathological skew, pre-trim with
    * [[hashSample]] before capping. */
  def domainCap(df: DataFrame, idCol: String, domainCol: String,
      cap: Int, preference: Column): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val w = Window.partitionBy(col(domainCol))
      .orderBy(preference.desc, col(idCol))
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= cap)
      .drop("__graft_rn")
  }

  /** Corpus duplication audit — the report a dedup pass is judged by:
    * one row per duplicate-group SIZE with the number of groups and rows
    * at that size, plus an `'all'` summary row (total rows, distinct
    * keys, duplicate surplus = rows − keys). Exact group sizes on the
    * REAL key columns (hash-first shuffle shape of [[exactDupGroups]]:
    * the wide exchange carries (id, xxhash64) and keys travel only for
    * colliding hash groups), then two vanishing aggregations — sizes are
    * O(distinct sizes) ≈ dozens of rows at any corpus scale. */
  def dedupReport(df: DataFrame, idCol: String,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "dedupReport needs at least one key column")
    val hashed = df.select(xxhash64(keyCols.map(col): _*).as("__graft_kh"),
      struct(keyCols.map(col): _*).as("__graft_k"))
    val hcnt = hashed.groupBy(col("__graft_kh"))
      .agg(count(lit(1)).as("__c"))
    // kh groups of size 1 are certainly unique keys — counted without the
    // keys ever entering an exchange; only the colliding sliver re-groups
    // on the real key struct (catches both true dups and hash collisions)
    val singles = hcnt.filter(col("__c") === 1)
      .agg(count(lit(1)).as("g"))
      .select(lit(1L).as("sz"), col("g"), col("g").as("r"))
    val multiSizes = hashed
      .join(hcnt.filter(col("__c") > 1).select(col("__graft_kh")),
        "__graft_kh")
      .groupBy(col("__graft_k")).agg(count(lit(1)).as("sz"))
    val multiBySize = multiSizes.groupBy(col("sz"))
      .agg(count(lit(1)).as("g"), sum(col("sz")).as("r"))
    val bySize = multiBySize.unionByName(singles)
      .groupBy(col("sz")) // collided-but-distinct keys fold into size 1
      .agg(sum(col("g")).as("n_groups"), sum(col("r")).as("n_rows"))
      .select(lit("size").as("dim"), col("sz").cast(LongType).as("group_size"),
        col("n_groups").cast(LongType).as("n_groups"),
        col("n_rows").cast(LongType).as("n_rows"))
    val summary = bySize
      .agg(sum(col("n_groups")).as("k"), sum(col("n_rows")).as("r"))
      .select(lit("all").as("dim"), lit(0L).as("group_size"),
        col("k").cast(LongType).as("n_groups"),
        col("r").cast(LongType).as("n_rows"))
    bySize.unionByName(summary).orderBy(col("dim"), col("group_size"))
  }

  /** Deterministic fractional upsampling — the mixing step that REPEATS
    * high-value sources by a non-integer factor (e.g. curated text ×2.5
    * in a pretraining mix): every row is emitted floor(w) times, plus one
    * extra copy for the hash-selected frac(w) share of rows, so expected
    * multiplicity is exactly `weight` and the realized output is
    * reproducible across runs, partitionings, and engines (the
    * [[hashSample]] bucket rule, own seed). Weights < 1 degenerate to
    * sampling. The 1-based copy index is exposed as `copyCol` so a
    * downstream shard shuffle can spread copies apart. Zero shuffle:
    * floor/explode are narrow — upsampling a 100 TB corpus is a map-only
    * pass whose output volume is the mix's token budget, the irreducible
    * cost. */
  def upsample(df: DataFrame, idCol: String, weight: Column,
      copyCol: String = "copy_idx",
      hash: Option[Column] = None, denominator: Int = 1 << 16): DataFrame = {
    val h = hash.getOrElse(xxhash64(lit("graft_upsample"), col(idCol)))
    val copies = floor(weight).cast("long") +
      when(pmod(h, lit(denominator)) < (weight - floor(weight)) * denominator,
        1L).otherwise(0L)
    df.withColumn(copyCol,
      explode(when(copies >= 1L, sequence(lit(1L), copies))
        .otherwise(lit(Array.empty[Long]))))
  }

  /** Deterministic training-order sharding — the final "shuffle the
    * corpus for training" pass: rows are assigned to `shards` by a seeded
    * engine-portable hash of (id, copy disambiguators) and each shard is
    * sorted by that hash, so readers streaming the shard files see a
    * reproducible pseudo-random document order. One hash shuffle + local
    * sort — no global sort, no single-reducer row numbering; write the
    * result with `partitionBy(shardCol)`. */
  def trainShards(df: DataFrame, idCol: String, shards: Int,
      shardCol: String = "shard",
      hash: Option[Column] = None): DataFrame = {
    require(shards > 0, "shards must be positive")
    val h = hash.getOrElse(xxhash64(lit("graft_order"), col(idCol)))
    df.withColumn(shardCol, pmod(h, lit(shards)).cast("int"))
      .withColumn("__graft_ord", h)
      .repartition(col(shardCol))
      .sortWithinPartitions(col(shardCol), col("__graft_ord"), col(idCol))
      .drop("__graft_ord")
  }

  /** Hashed unigram+bigram feature postings: one row per n-gram occurrence,
    * carrying `idCols` plus the feature's bucket id in `[0, buckets)`
    * (seeded xxhash64 of the gram). Tokenization is lowercase alphanumeric
    * runs; NULL / empty texts produce no postings. Posting-style by design
    * (explode, then hash) — per-doc feature arrays never nest inside
    * higher-order lambdas. */
  private def ngramPostings(df: DataFrame, idCols: Seq[String],
      textCol: String, buckets: Int, seed: String): DataFrame = {
    val toks = array_remove(
      split(lower(col(textCol)), "[^\\p{L}\\p{N}]+"), "")
    val rest = greatest(size(toks) - 1, lit(0))
    val bigrams = zip_with(
      slice(toks, lit(1), rest), slice(toks, lit(2), rest),
      (a, b) => concat(a, lit(" "), b))
    df.select(idCols.map(col) :+
        explode(concat(toks, bigrams)).as("__tok"): _*)
      .select(idCols.map(col) :+
        pmod(xxhash64(lit(seed), col("__tok")), lit(buckets.toLong))
          // internal name so an id column literally called "bucket" works
          .as("__graft_b"): _*)
  }

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023 — public recipe): for every hashed-n-gram
    * bucket, the smoothed log-likelihood ratio
    * `log p_target(b) − log p_raw(b)` of the bucket under the target vs the
    * raw feature distribution. Additive smoothing is deliberately SMALL
    * (default 0.01/bucket) so a target corpus with far fewer features than
    * `buckets` isn't swamped by smoothing mass — it only needs to keep
    * zero-count buckets finite. Returns a DENSE `buckets`-row table
    * (bucket, n_raw, n_tgt, log_w) — O(buckets) rows regardless of corpus
    * size, so downstream joins always broadcast it.
    *
    * Scale shape: each distribution fit is one map-side-combined count
    * aggregate collapsing to ≤ `buckets` rows; the totals row is a one-row
    * broadcast cross join. Nothing corpus-sized is shuffled or collected.
    * `rawFitFraction` < 1 fits the raw distribution on a deterministic
    * hash-sample of `raw` (the ratio is distribution-normalized, so
    * sampling the fit is unbiased) — at 100 TB a 1% fit sample makes the
    * distribution pass negligible next to the scoring pass. */
  def importanceWeights(raw: DataFrame, target: DataFrame, textCol: String,
      buckets: Int = 1 << 13, seed: String = "graft_dsir",
      smoothing: Double = 0.01, rawFitFraction: Double = 1.0): DataFrame = {
    require(buckets > 1, s"buckets must be > 1, got $buckets")
    require(smoothing > 0.0, s"smoothing must be positive, got $smoothing")
    require(rawFitFraction > 0.0 && rawFitFraction <= 1.0,
      s"rawFitFraction in (0,1], got $rawFitFraction")
    def dist(df: DataFrame, n: String) =
      ngramPostings(df, Nil, textCol, buckets, seed)
        .groupBy(col("__graft_b").as("bucket")).agg(count(lit(1)).as(n))
    val rawFit =
      if (rawFitFraction >= 1.0) raw
      else raw.filter(pmod(xxhash64(lit(seed + "_fit"), col(textCol)),
        lit(1 << 16)) < (lit(rawFitFraction) * (1 << 16)))
    val counts = raw.sparkSession.range(buckets)
      .select(col("id").as("bucket"))
      .join(dist(rawFit, "__nr"), Seq("bucket"), "left")
      .join(dist(target, "__nt"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("__nr"), lit(0L)).as("n_raw"),
        coalesce(col("__nt"), lit(0L)).as("n_tgt"))
    val totals = counts.agg(
      sum("n_raw").as("__tr"), sum("n_tgt").as("__tt"))
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_raw"), col("n_tgt"),
        (log((col("n_tgt") + lit(smoothing)) /
            (col("__tt") + lit(smoothing) * buckets)) -
          log((col("n_raw") + lit(smoothing)) /
            (col("__tr") + lit(smoothing) * buckets)))
          // fixed-scale decimal so per-doc score sums are bit-identical
          // across partitionings (the repo-wide double-agg determinism rule)
          .cast(DecimalType(28, 12)).as("log_w"))
  }

  /** Per-document importance score: the sum of the document's feature
    * log-ratios under [[importanceWeights]] — the log of the unigram-LM
    * importance weight `p_target(doc)/p_raw(doc)`. One corpus-wide shuffle
    * (the per-id groupBy); the weight table is broadcast. Documents with no
    * features (NULL/empty text) get no row. `log_w` is fixed-scale decimal,
    * so the sum is deterministic under any partitioning. */
  def importanceScores(corpus: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int = 1 << 13,
      seed: String = "graft_dsir"): DataFrame =
    ngramPostings(corpus, Seq(idCol), textCol, buckets, seed)
      .join(broadcast(weights.select(col("bucket").as("__graft_b"),
        col("log_w"))), Seq("__graft_b"))
      .groupBy(col(idCol))
      .agg(sum(col("log_w")).as("score"),
        count(lit(1)).as("n_features"))

  /** DSIR importance resampling: keep the `keepFraction` share of the
    * corpus whose hashed-n-gram distribution most resembles `target`.
    * Selection score = LENGTH-NORMALIZED importance score (mean feature
    * log-ratio — the sum would penalize long documents by the smoothing
    * bias times feature count) plus, by default, deterministic per-id
    * Gumbel noise: the Gumbel-top-k trick samples without replacement in
    * proportion to the importance weights instead of hard-truncating at a
    * score cutoff (pass `gumbel = false` for the deterministic
    * top-fraction variant). The noise is a pure function of (seed, id), so
    * the realized sample is reproducible across runs and partitionings.
    *
    * Scale shape: weights fit (bounded aggregates) → broadcast-join score
    * pass (one shuffle) → ONE approx-quantile scalar to the driver → a
    * codegen'd filter. No global sort, no driver-side top-k; the realized
    * fraction is approximate-by-design (quantile sketch; ties at the
    * cutoff — possible only with `gumbel = false` — are all dropped,
    * never all kept).
    *
    * Documents with NO scoreable features (no alphanumeric n-grams —
    * [[importanceScores]] emits no row for them) are KEPT with a null
    * `score`: the likelihood ratio is undefined for them, and silently
    * deleting data a selection stage cannot judge would be undocumented
    * loss. Filter `score IS NULL` downstream to drop them explicitly;
    * `keepFraction` applies to the scoreable share. */
  def importanceResample(corpus: DataFrame, idCol: String, textCol: String,
      target: DataFrame, keepFraction: Double,
      buckets: Int = 1 << 13, seed: String = "graft_dsir",
      gumbel: Boolean = true, smoothing: Double = 0.01,
      rawFitFraction: Double = 1.0): DataFrame = {
    require(keepFraction > 0.0 && keepFraction <= 1.0,
      s"keepFraction in (0,1], got $keepFraction")
    val w = importanceWeights(corpus, target, textCol, buckets, seed,
      smoothing, rawFitFraction)
    val noise = if (!gumbel) lit(0.0) else {
      val m = 1000000007L
      val u = (pmod(xxhash64(lit(seed + "_gumbel"), col(idCol)), lit(m))
        .cast(DoubleType) + 0.5) / m.toDouble
      -log(-log(u))
    }
    val scored = importanceScores(corpus, idCol, textCol, w, buckets, seed)
      .withColumn("sel_score",
        (col("score") / col("n_features")).cast(DoubleType) + noise)
    // LEFT join so featureless docs survive (null score); the quantile
    // cutoff then passes them via the IS NULL arm.
    val joined = corpus.join(
      scored.select(col(idCol), col("score"), col("sel_score")),
      Seq(idCol), "left")
    val kept =
      if (keepFraction == 1.0) joined
      else {
        val cut = scored.agg(expr(
          s"approx_percentile(sel_score, ${1.0 - keepFraction}, 10000)")
          .as("__cut"))
        joined.crossJoin(broadcast(cut))
          .filter(col("sel_score").isNull || col("sel_score") > col("__cut"))
          .drop("__cut")
      }
    kept.drop("sel_score")
  }

  /** Benchmark decontamination: drop corpus documents whose shingle overlap
    * with any benchmark document reaches `threshold` Jaccard — the standard
    * pretraining hygiene step (test-set leakage removal).
    *
    * Two passes, both scaling with the (small) benchmark side:
    *  1. EXACT pass — whole-text hash semi-join, uncapped, so verbatim
    *     copies of a benchmark doc are always removed no matter how many
    *     times they occur (the mass-contamination case that any
    *     frequency-capped candidate generation could miss);
    *  2. NEAR pass — shingle posting join. Per shingle, at most
    *     `maxMatchesPerShingle` corpus candidates survive, chosen by a
    *     per-shingle hash order (different survivors per shingle, so a
    *     heavily duplicated near-match still surfaces through SOME of its
    *     shingles with overwhelming probability); exact Jaccard then
    *     verifies. This caps the join fan-out of shingles that are common
    *     across the corpus at a bounded, documented recall trade. */
  /** `hintBroadcast` (default true) forces the benchmark side to
    * broadcast — right for a true benchmark (MBs). Pass false when the
    * "benchmark" is itself a corpus fraction (e.g.
    * [[decontaminateSplits]]'s holdout): a forced broadcast of a 500 GB
    * side would hit Spark's broadcast limit; without the hint the
    * planner picks a shuffle join that still scales with that side. */
  def decontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int = 5, threshold: Double = 0.5,
      maxMatchesPerShingle: Int = 64,
      hintBroadcast: Boolean = true): DataFrame =
    corpus.join(
      decontaminateLosers(corpus, benchmark, idCol, textCol, shingleK,
        threshold, maxMatchesPerShingle, hintBroadcast),
      Seq(idCol), "left_anti")

  /** The contaminated id set [[decontaminate]] removes — (`idCol`)
    * rows, one per flagged corpus document. Exposed so a drop ledger
    * can record the losers from the SAME kernel execution the corpus
    * anti-join consumes (checkpoint this and anti-join against it),
    * instead of re-deriving them as `corpus ANTI decontaminate(corpus)`
    * — which carries the corpus chain twice through the audit plan and
    * re-runs the contamination kernel a second time. */
  def decontaminateLosers(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int = 5, threshold: Double = 0.5,
      maxMatchesPerShingle: Int = 64,
      hintBroadcast: Boolean = true): DataFrame = {
    def hint(df: DataFrame): DataFrame =
      if (hintBroadcast) broadcast(df) else df
    // pass 1: exact text match, no caps anywhere. The hash join finds
    // candidates; the text-equality filter restores exactness — the
    // module invariant that a 64-bit collision can only ADD a candidate,
    // never delete an innocent document (at 10^10 docs x 10^5 benchmark
    // rows, unverified hash-equality deletions reach O(1) expected).
    // The benchmark side is small, so this stays a broadcast join and
    // the corpus text never shuffles.
    val bTexts = benchmark
      .select(xxhash64(col(textCol)).as("bth"), col(textCol).as("__btxt"))
      .distinct()
    val exactDirty = corpus
      .select(col(idCol).as("id"), col(textCol).as("__ctxt"),
        xxhash64(col(textCol)).as("__cth"))
      .join(hint(bTexts), col("__cth") === col("bth"))
      .filter(col("__ctxt") === col("__btxt"))
      .select("id").distinct()

    // pass 2: near matches via capped shingle postings + exact verify
    val cSh = corpus.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleK).as("sh"))
    val bSh = benchmark.select(col(idCol).as("bid"),
      shingleHashes(col(textCol), shingleK).as("bsh"))
    val bPost = bSh.select(col("bid"), explode(col("bsh")).as("gh"))
    // shrink BEFORE the cap window: only corpus postings whose shingle
    // appears in the (small, broadcastable) benchmark shingle set matter,
    // so the window sorts the matched sliver, not every corpus token
    val w = Window.partitionBy("gh").orderBy(xxhash64(col("gh"), col("id")))
    val cPost = cSh.select(col("id"), explode(col("sh")).as("gh"))
      .join(hint(bPost.select("gh").distinct()), "gh", "left_semi")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxMatchesPerShingle)
      .drop("__rn")
    val candidates = cPost.join(bPost, "gh")
      .select("id", "bid").distinct()
    val nearDirty = candidates
      .join(cSh, "id").join(bSh, "bid")
      .select(col("id"), jaccard(col("sh"), col("bsh")).as("j"))
      .filter(col("j") >= threshold)
      .select("id")

    exactDirty.union(nearDirty).distinct()
      .withColumnRenamed("id", idCol)
  }

  /** Per-benchmark-set contamination REPORT — the audit table a release
    * publishes next to its decontamination pass ([[decontaminate]] is
    * the enforcement; this is the evidence): one row per `setCol` label
    * on the benchmark table with the distinct corpus documents flagged
    * by exact text match (`n_exact`, uncapped — same invariant as
    * decontaminate: hash candidates, text-verified), by shingle-Jaccard
    * near match ≥ `threshold` (`n_near`, capped postings + exact
    * verify), their union `n_contaminated`, and that union as a corpus
    * fraction. The same kernels and caps as [[decontaminate]], so the
    * report and the enforcement can never disagree about what counts as
    * contaminated. Scale: benchmark-sized broadcasts, the corpus text
    * never shuffles; output is O(benchmark sets) rows. */
  def contaminationReport(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, setCol: String,
      shingleK: Int = 5, threshold: Double = 0.5,
      maxMatchesPerShingle: Int = 64): DataFrame = {
    val total = corpus.count().toDouble // one scalar for the fraction
    val bTexts = benchmark
      .select(col(setCol).as("bset"), xxhash64(col(textCol)).as("bth"),
        col(textCol).as("__btxt"))
      .distinct()
    val exactDirty = corpus
      .select(col(idCol).as("id"), col(textCol).as("__ctxt"),
        xxhash64(col(textCol)).as("__cth"))
      .join(broadcast(bTexts), col("__cth") === col("bth"))
      .filter(col("__ctxt") === col("__btxt"))
      .select(col("id"), col("bset")).distinct()

    val cSh = corpus.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleK).as("sh"))
    val bSh = benchmark.select(col(setCol).as("bset"), col(idCol).as("bid"),
      shingleHashes(col(textCol), shingleK).as("bsh"))
    val bPost = bSh.select(col("bset"), col("bid"), explode(col("bsh")).as("gh"))
    val w = Window.partitionBy("gh").orderBy(xxhash64(col("gh"), col("id")))
    val cPost = cSh.select(col("id"), explode(col("sh")).as("gh"))
      .join(broadcast(bPost.select("gh").distinct()), "gh", "left_semi")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxMatchesPerShingle)
      .drop("__rn")
    val nearDirty = cPost.join(bPost, "gh")
      .select("id", "bset", "bid").distinct()
      .join(cSh, "id").join(bSh.select(col("bid"), col("bsh")), "bid")
      .select(col("id"), col("bset"), jaccard(col("sh"), col("bsh")).as("j"))
      .filter(col("j") >= threshold)
      .select(col("id"), col("bset")).distinct()

    val flagged = exactDirty.select(col("id"), col("bset"), lit(1).as("__e"))
      .unionByName(nearDirty.select(col("id"), col("bset"), lit(0).as("__e")))
      .groupBy(col("id"), col("bset"))
      .agg(max(col("__e")).as("__any_exact"))
    flagged.groupBy(col("bset").as("benchmark_set"))
      .agg(count(lit(1)).as("n_contaminated"),
        sum(col("__any_exact")).cast(LongType).as("n_exact"))
      .join(nearDirty.groupBy(col("bset").as("benchmark_set"))
        .agg(count(lit(1)).as("n_near")), Seq("benchmark_set"), "left")
      .select(col("benchmark_set"), col("n_contaminated"), col("n_exact"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        round(col("n_contaminated") / lit(total), 6).as("frac_contaminated"))
      .orderBy(col("benchmark_set"))
  }

  /** Curriculum-ordered sharding — [[trainShards]] with a DIFFICULTY
    * order: shard membership stays hash-random (each shard remains an
    * IID sample of the corpus), but within a shard rows are numbered
    * easy→hard by `difficulty` (ties by id), the ordering
    * curriculum-learning trainers consume. `seqCol` is the 1-based
    * position a sequential shard reader sees — write with
    * `partitionBy(shardCol)` sorted by it. One hash shuffle + a
    * per-shard window (a shard-sized local sort, the same cost as
    * trainShards' sort); the injectable `hash` keeps the assignment
    * engine-portable for differential testing. */
  def curriculumShards(df: DataFrame, idCol: String, difficulty: Column,
      shards: Int, shardCol: String = "shard", seqCol: String = "seq",
      hash: Option[Column] = None): DataFrame = {
    require(shards > 0, "shards must be positive")
    val h = hash.getOrElse(xxhash64(lit("graft_curriculum"), col(idCol)))
    val w = Window.partitionBy(col(shardCol))
      .orderBy(difficulty.asc, col(idCol))
    df.withColumn(shardCol, pmod(h, lit(shards)).cast("int"))
      .withColumn(seqCol, row_number().over(w).cast(LongType))
  }

  /** Fixed-seed hyperplane set — the single source of truth for LSH plane
    * generation; [[hyperplaneBucket]] (executor side) and
    * `Similarity.lshTopKPrebucketed`'s query bucket (driver side) both use
    * it, so their bucket keys are bit-identical by construction. */
  private[graft] def hyperplanes(dim: Int, numPlanes: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane LSH bucket key for an embedding column: sign bits of
    * `numPlanes` fixed-seed hyperplane dot products, packed into an int. */
  def hyperplaneBucket(emb: Column, dim: Int, numPlanes: Int = 16): Column = {
    val bits = hyperplanes(dim, numPlanes).zipWithIndex.map { case (p, i) =>
      when(VectorFunctions.dot(emb, VectorFunctions.vec(p)) > 0.0, 1L << i)
        .otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Embedding near-dup pairs: hyperplane-LSH bucket join + exact cosine
    * verification ≥ threshold. Buckets larger than `maxBucketSize` are
    * dropped before the self-join — the same skew guard as the text
    * near-dups; embeddings are the likeliest column to collapse into one
    * degenerate bucket (templated text, near-identical images), which would
    * otherwise put O(N²) pairs in a single reducer. */
  def embeddingNearDups(
      embDf: DataFrame, idCol: String, embCol: String, dim: Int,
      threshold: Double = 0.95, numPlanes: Int = 12,
      maxBucketSize: Int = 256): DataFrame = {
    val b = embDf.select(
      col(idCol).as("id"), col(embCol).as("emb"),
      hyperplaneBucket(col(embCol), dim, numPlanes).as("bucket"))
    val pruned = capBuckets(b, Seq("bucket"), maxBucketSize)
    val l = pruned.select(col("bucket"), col("id").as("id_a"), col("emb").as("emb_a"))
    val rgt = pruned.select(col("bucket"), col("id").as("id_b"), col("emb").as("emb_b"))
    l.join(rgt, l("bucket") === rgt("bucket") && l("id_a") < rgt("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("emb_a"), col("emb_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Cross-corpus embedding matches: corpus rows within `threshold`
    * cosine of ANY benchmark row — the semantic companion of the
    * shingle-overlap [[decontaminate]], catching paraphrased or
    * re-templated eval content that token overlap misses. Same
    * hyperplane-LSH candidate generation as [[embeddingNearDups]], but
    * as a two-table bucket equi-join: the benchmark side is small by
    * definition (AQE broadcasts it), the corpus side never self-joins,
    * and corpus buckets above `maxBucketSize` are dropped (boilerplate
    * embeddings), bounding any reducer. LSH recall targets near-copies
    * (high cosine) — the decontamination regime; it is not an all-pairs
    * scan. Returns (corpus_id, bench_id, cosine ≥ threshold). */
  def crossEmbeddingMatches(corpus: DataFrame, corpusId: String,
      corpusEmb: String, bench: DataFrame, benchId: String,
      benchEmb: String, dim: Int, threshold: Double = 0.95,
      numPlanes: Int = 12, maxBucketSize: Int = 4096): DataFrame = {
    // min = 1: a cross join needs no second corpus member in the bucket —
    // only the shared max-size skew guard
    val c = capBuckets(
      corpus.select(col(corpusId).as("corpus_id"),
        col(corpusEmb).as("c_emb"),
        hyperplaneBucket(col(corpusEmb), dim, numPlanes).as("bucket")),
      Seq("bucket"), maxBucketSize, min = 1)
    val b = bench.select(col(benchId).as("bench_id"),
      col(benchEmb).as("b_emb"),
      hyperplaneBucket(col(benchEmb), dim, numPlanes).as("bucket"))
    c.join(b, "bucket")
      .select(col("corpus_id"), col("bench_id"),
        VectorFunctions.cosine(col("c_emb"), col("b_emb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Drop corpus rows semantically matching the benchmark
    * ([[crossEmbeddingMatches]] → distinct corpus ids → anti-join; the
    * matched set is small, so the corpus side of the anti-join does not
    * shuffle). */
  def semanticDecontaminate(corpus: DataFrame, idCol: String,
      embCol: String, bench: DataFrame, benchEmbCol: String, dim: Int,
      threshold: Double = 0.95, numPlanes: Int = 12): DataFrame = {
    val matched = crossEmbeddingMatches(corpus, idCol, embCol,
        bench.select(monotonically_increasing_id().as("__bid"),
          col(benchEmbCol)),
        "__bid", benchEmbCol, dim, threshold, numPlanes)
      .select(col("corpus_id").as("__hit")).distinct()
    corpus.join(matched, corpus(idCol) === col("__hit"), "left_anti")
  }

  /** Semantic near-dup pairs, SemDeDup-style (Abbas et al. 2023,
    * "SemDeDup: data-efficient learning at web-scale through semantic
    * deduplication" — public method): k-means cells over the embedding
    * space replace LSH buckets as the candidate generator, so candidates
    * are items that are SEMANTICALLY close (same region of embedding
    * space), not just hash-colliding. Fit is sample-capped
    * ([[Similarity.ivfFit]]); assignment is one codegen'd argmin pass
    * against `nlist` centroids (no shuffle); the within-cell pair
    * expansion shuffles once on the cell id and is bounded by the shared
    * [[capBuckets]] skew guard. Returns (id_a, id_b, cosine ≥ threshold)
    * with id_a < id_b. */
  def semanticNearDups(embDf: DataFrame, idCol: String, embCol: String,
      nlist: Int = 16, threshold: Double = 0.97,
      maxClusterSize: Int = 1024,
      fitSampleRows: Long = 100000L): DataFrame = {
    val centers = Similarity.ivfFit(embDf, embCol, nlist, fitSampleRows)
    val assigned = embDf.select(col(idCol).as("id"), col(embCol).as("emb"),
      Similarity.cellOf(col(embCol), centers).as("cell"))
    val pruned = capBuckets(assigned, Seq("cell"), maxClusterSize)
    val l = pruned.select(col("cell"), col("id").as("id_a"), col("emb").as("emb_a"))
    val r = pruned.select(col("cell"), col("id").as("id_b"), col("emb").as("emb_b"))
    l.join(r, l("cell") === r("cell") && l("id_a") < r("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("emb_a"), col("emb_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Semantic dedup: keep every row not semantically dominated by a
    * smaller-id row ([[semanticNearDups]] pairs; the anti-join drops the
    * larger id of each pair — the same canonical-survivor rule as the
    * text near-dups). A cluster larger than `maxClusterSize` is skipped
    * by the skew guard (its rows all survive) — at 100 TB raise `nlist`
    * so cells stay bounded rather than raising the cap. */
  def semanticDedup(embDf: DataFrame, idCol: String, embCol: String,
      nlist: Int = 16, threshold: Double = 0.97,
      maxClusterSize: Int = 1024,
      fitSampleRows: Long = 100000L): DataFrame = {
    val losers = semanticNearDups(embDf, idCol, embCol, nlist, threshold,
        maxClusterSize, fitSampleRows)
      .select(col("id_b").as("__loser")).distinct()
    embDf.join(losers, embDf(idCol) === col("__loser"), "left_anti")
  }

  /** SoftDeDup-style duplicate DOWN-WEIGHTING: instead of dropping
    * duplicates, every row gets a training weight `dup_count^(−beta)`
    * (`beta = 1` makes each duplicate GROUP contribute total mass 1 —
    * the "count each fact once" objective; `beta < 1` interpolates
    * toward keep-everything). Removal loses the distributional signal
    * that popular content IS popular; soft dedup keeps the row and lets
    * the loss weight carry the correction.
    *
    * Hash-first like [[exactLosers]]: the corpus-wide aggregate runs on
    * `xxhash64(keys)` with map-side combine (16 B/row shuffle), true key
    * columns travel only for the colliding-hash sliver, and the exact
    * per-key count over that sliver restores exactness under 64-bit
    * collisions (a collision only adds a candidate). Non-candidate rows
    * never shuffle wide — they get weight 1 via the left join. At
    * `beta = 1.0` the weight is computed as `1.0 / count` (exactly
    * rounded IEEE division, bit-identical across engines) rather than
    * `pow(count, −1)`, keeping the gate differentially testable.
    * Returns (idCol, dup_count, weight). */
  def softDedupWeights(df: DataFrame, idCol: String, keyCols: Seq[String],
      beta: Double = 1.0): DataFrame = {
    require(beta >= 0.0, s"beta must be non-negative, got $beta")
    val kh = xxhash64(keyCols.map(col): _*)
    val candKh = df.select(kh.as("__kh"))
      .groupBy("__kh").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select("__kh")
    val candCnt = df.withColumn("__kh", kh)
      .join(candKh, "__kh")
      .select((idCol +: keyCols).map(col): _*)
      .withColumn("__cnt",
        count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      .select(col(idCol).as("__sd_id"), col("__cnt"))
    val cnt = coalesce(col("__cnt"), lit(1L))
    val w =
      if (beta == 1.0) lit(1.0) / cnt
      else pow(cnt.cast("double"), lit(-beta))
    df.select(col(idCol))
      .join(candCnt, col(idCol) === col("__sd_id"), "left")
      .select(col(idCol), cnt.as("dup_count"), w.as("weight"))
  }

  /** Exact-substring dedup (the k-gram-coverage formulation of Lee et
    * al.'s ExactSubstr): any word span that appears elsewhere in the
    * corpus keeps exactly its FIRST occurrence (min (doc, position))
    * and is cut from every other position — across documents and for
    * repeats within one document. Catches the cross-document boilerplate
    * that document-level exact dedup misses and sentence-span dedup
    * ([[spanDedup]]) only catches when sentence boundaries line up.
    *
    * Mechanics: every k-word gram posts (gram, doc, pos); the canonical
    * occurrence per gram is the minimum (doc, pos); every non-canonical
    * occurrence covers its k word positions; covered positions are cut
    * and the survivor words re-joined in order. A word survives iff NO
    * duplicated k-gram covers it, so runs of duplicated text vanish
    * wholesale while the canonical copy stays intact.
    *
    * Scale shape: gram posting is narrow (explode); the canonical
    * aggregate is a groupBy(min) — partial aggregation absorbs hot
    * boilerplate grams map-side, so no reducer sees a hot gram's full
    * occurrence list (this is why it is NOT a window over the gram). The
    * join back is AQE-skew-handled. Coverage explode is bounded at k×
    * the DUPLICATED-occurrence count, then distinct. With
    * `exactGrams = false` (default) gram keys are xxhash64 — 8 B keys
    * in every shuffle; a 64-bit collision can only cut a false extra
    * span, at ~n²/2⁶⁴ odds. `exactGrams = true` keeps literal gram
    * strings for differential testing (the d138 oracle).
    * Returns (idCol, clean_text, n_removed). */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, exactGrams: Boolean = false,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val base = docs.select(col(idCol).as("__sid"),
      split(col(textCol), " ").as("__w"))
    val gramKey: Column => Column =
      if (exactGrams) identity else (g: Column) => xxhash64(g)
    // sequence(0, size-k) is only valid when size >= k — Spark's sequence
    // DESCENDS for start > stop, so short docs must be filtered, not fed
    // a negative stop.
    val grams = base.filter(size(col("__w")) >= k)
      .select(col("__sid"), posexplode(transform(
        sequence(lit(0), size(col("__w")) - k),
        i => gramKey(concat_ws(" ", slice(col("__w"), i + 1, lit(k))))))
        .as(Seq("__pos", "__g")))
    val canon = grams.groupBy("__g")
      .agg(min(struct(col("__sid"), col("__pos"))).as("__min"))
    val coveredPos = grams.join(canon, "__g")
      .filter(!(struct(col("__sid"), col("__pos")) <=> col("__min")))
      .select(col("__sid"),
        explode(sequence(col("__pos"), col("__pos") + (k - 1))).as("__idx"))
      .distinct()
    val words = base.select(col("__sid"),
      posexplode(col("__w")).as(Seq("__idx", "__word")))
    val rebuilt = words.join(coveredPos, Seq("__sid", "__idx"), "left_anti")
      .groupBy("__sid")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__idx"), col("__word")))),
          s => s.getField("__word")), " ").as("clean_text"),
        count(lit(1)).as("__n_kept"))
    docs.select((Seq(col(idCol),
        size(split(col(textCol), " ")).as("__n_words")) ++
        carryCols.map(col)): _*)
      .join(rebuilt, col(idCol) === col("__sid"), "left")
      .select((Seq(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__n_words") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_removed")) ++ carryCols.map(col)): _*)
  }
}
