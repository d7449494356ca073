package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

import graft.functions.VectorFunctions._
import Dedup.hyperplaneBucket

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Brute force is the correctness baseline: one codegen'd cosine per row,
  * then TakeOrderedAndProject (top-k never materializes the full sort).
  * The scale path is hyperplane-LSH bucketing: probe only buckets within a
  * small Hamming distance of the query's bucket, so a 100 TB corpus scans
  * `buckets_probed / 2^planes` of itself instead of everything.
  */
object Similarity {

  /** Exact top-k by cosine against a constant query vector. */
  def bruteForceTopK(
      embDf: DataFrame, idCol: String, embCol: String,
      query: Seq[Double], k: Int): DataFrame =
    embDf.select(
        col(idCol).as("id"),
        cosine(col(embCol), vec(query)).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)

  /** ANN top-k via hyperplane LSH: score only rows whose bucket is within
    * `probeHamming` bits of the query bucket (multi-probe). Recall < 1 by
    * construction; verify against [[bruteForceTopK]] in tests. */
  def lshTopK(
      embDf: DataFrame, idCol: String, embCol: String, dim: Int,
      query: Seq[Double], k: Int,
      numPlanes: Int = 12, probeHamming: Int = 2): DataFrame = {
    val qDf = embDf.sparkSession.range(1)
      .select(vec(query).as("q_emb"))
      .select(col("q_emb"), hyperplaneBucket(col("q_emb"), dim, numPlanes).as("q_bucket"))
    val bucketed = embDf.select(
      col(idCol).as("id"), col(embCol).as("emb"),
      hyperplaneBucket(col(embCol), dim, numPlanes).as("bucket"))
    bucketed.join(broadcast(qDf),
        bit_count(col("bucket").bitwiseXOR(col("q_bucket"))) <= probeHamming)
      .select(col("id"), cosine(col("emb"), col("q_emb")).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** One-time corpus bucketization for [[lshTopKPrebucketed]]: adds the
    * hyperplane bucket as a column. Persist the result partitioned by
    * `bucket` (e.g. `PartitionedWrite.writePartitioned(_, dir,
    * Seq("bucket"))`) and each query becomes a partition-pruned scan. */
  def bucketize(embDf: DataFrame, idCol: String, embCol: String, dim: Int,
      numPlanes: Int = 12): DataFrame =
    embDf.select(col(idCol).as("id"), col(embCol).as("emb"),
      hyperplaneBucket(col(embCol), dim, numPlanes).as("bucket"))

  /** All bucket ids within Hamming distance `r` of `bucket` (multi-probe
    * set) — small for small r: C(p,0)+C(p,1)+...+C(p,r). */
  private[graft] def probeSet(bucket: Long, numPlanes: Int, r: Int): Seq[Long] = {
    def flips(start: Int, left: Int, cur: Long): Seq[Long] =
      if (left == 0) Seq(cur)
      else (start until numPlanes).flatMap(i =>
        flips(i + 1, left - 1, cur ^ (1L << i)))
    (0 to r).flatMap(k => flips(0, k, bucket)).distinct
  }

  /** ANN top-k over a pre-bucketized corpus ([[bucketize]]): the probe is a
    * `bucket IN (...)` filter over the enumerated multi-probe set, so a
    * corpus stored partitioned by bucket scans only `|probe set| / 2^planes`
    * of itself — the genuine 100 TB path ([[lshTopK]] recomputes buckets
    * per query, which is a full scan). */
  def lshTopKPrebucketed(
      bucketed: DataFrame, query: Seq[Double], k: Int,
      dim: Int, numPlanes: Int = 12, probeHamming: Int = 2): DataFrame = {
    val qBucket = Dedup.hyperplanes(dim, numPlanes).zipWithIndex.map {
      case (p, i) =>
        if (p.zip(query).map { case (a, b) => a * b }.sum > 0.0) 1L << i else 0L
    }.sum
    val probes = probeSet(qBucket, numPlanes, probeHamming)
    bucketed.filter(col("bucket").isin(probes: _*))
      .select(col("id"), cosine(col("emb"), vec(query)).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** IVF (inverted-file) ANN: k-means centroids partition the corpus into
    * `nlist` cells; a query scans only the `nprobe` nearest cells. The
    * 100 TB deployment writes the cell-assigned table partitioned by
    * `cell` so a probe is a partition-pruned scan; here the assignment is
    * computed inline. Centroids are fit on a sample with a fixed seed
    * (deterministic plans, like every other signature in this library).
    * The fit sample is absolute-capped at `fitSampleRows`: the fraction is
    * derived from a count(*) (column-pruned, near-free on parquet) so a
    * 100 TB corpus never accidentally flows through the driver-coordinated
    * k-means fit — centroid quality saturates long before 100k rows. */
  def ivfTopK(
      embDf: DataFrame, idCol: String, embCol: String,
      query: Seq[Double], k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      fitSampleRows: Long = 100000L): DataFrame = {
    // random init, not k-means|| — the parallel init alone costs ~5 extra
    // distributed passes, and IVF only needs coarse cells, not optimal
    // clusters (recall comes from nprobe, verified in ScaleOpsSpec)
    val centers = ivfFit(embDf, embCol, nlist, fitSampleRows)
    ivfTopKPreassigned(
      ivfAssign(embDf, idCol, embCol, centers), centers, query, k, nprobe)
  }

  /** Fit IVF centroids once (capped sample, fixed seed) — the build step
    * of the 100 TB deployment. Returns the centroid vectors. */
  def ivfFit(embDf: DataFrame, embCol: String, nlist: Int,
      fitSampleRows: Long = 100000L): Seq[Seq[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val n = embDf.count()
    val sampleFraction = math.min(1.0, fitSampleRows.toDouble / math.max(n, 1L))
    val sample = embDf.select(array_to_vector(col(embCol)).as("features"))
      .sample(withReplacement = false, sampleFraction, seed = 42)
    new KMeans().setK(nlist).setSeed(42).setMaxIter(8).setInitMode("random")
      .fit(sample).clusterCenters.map(_.toArray.toSeq).toSeq
  }

  /** Nearest-centroid cell id: argmin ||x−c||² = argmin (||c||² − 2·x·c). */
  def cellOf(v: Column, centers: Seq[Seq[Double]]): Column = {
    val scored = centers.zipWithIndex.map { case (c, i) =>
      val cNorm = c.map(x => x * x).sum
      struct((lit(cNorm) - lit(2.0) * dot(v, vec(c))).as("d"),
        lit(i).as("cell"))
    }
    array_min(array(scored: _*)).getField("cell")
  }

  /** One-time cell assignment for [[ivfTopKPreassigned]]: persist the
    * result partitioned by `cell` and each probe is a partition-pruned
    * scan of `nprobe / nlist` of the corpus. */
  def ivfAssign(embDf: DataFrame, idCol: String, embCol: String,
      centers: Seq[Seq[Double]]): DataFrame =
    embDf.select(col(idCol).as("id"), col(embCol).as("emb"),
      cellOf(col(embCol), centers).as("cell"))

  /** Nearest-centroid (cell, distance) in one pass: the same argmin as
    * [[cellOf]], with the true L2 distance recovered from the comparison
    * key (`argmin key = ||c||² − 2·x·c`, so `dist² = ||x||² + key`; the
    * `greatest(0, …)` guards float cancellation near zero). */
  private def cellAndDist(v: Column, centers: Seq[Seq[Double]]): Column = {
    val scored = centers.zipWithIndex.map { case (c, i) =>
      val cNorm = c.map(x => x * x).sum
      struct((lit(cNorm) - lit(2.0) * dot(v, vec(c))).as("d"),
        lit(i).as("cell"))
    }
    val m = array_min(array(scored: _*))
    struct(m.getField("cell").as("cell"),
      sqrt(greatest(lit(0.0), dot(v, v) + m.getField("d"))).as("dist"))
  }

  /** Corpus diversity profile over k-means cells: one row per cell with
    * member count and mean / max L2 distance to the assigned centroid —
    * the cluster-size + dispersion report a curation run reads to spot
    * over-represented modes (huge tight cells ≈ templated content) and
    * noise (cells with large dispersion).
    *
    * 100 TB shape: the fit rides the absolute-capped [[ivfFit]] sample;
    * assignment + distance is a per-row expression (no shuffle); the only
    * exchange is the `nlist`-row cell aggregate, map-side combined. */
  def clusterStats(embDf: DataFrame, embCol: String, nlist: Int = 16,
      fitSampleRows: Long = 100000L): DataFrame = {
    val centers = ivfFit(embDf, embCol, nlist, fitSampleRows)
    embDf.select(cellAndDist(col(embCol), centers).as("__cd"))
      .select(col("__cd").getField("cell").as("cell"),
        col("__cd").getField("dist").as("__dist"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        avg(col("__dist")).as("mean_dist"),
        max(col("__dist")).as("max_dist"))
  }

  /** Cluster-balanced (diversity) sampling: keep at most `perCell` rows
    * per k-means cell, selected by a seeded-hash rank — the
    * cluster-then-sample recipe that flattens over-represented content
    * modes while preserving coverage of rare ones. Deterministic at any
    * partitioning (rank = xxhash64(id, seed), ties by id). Returns the
    * input columns plus the assigned `cell`.
    *
    * 100 TB shape: fit is sample-capped, assignment per-row. Because
    * k-means does NOT balance cell sizes — the over-represented mode
    * this operator exists to flatten is exactly the one that lands a
    * huge cell — the per-cell top-k runs in two salted phases: phase 1
    * ranks within (cell, salt) so no reducer sees more than
    * ~cellSize/salts rows, and phase 2 re-ranks the surviving
    * ≤ nlist·salts·perCell rows within cell (tiny by construction).
    * Per-(cell,salt) top-perCell is a superset of the global per-cell
    * top-perCell, so the result is identical to a single window. */
  def clusterBalancedSample(embDf: DataFrame, idCol: String,
      embCol: String, perCell: Int, nlist: Int = 16,
      fitSampleRows: Long = 100000L, seed: Long = 42L,
      salts: Int = 64): DataFrame = {
    require(perCell > 0, s"perCell must be positive, got $perCell")
    require(salts > 0, s"salts must be positive, got $salts")
    import org.apache.spark.sql.expressions.Window
    val centers = ivfFit(embDf, embCol, nlist, fitSampleRows)
    val rank = xxhash64(col(idCol), lit(seed))
    val w1 = Window.partitionBy(col("cell"), col("__salt"))
      .orderBy(rank, col(idCol))
    val w2 = Window.partitionBy(col("cell")).orderBy(rank, col(idCol))
    embDf.withColumn("cell", cellOf(col(embCol), centers))
      .withColumn("__salt",
        pmod(xxhash64(col(idCol), lit(seed), lit(1L)), lit(salts.toLong)))
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= perCell)
      .withColumn("__r2", row_number().over(w2))
      .filter(col("__r2") <= perCell)
      .drop("__salt", "__r1", "__r2")
  }

  /** The `nprobe` cells nearest to `query` by squared L2 to their centroid
    * (||c||² − 2c·q; the ||q||² term is constant across cells). Shared by
    * the IVF and IVF-PQ serve paths so both probe identical cells for the
    * same query — the coarse metric must match [[cellOf]]'s. */
  private def probeCells(centers: Seq[Seq[Double]], query: Seq[Double],
      nprobe: Int): Seq[Int] =
    centers.zipWithIndex
      .map { case (c, i) =>
        val d = c.map(x => x * x).sum -
          2.0 * c.zip(query).map { case (a, b) => a * b }.sum
        (d, i)
      }
      .sortBy(_._1).take(nprobe).map(_._2)

  /** The `nprobe` nearest cells of an embedding COLUMN (the per-row form
    * of [[probeCells]]): distances to every centroid as an array of
    * (argmin-key, cell) structs, sorted, sliced — all codegen'd; centers
    * are plan literals. Returns `array<int>` of cell ids. */
  private def probeCellsExpr(v: Column, centers: Seq[Seq[Double]],
      nprobe: Int): Column = {
    val scored = centers.zipWithIndex.map { case (c, i) =>
      val cNorm = c.map(x => x * x).sum
      struct((lit(cNorm) - lit(2.0) * dot(v, vec(c))).as("d"),
        lit(i).as("cell"))
    }
    transform(slice(array_sort(array(scored: _*)), 1, nprobe),
      s => s.getField("cell"))
  }

  /** BATCH ANN serve: top-k corpus neighbors for EVERY row of a query
    * table in one job — the bulk-annotation / RAG-backfill shape, where
    * per-query driver round-trips ([[ivfTopKPreassigned]]'s `isin`
    * filter) would make the driver the bottleneck.
    *
    * Shape: each query row computes its `nprobe` probe cells as a
    * codegen'd expression and explodes to (query, cell); the equi-join
    * against the cell-assigned corpus keys on `cell` (at scale, persist
    * `assigned` partitioned by cell so the corpus side arrives
    * co-located and only probed cells are scanned); scoring is one
    * cosine per candidate; per-query top-k is a rank window whose
    * reducer input is bounded by the query's probed-cell population.
    * Returns (query_id, id, cosine, rank ≤ k). */
  def ivfTopKBatch(assigned: DataFrame, centers: Seq[Seq[Double]],
      queries: DataFrame, qIdCol: String, qEmbCol: String,
      k: Int, nprobe: Int): DataFrame = {
    require(k > 0 && nprobe > 0, s"bad k=$k nprobe=$nprobe")
    import org.apache.spark.sql.expressions.Window
    val probes = queries.select(col(qIdCol).as("query_id"),
        col(qEmbCol).as("__qemb"),
        explode(probeCellsExpr(col(qEmbCol), centers, nprobe)).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    probes.join(assigned, Seq("cell"))
      .select(col("query_id"), col("id"),
        cosine(col("emb"), col("__qemb")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** ANN top-k over a pre-assigned corpus: `cell IN (nprobe nearest)` is a
    * plain pushable filter — no per-row centroid scoring at query time. */
  def ivfTopKPreassigned(assigned: DataFrame, centers: Seq[Seq[Double]],
      query: Seq[Double], k: Int, nprobe: Int): DataFrame =
    assigned.filter(col("cell").isin(probeCells(centers, query, nprobe): _*))
      .select(col("id"), cosine(col("emb"), vec(query)).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)

  /** All-pairs top-k neighbors per row, LSH-bucketed (for kNN-graph
    * construction). Returns (id, neighbor_id, cosine, rank≤k).
    *
    * Unlike the dedup operators (where an over-cap bucket can be dropped —
    * no pair means no duplicate), a kNN graph must keep EVERY node
    * connected, so the skew guard caps the PAIRS, not the membership:
    *  - over-cap buckets keep a deterministic hash-sample of
    *    `maxBucketSize` members as the CANDIDATE side, while every node
    *    still probes — pairs per bucket are O(N·cap), never O(N²), and no
    *    node loses all its neighbors;
    *  - singleton-bucket nodes multi-probe: they re-probe the
    *    `singletonProbes` buckets obtained by flipping their
    *    least-confident hyperplane bits (smallest |margin| first — the
    *    classic multi-probe LSH order), which is where their nearest
    *    neighbors most likely landed.
    * Residual limitation: a singleton whose own AND probed buckets hold no
    * other member emits no rows at all — on a very sparse corpus raise
    * `singletonProbes` or lower `numPlanes` (fewer, denser buckets);
    * callers needing guaranteed-total node coverage should anti-join the
    * output ids against the input and handle the isolated remainder
    * (e.g. brute-force that sliver — it is small by construction). */
  def knnGraph(
      embDf: DataFrame, idCol: String, embCol: String, dim: Int,
      k: Int, numPlanes: Int = 10, maxBucketSize: Int = 1024,
      singletonProbes: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val planes = Dedup.hyperplanes(dim, numPlanes)
    // one projection computes every plane margin once; bucket and probe
    // order both derive from these columns
    val dotted = embDf.select(
      Seq(col(idCol).as("id"), col(embCol).as("emb")) ++
        planes.zipWithIndex.map { case (p, i) =>
          dot(col(embCol), vec(p)).as(s"__d$i")
        }: _*)
    val bucketCol = (0 until numPlanes)
      .map(i => when(col(s"__d$i") > 0.0, 1L << i).otherwise(0L))
      .reduce(_ + _)
    // plane indices ordered by |margin| ascending = least-confident first
    val flipOrder = transform(
      array_sort(array((0 until numPlanes).map(i =>
        struct(abs(col(s"__d$i")).as("m"), lit(i).as("i"))): _*)),
      s => s("i"))
    val sized = dotted
      .select(col("id"), col("emb"), bucketCol.as("bucket"),
        flipOrder.as("__flips"))
      .withColumn("__bsz", count(lit(1)).over(Window.partitionBy("bucket")))
      .withColumn("__rk", row_number().over(Window.partitionBy("bucket")
        .orderBy(xxhash64(lit("graft_knn"), col("id")))))
    val candidates = sized.filter(col("__rk") <= maxBucketSize)
      .select(col("bucket"), col("id").as("neighbor_id"), col("emb").as("n_emb"))
    val own = sized.select(col("bucket"), col("id"), col("emb"))
    val probes = sized.filter(col("__bsz") === 1)
      .select(col("id"), col("emb"),
        explode(transform(slice(col("__flips"), 1, singletonProbes), j =>
          col("bucket").bitwiseXOR(call_function("shiftleft", lit(1L), j))))
          .as("bucket"))
      .select(col("bucket"), col("id"), col("emb"))
    val w = Window.partitionBy("id").orderBy(col("cosine").desc, col("neighbor_id"))
    own.unionByName(probes).join(candidates, Seq("bucket"))
      .filter(col("id") =!= col("neighbor_id"))
      .select(col("id"), col("neighbor_id"), cosine(col("emb"), col("n_emb")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ---- product quantization (IVF-PQ's compression half) -----------------

  /** PQ codebooks: the embedding is cut into `m` subvectors and each
    * subspace gets its own `codebookSize`-entry k-means codebook (fit on
    * the same absolute-capped sample regime as [[ivfFit]]; the sample is
    * locally checkpointed once so the m fits don't re-scan the corpus).
    * A vector stores as `m` small codes — `m` bytes against `4·dim` for
    * float32, a 32x cut at dim=64/m=8 — which is what lets a 100 TB
    * embedding store live in memory-speed storage. Returns
    * `codebooks(j)(c)` = centroid `c` of subspace `j`. */
  def pqFit(embDf: DataFrame, embCol: String, m: Int = 8,
      codebookSize: Int = 16,
      fitSampleRows: Long = 100000L): Seq[Seq[Seq[Double]]] = {
    val n = embDf.count()
    val fraction = math.min(1.0, fitSampleRows.toDouble / math.max(n, 1L))
    val sample = embDf.select(col(embCol).as("e"))
      .sample(withReplacement = false, fraction, seed = 42)
      // bounded rows; read once, fit m times
      .transform(CheckpointOps(_, eager = true))
    pqFitFromSample(sample, m, codebookSize)
  }

  /** Fit the `m` subspace codebooks from an already-materialized sample
    * (single column `e`). The m fits are independent (own seed each) and
    * tiny — submitted concurrently so wall time is one fit's scheduling
    * latency, not m of them. */
  private def pqFitFromSample(sample: DataFrame, m: Int,
      codebookSize: Int): Seq[Seq[Seq[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dim = sample.select(size(col("e"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subvectors")
    val dsub = dim / m
    import scala.collection.parallel.CollectionConverters._
    (0 until m).par.map { j =>
      new KMeans().setK(codebookSize).setSeed(42L + j).setMaxIter(5)
        .setInitMode("random")
        .setFeaturesCol("f")
        .fit(sample.select(
          array_to_vector(slice(col("e"), j * dsub + 1, dsub)).as("f")))
        .clusterCenters.map(_.toArray.toSeq).toSeq
    }.toList
  }

  /** One-pass IVF-PQ build: ONE corpus count + ONE sample scan feed both
    * the coarse-centroid fit and the m subspace codebooks — calling
    * [[ivfFit]] then [[pqFit]] separately scans the corpus twice for
    * counts and twice for samples; at build scale those are four reads
    * of a 100 TB table doing the work of two. Seeds, iteration counts,
    * and the sample itself are identical to the separate calls (same
    * seed-42 fraction sample), so the models are bit-identical — this is
    * strictly a pass-count optimization. */
  def ivfPqFit(embDf: DataFrame, embCol: String, nlist: Int = 16,
      m: Int = 8, codebookSize: Int = 16, fitSampleRows: Long = 100000L)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val n = embDf.count()
    val fraction = math.min(1.0, fitSampleRows.toDouble / math.max(n, 1L))
    val sample = embDf.select(col(embCol).as("e"))
      .sample(withReplacement = false, fraction, seed = 42)
      .transform(CheckpointOps(_, eager = true))
    val centers = new KMeans().setK(nlist).setSeed(42).setMaxIter(8)
      .setInitMode("random")
      .fit(sample.select(array_to_vector(col("e")).as("features")))
      .clusterCenters.map(_.toArray.toSeq).toSeq
    (centers, pqFitFromSample(sample, m, codebookSize))
  }

  /** Encode each vector as its per-subspace nearest-codeword ids
    * (`codes: array<int>`, length m) — the stored representation. The
    * original embedding column is kept alongside for the exact rerank;
    * drop it when only ADC ranking is needed. */
  def pqEncode(embDf: DataFrame, idCol: String, embCol: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val dsub = codebooks.head.head.size
    val codes = codebooks.indices.map { j =>
      cellOf(slice(col(embCol), j * dsub + 1, dsub), codebooks(j))
    }
    embDf.select(col(idCol).as("id"), col(embCol).as("emb"),
      array(codes: _*).as("codes"))
  }

  /** ADC (asymmetric distance computation) top-k: the query builds one
    * tiny lookup table per subspace (`q_j · c` and `‖c‖²` for each
    * codeword — m·codebookSize scalars, driver-side), and each row's
    * approximate cosine is m table lookups + adds instead of `dim`
    * multiplies on 4·dim bytes. The ADC shortlist (`k·rerankFactor`,
    * TakeOrderedAndProject) is then reranked by exact cosine — the
    * standard two-stage PQ serve path. */
  /** One-time IVF-PQ corpus build: coarse cell id ([[cellOf]]) + PQ codes
    * ([[pqEncode]]) in one stored table. Persist partitioned by `cell`
    * (e.g. `PartitionedWrite.writePartitioned(_, dir, Seq("cell"))`) and
    * the serve path reads `nprobe / nlist` of an m-bytes-per-vector store
    * — the composition that makes a 100 TB embedding corpus servable from
    * memory-speed storage (the standard IVF-PQ layout, built here from
    * its public description). */
  def ivfPqAssign(embDf: DataFrame, idCol: String, embCol: String,
      centers: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    pqEncode(embDf, idCol, embCol, codebooks)
      .withColumn("cell", cellOf(col("emb"), centers))

  /** IVF-PQ top-k: prune to the `nprobe` nearest cells (a plain pushable
    * `cell IN (...)` filter — partition pruning on a cell-partitioned
    * store), ADC-rank ONLY those cells' rows, exact-rerank the shortlist.
    * [[pqTopK]] alone scans every code; this scans `nprobe / nlist` of
    * them — the actual serve path at corpus scale. */
  def ivfPqTopK(assigned: DataFrame, centers: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]], query: Seq[Double], k: Int,
      nprobe: Int = 4, rerankFactor: Int = 4): DataFrame =
    pqTopK(
      assigned.filter(col("cell").isin(probeCells(centers, query, nprobe): _*)),
      codebooks, query, k, rerankFactor)

  def pqTopK(encoded: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      query: Seq[Double], k: Int, rerankFactor: Int = 4): DataFrame = {
    val dsub = codebooks.head.head.size
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val dotLut = codebooks.zipWithIndex.map { case (cb, j) =>
      val qj = query.slice(j * dsub, (j + 1) * dsub)
      cb.map(c => c.zip(qj).map { case (a, b) => a * b }.sum)
    }
    val normLut = codebooks.map(_.map(c => c.map(x => x * x).sum))
    def lookup(lut: Seq[Seq[Double]]): Seq[Column] =
      lut.zipWithIndex.map { case (tbl, j) =>
        element_at(vec(tbl), element_at(col("codes"), j + 1) + 1)
      }
    val adcDot = lookup(dotLut).reduce(_ + _)
    val adcNorm = sqrt(lookup(normLut).reduce(_ + _))
    val adc = when(adcNorm > 0.0 && lit(qNorm) > 0.0,
      adcDot / (adcNorm * qNorm)).otherwise(0.0)
    encoded
      .select(col("id"), col("emb"), adc.as("adc"))
      .orderBy(col("adc").desc, col("id"))
      .limit(k * rerankFactor)
      .select(col("id"), cosine(col("emb"), vec(query)).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Prototypicality scoring — cosine of each embedding to its DOMAIN's
    * centroid (the SemDeDup-adjacent "distance to cluster center" quality
    * signal: far-from-centroid rows are outliers/noise, suspiciously
    * close-to-centroid rows are templated near-duplicates).
    *
    * 100 TB shape: the centroid fit is one `posexplode → groupBy(domain,
    * dim) avg` whose shuffle is (domains × dim) partial sums — map-side
    * combined, KBs regardless of corpus size; the centroid table is
    * broadcast and scoring is one codegen'd cosine per row, zero
    * corpus-scale exchange. Returns the input columns + `proto_score`. */
  def prototypicality(df: DataFrame, idCol: String, embCol: String,
      domainCol: String): DataFrame = {
    val dims = df
      .select(col(domainCol).as("__dom"), posexplode(col(embCol)))
      .groupBy(col("__dom"), col("pos"))
      .agg(avg(col("col")).as("__avg"))
    val centroids = dims.groupBy(col("__dom"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("__avg")))),
        x => x.getField("__avg")).as("__centroid"))
    df.join(broadcast(centroids), col(domainCol) === col("__dom"))
      .withColumn("proto_score",
        cosine(col(embCol).cast("array<double>"), col("__centroid")))
      .drop("__dom", "__centroid")
  }

  /** Keep the prototypical band per domain: rows whose score sits inside
    * the [loQuantile, hiQuantile] band of their OWN domain (trims
    * far-outlier noise at the bottom and templated clones at the top —
    * set hiQuantile = 1.0 to trim only noise). The cuts are one
    * `approx_percentile` pair per domain — a domains-sized broadcast
    * table, not a corpus exchange. */
  def prototypicalityFilter(df: DataFrame, idCol: String, embCol: String,
      domainCol: String, loQuantile: Double = 0.05,
      hiQuantile: Double = 1.0): DataFrame = {
    require(loQuantile >= 0 && hiQuantile <= 1 && loQuantile < hiQuantile,
      s"need 0 <= lo < hi <= 1, got [$loQuantile, $hiQuantile]")
    // The cut fit and the filter each scan the corpus once (two passes
    // total) — deliberately NOT checkpointed: the scored frame carries
    // the embedding vectors, and materializing corpus-scale vectors to
    // buy back one cheap re-aggregation is the wrong trade at 100 TB.
    val scored = prototypicality(df, idCol, embCol, domainCol)
    val cuts = scored.groupBy(col(domainCol).as("__dom"))
      .agg(expr(s"approx_percentile(proto_score, $loQuantile)").as("__lo"),
        expr(s"approx_percentile(proto_score, $hiQuantile)").as("__hi"))
    scored.join(broadcast(cuts), col(domainCol) === col("__dom"))
      .filter(col("proto_score") >= col("__lo") &&
        col("proto_score") <= col("__hi"))
      .drop("__dom", "__lo", "__hi")
  }

  /** A fitted PCA basis: `components` (outDim rows, each a dim-length
    * unit vector, descending variance), the fit-sample `mean`, and the
    * per-component explained-variance fractions. A few KB of driver
    * state — the same "model as plan literals" contract as IVF/PQ. */
  final case class PcaModel(components: Seq[Seq[Double]],
      mean: Seq[Double], explainedVariance: Seq[Double])

  /** Fit a PCA basis on an absolute-capped sample (same build-step
    * pattern as [[ivfFit]]/[[pqFit]] — a 100 TB corpus can never flow
    * through the dense SVD): principal directions of the centered
    * sample covariance, via spark.ml's PCA on the sample. Projection is
    * NOT delegated to ml (its transform skips mean-centering and runs
    * UDF vector math); [[pcaProject]] does the textbook centered
    * projection with codegen'd dot products. */
  def pcaFit(embDf: DataFrame, embCol: String, outDim: Int,
      fitSampleRows: Long = 100000L): PcaModel = {
    require(outDim > 0, s"outDim must be positive, got $outDim")
    import org.apache.spark.ml.feature.{PCA => MlPca}
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.stat.Summarizer
    val n = embDf.count()
    val fraction = math.min(1.0, fitSampleRows.toDouble / math.max(n, 1L))
    val sample = embDf
      .select(array_to_vector(col(embCol).cast("array<double>")).as("features"))
      .sample(withReplacement = false, fraction, seed = 42)
      // fit + mean read the SAME sample once
      .transform(CheckpointOps(_, eager = true))
    val mean = sample.select(Summarizer.mean(col("features")))
      .head().getAs[org.apache.spark.ml.linalg.Vector](0).toArray.toSeq
    val fitted = new MlPca().setK(outDim)
      .setInputCol("features").setOutputCol("__pc").fit(sample)
    val pc = fitted.pc // dim × outDim, column-major principal components
    val comps = (0 until outDim).map(j =>
      (0 until pc.numRows).map(i => pc(i, j)).toSeq)
    PcaModel(comps, mean, fitted.explainedVariance.toArray.toSeq)
  }

  /** Project embeddings onto a fitted basis: `y_j = (x − μ)·c_j`,
    * expanded to `x·c_j − (μ·c_j)` so the mean folds into one scalar
    * literal per component — outDim codegen'd dot products per row,
    * zero shuffle, embarrassingly parallel. Output: `(id, proj)` with
    * `proj` an outDim `array<double>`. */
  def pcaProject(embDf: DataFrame, idCol: String, embCol: String,
      model: PcaModel): DataFrame = {
    val proj = model.components.map { c =>
      val muDotC = model.mean.zip(c).map { case (m, w) => m * w }.sum
      dot(col(embCol), vec(c)) - lit(muDotC)
    }
    embDf.select(col(idCol).as("id"), array(proj: _*).as("proj"))
  }

  /** ANN with a PCA shortlist: rank a `k·overfetch` shortlist by L2
    * distance in the REDUCED space over L2-NORMALIZED vectors — on the
    * unit sphere `cos(x,q) = 1 − ‖x̂−q̂‖²/2`, and an orthonormal
    * projection can only SHRINK a difference vector, so projected-L2
    * ranking is the standard PCA-ANN surrogate (mean-centering cancels
    * in differences, so the shortlist pass needs `outDim` dot products
    * per row, not the full dim). The shortlist alone is then re-scored
    * with exact full-dimension cosine — the same shortlist-then-rerank
    * shape as [[pqTopK]], with PCA instead of quantization as the cheap
    * space. */
  def pcaTopK(embDf: DataFrame, idCol: String, embCol: String,
      model: PcaModel, query: Seq[Double], k: Int,
      overfetch: Int = 8): DataFrame = {
    require(k > 0 && overfetch >= 1, s"bad k=$k overfetch=$overfetch")
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val qHat = if (qNorm == 0.0) query else query.map(_ / qNorm)
    val qProj = model.components.map(c =>
      qHat.zip(c).map { case (x, w) => x * w }.sum)
    // project x/‖x‖ onto the basis: (x·c_j) / ‖x‖ — one norm + outDim
    // dots per row, all codegen'd
    val xn = sqrt(dot(col("__emb"), col("__emb")))
    val proj = model.components.map(c =>
      when(xn === 0.0, lit(0.0)).otherwise(dot(col("__emb"), vec(c)) / xn))
    val shortlist = embDf
      .select(col(idCol).as("id"), col(embCol).as("__emb"))
      .select(col("id"), l2Distance(array(proj: _*), vec(qProj)).as("__d"))
      .orderBy(col("__d").asc, col("id"))
      .limit(k * overfetch)
    embDf.select(col(idCol).as("id"), col(embCol).as("__emb"))
      .join(shortlist.select(col("id")), Seq("id"), "left_semi")
      .select(col("id"), cosine(col("__emb"), vec(query)).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  // ---- index-model persistence -------------------------------------------
  //
  // The fit step (ivfFit/pqFit/pcaFit) reads a capped sample of the corpus;
  // the serve step only needs the few-KB model. Persisting the model as a
  // plain table separates BUILD (one heavy batch job) from SERVE (any later
  // session loads the table and queries) — the production shape for a
  // 100 TB index, and the same round-trip contract as Classifier.toDF.
  // Loaders validate shape explicitly (contiguous ids, uniform dims,
  // non-empty) so a filtered or truncated table fails loudly at load, not
  // silently at query time.

  import org.apache.spark.sql.SparkSession

  /** Persist IVF centroids as `(cell_id, n_cells, center)` — also fits any
    * other `Seq[Seq[Double]]` center list (e.g. a k-means model reused by
    * [[clusterStats]]). The DECLARED total rides in every row so a
    * filtered/truncated table — even one missing only TRAILING cells,
    * which id-contiguity alone cannot see — fails loudly at load. */
  def centersToDF(spark: SparkSession, centers: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    require(centers.nonEmpty, "no centers to persist")
    centers.zipWithIndex.map { case (c, i) => (i, centers.length, c) }
      .toDF("cell_id", "n_cells", "center")
  }

  /** Load IVF centroids persisted by [[centersToDF]]. Validates that cell
    * ids are exactly 0..n_cells−1 and dimensions are uniform. */
  def centersFromDF(df: DataFrame): Seq[Seq[Double]] = {
    val rows = df.select(col("cell_id").cast("int"),
        col("n_cells").cast("int"), col("center").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toList))
    require(rows.nonEmpty, "empty centers table")
    val declared = rows.map(_._2).distinct
    require(declared.size == 1, s"inconsistent n_cells: $declared")
    val n = declared.head
    require(rows.length == n,
      s"centers table has ${rows.length} rows, declares $n")
    val byId = rows.map(r => r._1 -> r._3).toMap
    require(byId.size == rows.length, "duplicate cell_id rows")
    require((0 until n).forall(byId.contains),
      s"cell ids not contiguous 0..${n - 1}")
    val out = (0 until n).map(byId)
    require(out.map(_.length).distinct.size == 1,
      "centers have inconsistent dimensions")
    out
  }

  /** Persist PQ codebooks as `(subspace, code, m, ksize, center)` — the
    * declared shape rides in every row (see [[centersToDF]]). */
  def pqToDF(spark: SparkSession,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    import spark.implicits._
    require(codebooks.nonEmpty, "no codebooks to persist")
    val ksizes = codebooks.map(_.length).distinct
    require(ksizes.size == 1, s"ragged codebooks: sizes $ksizes")
    (for {
      (book, j) <- codebooks.zipWithIndex
      (c, code) <- book.zipWithIndex
    } yield (j, code, codebooks.length, ksizes.head, c))
      .toDF("subspace", "code", "m", "ksize", "center")
  }

  /** Load PQ codebooks persisted by [[pqToDF]]. Validates the declared
    * (m, ksize) shape against the rows actually present, and uniform
    * subvector dimensions. */
  def pqFromDF(df: DataFrame): Seq[Seq[Seq[Double]]] = {
    val rows = df.select(col("subspace").cast("int"), col("code").cast("int"),
        col("m").cast("int"), col("ksize").cast("int"),
        col("center").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getSeq[Double](4).toList))
    require(rows.nonEmpty, "empty codebook table")
    val shapes = rows.map(r => (r._3, r._4)).distinct
    require(shapes.size == 1, s"inconsistent declared shapes: $shapes")
    val (m, ksize) = shapes.head
    require(rows.length == m * ksize,
      s"codebook table has ${rows.length} rows, declares $m x $ksize")
    val byKey = rows.map(r => (r._1, r._2) -> r._5).toMap
    require(byKey.size == rows.length, "duplicate (subspace, code) rows")
    require(byKey.keys.forall { case (j, c) => j < m && c < ksize },
      "row ids outside declared shape")
    val out = (0 until m).map(j => (0 until ksize).map(c => byKey((j, c))))
    require(out.flatten.map(_.length).distinct.size == 1,
      "codewords have inconsistent dimensions")
    out
  }

  /** Persist a [[PcaModel]] as `(kind, idx, vec, variance)`: one row per
    * component (kind `component`, variance = explained fraction) plus one
    * `mean` row. Explicit kinds, not sentinel ids — a truncated or
    * filtered table fails validation in [[pcaFromDF]]. */
  def pcaToDF(spark: SparkSession, model: PcaModel): DataFrame = {
    import spark.implicits._
    val n = model.components.length
    val comps = model.components.zipWithIndex.map { case (c, i) =>
      ("component", i, n, c, model.explainedVariance(i))
    }
    (comps :+ (("mean", 0, n, model.mean, 0.0)))
      .toDF("kind", "idx", "n_components", "vec", "variance")
  }

  /** Load a [[PcaModel]] persisted by [[pcaToDF]]. */
  def pcaFromDF(df: DataFrame): PcaModel = {
    val rows = df.select(col("kind"), col("idx").cast("int"),
        col("n_components").cast("int"),
        col("vec").cast("array<double>"), col("variance").cast("double"))
      .collect()
    require(rows.nonEmpty, "empty PCA model table")
    val declared = rows.map(_.getInt(2)).distinct
    require(declared.length == 1, s"inconsistent n_components: ${declared.toSeq}")
    val n = declared.head
    val means = rows.filter(_.getString(0) == "mean")
    require(means.length == 1, s"want exactly one mean row, got ${means.length}")
    val comps = rows.filter(_.getString(0) == "component")
      .map(r => (r.getInt(1), r.getSeq[Double](3).toList, r.getDouble(4)))
    require(comps.length == n,
      s"model table has ${comps.length} component rows, declares $n")
    val byId = comps.map(c => c._1 -> c).toMap
    require(byId.size == comps.length, "duplicate component idx rows")
    require((0 until n).forall(byId.contains),
      s"component ids not contiguous 0..${n - 1}")
    val ordered = (0 until n).map(byId)
    val mean = means.head.getSeq[Double](3).toList
    require(ordered.forall(_._2.length == mean.length),
      "component/mean dimensions inconsistent")
    PcaModel(ordered.map(_._2), mean, ordered.map(_._3))
  }

  /** DETERMINISTIC full-corpus Lloyd refinement — the audit-grade
    * k-means this library's sketch-fit path ([[ivfFit]]: Spark ML on a
    * capped sample, float-order-dependent) deliberately is not: a
    * curation pipeline that SAMPLES BY CLUSTER (cluster-balanced
    * mixing, SemDeDup-style mode trimming) needs assignments that
    * reproduce bit-identically across runs and partitionings, or every
    * re-run re-shuffles the training mix.
    *
    * Init: the `k` rows with the smallest `xxhash64(id, seed)` (a
    * seeded distributed order statistic — deterministic "random" rows,
    * no driver pass). Each Lloyd iteration is (a) the per-row
    * nearest-centroid expression [[cellOf]] against the CURRENT
    * centers as literals — no shuffle, and (b) ONE
    * `posexplode`-postings aggregate of micro-quantized (1e-6)
    * coordinate sums per (cell, dim) — exact decimals, order-free —
    * collected (k·dim rows, model-sized) and descaled into the next
    * centers on the driver. An emptied cell keeps its previous center
    * (the standard degenerate-cell rule, deterministic here).
    * `iters` is FIXED — no data-dependent stopping, one arithmetic
    * sequence.
    *
    * Returns the cluster profile: one row per cell — (cell, n,
    * mean_dist, max_dist) against the FINAL centers ([[diversity]]'s
    * read-out, now on reproducible clusters). Compose with
    * [[ivfAssign]]`(df, idCol, embCol, finalCenters)` for the
    * assignment table; the centers come back via `kmeansFit`.
    *
    * Scale: `iters` passes over the corpus, each one map-side-combined
    * aggregate of k·dim decimal sums; nothing corpus-sized ever
    * reaches the driver. */
  def kmeansProfile(embDf: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int = 4, seed: Long = 42L): DataFrame = {
    val centers = kmeansFit(embDf, idCol, embCol, k, iters, seed)
    diversityPreassigned(embDf, embCol, centers)
  }

  /** The fit side of [[kmeansProfile]]: final centers after `iters`
    * deterministic Lloyd rounds. */
  def kmeansFit(embDf: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int = 4, seed: Long = 42L): Seq[Seq[Double]] = {
    require(k >= 1 && k <= 4096, s"k must be in [1,4096], got $k")
    require(iters >= 1 && iters <= 64,
      s"iters must be in [1,64], got $iters")
    val base = embDf
      .filter(col(idCol).isNotNull && col(embCol).isNotNull)
      .select(col(idCol).as("__id"),
        col(embCol).cast("array<double>").as("__emb"))
      // scanned once per Lloyd round
      .transform(CheckpointOps(_, eager = false))
    // seeded order-statistic init: k distinct-hash rows, ties broken by
    // id — one TakeOrderedAndProject, never a full sort
    val init = base
      .select(col("__id"), col("__emb"),
        xxhash64(col("__id"), lit(seed)).as("__h"))
      .orderBy(col("__h"), col("__id"))
      .limit(k)
      .select(col("__emb")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    require(init.size == k,
      s"corpus has only ${init.size} rows for k=$k clusters")
    var centers = init
    var it = 0
    while (it < iters) {
      val dim = centers.head.length
      val assigned = base.select(
        cellOf(col("__emb"), centers).as("__cell"),
        col("__emb"))
      val sums = assigned
        .select(col("__cell"), posexplode(col("__emb"))
          .as(Seq("__dim", "__x")))
        .groupBy(col("__cell"), col("__dim"))
        .agg(count(lit(1)).as("__n"),
          sum(floor(col("__x") * 1000000.0 + 0.5).cast("decimal(19,0)"))
            .cast("decimal(38,0)").as("__s"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      centers = centers.zipWithIndex.map { case (prev, c) =>
        byCell.get(c) match {
          case Some(rows) =>
            val perDim = rows.map(r => r.getInt(1) ->
              (r.getLong(2),
                r.getDecimal(3).doubleValue() / 1e6)).toMap
            (0 until dim).map { j =>
              val (n, s) = perDim(j)
              s / n.toDouble
            }
          case None => prev // emptied cell keeps its center
        }
      }
      it += 1
    }
    centers
  }

  /** Simplified silhouette per cell — the cluster-quality readout for
    * [[kmeansFit]]/[[ivfFit]] centers ("are these clusters real, or
    * did k just carve noise?"): per point `a` = distance to its own
    * (nearest) center, `b` = distance to the SECOND-nearest, and
    * `s = (b − a)/max(a, b)` ∈ [0, 1] here (a ≤ b by construction —
    * the simplified form against centers, not the O(n²) pairwise
    * silhouette; stated). Mean s near 0 ⇒ the point sits on a cell
    * boundary; near 1 ⇒ well inside its cluster.
    *
    * Returns one row per cell: (cell, n, mean_silhouette, min_sil) —
    * the weighted mean over cells is the corpus score; a low-mean cell
    * is the merge candidate. Points with `max(a,b) = 0` (exactly ON
    * two coincident centers) score 0 by convention.
    *
    * Scale: the top-2 argmin is ONE fixed per-row expression over the
    * broadcast center literals (no shuffle — the [[cellOf]] shape);
    * the only exchange is the nlist-row cell aggregate, micro-
    * quantized exact sums. */
  def silhouetteSimplified(embDf: DataFrame, embCol: String,
      centers: Seq[Seq[Double]]): DataFrame = {
    require(centers.size >= 2,
      s"silhouette needs >= 2 centers, got ${centers.size}")
    val v = col(embCol).cast("array<double>")
    val scored = centers.zipWithIndex.map { case (c, i) =>
      val cNorm = c.map(x => x * x).sum
      struct((lit(cNorm) - lit(2.0) * dot(v, vec(c))).as("d"),
        lit(i).as("cell"))
    }
    val top2 = slice(array_sort(array(scored: _*)), 1, 2)
    val own = element_at(top2, 1)
    val second = element_at(top2, 2)
    val aD = sqrt(greatest(lit(0.0), dot(v, v) + own.getField("d")))
    val bD = sqrt(greatest(lit(0.0), dot(v, v) + second.getField("d")))
    val s = when(greatest(aD, bD) > 0.0,
      (bD - aD) / greatest(aD, bD)).otherwise(lit(0.0))
    embDf
      .select(own.getField("cell").as("cell"), s.as("__s"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        ((sum(floor(col("__s") * 1000000.0 + 0.5).cast("decimal(28,0)"))
          .cast("decimal(38,0)").cast("string").cast("double") / 1e6) /
          count(lit(1)).cast("double")).as("mean_silhouette"),
        min(round(col("__s"), 6)).as("min_sil"))
      .orderBy(col("cell"))
  }

  /** Grid DBSCAN over 2-D coordinates — density clustering when
    * cluster COUNT is unknown and noise is real (geo points, a 2-D
    * [[pcaProject]] of embeddings, (price, weight) planes): a point
    * with ≥ `minPts` neighbors within `eps` (self included — the
    * textbook convention) is CORE; core points within eps of each
    * other share a cluster; a non-core point within eps of a core
    * joins that core's cluster (border); everything else is noise
    * (`cluster` NULL).
    *
    * Distribution strategy (the reason this isn't naive DBSCAN): cells
    * of side `eps` on the micro-quantized plane — every eps-neighbor
    * pair lands in the same or an ADJACENT cell, so the candidate join
    * is postings(cell) ⋈ postings(3×3 neighborhood), never point ×
    * point. Neighbor counting, the core-core edge list, and the border
    * attach all ride that one bounded join; cluster labels come from
    * [[graft.operators.Graph.connectedComponents]] on the core-core
    * edges (O(log n) alternating-star rounds, label = min member id).
    *
    * Guard: the 3×3 join is O(Σ cell², so ONE pathological cell (all
    * points at a venue) would quadratic-blow — an in-plan cardinality
    * guard `raise_error`s when any cell exceeds `maxCellPoints`
    * BEFORE any pair forms (the house maxVariants pattern: refuse
    * loudly, never truncate silently — a denser dataset needs a
    * smaller eps, which is also when DBSCAN's own semantics degrade).
    *
    * Determinism: coordinates micro-quantize once (1e-6 — distances
    * are exact integer arithmetic on the quantized plane, stated as
    * the distance contract); `dist² ≤ eps²` compares exact
    * decimal(38) products; labels are min-id — partitioning-invariant
    * end to end.
    *
    * Returns (id, is_core, cluster) — cluster NULL ⇔ noise.
    *
    * `shuffledHashCellJoin` (default true) forces the 3×3 cell join to
    * shuffled-hash, dropping sort-merge's two sorts of the posting
    * sets. Its sizing assumption: SHJ builds a hash table over an
    * entire HASH PARTITION of the point side (many cells — the
    * per-cell cap does NOT bound it) and cannot spill that build, so
    * the session must keep points/shuffle.partitions per-task rows in
    * execution memory — true wherever shuffle partitions are sized to
    * the usual 100 MB–1 GB (guide §2.2), but a deliberately
    * under-partitioned session should pass false to keep sort-merge's
    * graceful spill. */
  def dbscanGrid(points: DataFrame, idCol: String, xCol: Column,
      yCol: Column, eps: Double, minPts: Int,
      maxCellPoints: Int = 4096,
      shuffledHashCellJoin: Boolean = true): DataFrame = {
    require(eps > 0.0, s"eps must be positive, got $eps")
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    require(maxCellPoints >= minPts,
      s"maxCellPoints ($maxCellPoints) must be >= minPts ($minPts)")
    val epsMicro = math.floor(eps * 1e6 + 0.5).toLong
    require(epsMicro > 0L, s"eps quantizes to 0 micro-units: $eps")
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    val quant = (c: Column) =>
      floor(c.cast("double") * 1000000.0 + 0.5).cast("long")
    // exact integer floor-division: pmod is non-negative, so the
    // numerator is exactly divisible and the decimal quotient is the
    // floor — long/long `/` would route through double and can
    // misplace cells past 2⁵³ micro-units
    val fdiv = (c: Column) =>
      ((c - pmod(c, lit(epsMicro))).cast("decimal(38,0)") /
        lit(epsMicro).cast("decimal(38,0)"))
    val base = points
      .select(col(idCol).as("__id"), quant(xCol).as("__x"),
        quant(yCol).as("__y"))
      .filter(col("__id").isNotNull && col("__x").isNotNull &&
        col("__y").isNotNull)
      .withColumn("__cx", fdiv(col("__x")).cast("long"))
      .withColumn("__cy", fdiv(col("__y")).cast("long"))
      // both join sides + the finale
      .transform(CheckpointOps(_, eager = false))
    // in-plan density guard: any cell past the cap refuses BEFORE the
    // 3×3 join can form a quadratic pair set — the error expression
    // rides the join key itself (the powerMde pattern), so column
    // pruning cannot drop it and the 1-row broadcast build fails the
    // job before any pair task runs
    val cellMax = base.groupBy(col("__cx"), col("__cy"))
      .agg(count(lit(1)).as("__n"))
      .agg(max(col("__n")).as("__mx"))
    val guarded = base.crossJoin(broadcast(cellMax))
      .select(col("__id"), col("__x"), col("__y"),
        when(col("__mx") > maxCellPoints,
          raise_error(concat(lit("dbscanGrid: a cell holds "),
            col("__mx").cast("string"),
            lit(s" points (> maxCellPoints=$maxCellPoints) — " +
              "use a smaller eps or raise the cap"))).cast("long"))
          .otherwise(col("__cx")).as("__cx"),
        col("__cy"))
    // 3×3 neighborhood postings on ONE side; equi-join on the cell
    val offsets = array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")))): _*)
    val rhs = guarded
      .withColumn("__o", explode(offsets))
      .select((col("__cx") + col("__o.dx")).as("__cx"),
        (col("__cy") + col("__o.dy")).as("__cy"),
        col("__id").as("__jd"), col("__x").as("__jx"),
        col("__y").as("__jy"))
    // join rows come only from the same/adjacent cell, so each delta is
    // bounded by 2·epsMicro in VALUE (long subtraction of two coords
    // whose true difference is small never overflows); for epsMicro ≤
    // 1e9 the squared sum caps at 8e18 < 2⁶³, so the whole comparison
    // runs on primitive longs in whole-stage codegen — exactly the
    // integers the decimal path computed, at a fraction of the cost
    // (guide §4: eliminate non-codegen-friendly expressions in the hot
    // path; decimal(38) products are interpreted BigDecimal ops). The
    // decimal route stays for pathological eps.
    val within = if (epsMicro <= 1000000000L) {
      val dx = col("__x") - col("__jx")
      val dy = col("__y") - col("__jy")
      dx * dx + dy * dy <= lit(epsMicro * epsMicro)
    } else
      (d19(col("__x") - col("__jx")) *
        d19(col("__x") - col("__jx")) +
        d19(col("__y") - col("__jy")) * d19(col("__y") - col("__jy")))
        .cast("decimal(38,0)") <=
        lit(java.math.BigDecimal.valueOf(epsMicro)
          .multiply(java.math.BigDecimal.valueOf(epsMicro)))
          .cast("decimal(38,0)")
    // shuffled-hash, not sort-merge: both sides are cell-keyed and the
    // SMJ's two sorts (the candidate side is 9× the points) are pure
    // waste; SHJ is scale-safe where a broadcast of an unbounded point
    // set is not (guide §3.1 "pick the strategy deliberately"). Build
    // side sizing is a PARTITION of the point set, not a cell — see
    // the scaladoc knob for when to keep SMJ instead.
    val lhs = if (shuffledHashCellJoin) guarded.hint("shuffle_hash")
      else guarded
    val pairs = lhs.join(rhs, Seq("__cx", "__cy"))
      .filter(within)
      .select(col("__id"), col("__jd"))
      // counts, edges, border attach
      .transform(CheckpointOps(_, eager = false))
    val counts = pairs.groupBy(col("__id"))
      .agg(count(lit(1)).as("__deg")) // self-pair included (textbook)
    // the small derived tables checkpoint too: nodes, the initial pair
    // set, and the finale each materialize separately, and without the
    // cut every one re-aggregates the full pair set to rebuild the
    // core flags (measured: 3× ~20 s of task CPU at bench scale doing
    // identical work — guide §1.1's "decide where the time is going")
    val flagged = counts
      .select(col("__id"), (col("__deg") >= minPts).as("__core"))
      .transform(CheckpointOps(_, eager = false))
    // core-core edges → components; isolated cores label as themselves
    val coreIds = flagged.filter(col("__core")).select(col("__id"))
    val edges = pairs
      .join(coreIds, "__id")
      .join(coreIds.select(col("__id").as("__jd")), "__jd")
      .filter(col("__id") < col("__jd"))
      // CC reads it twice (nodes + p)
      .transform(CheckpointOps(_, eager = false))
    val comp = Graph.connectedComponents(edges, "__id", "__jd")
      .select(col("id").as("__id"), col("component").as("__cl"))
    val coreLbl = coreIds.join(comp, Seq("__id"), "left")
      .select(col("__id"), coalesce(col("__cl"), col("__id"))
        .as("__cluster"))
      // border attach + the label union
      .transform(CheckpointOps(_, eager = false))
    // border: non-core attaches to its MIN core neighbor's cluster
    val borderLbl = pairs
      .join(flagged.filter(!col("__core")).select(col("__id")), "__id")
      .join(coreLbl.select(col("__id").as("__jd"),
        col("__cluster").as("__jcl")), "__jd")
      .groupBy(col("__id")).agg(min(col("__jcl")).as("__cluster"))
    val lbl = coreLbl.unionByName(borderLbl)
    flagged.join(lbl, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__core").as("is_core"),
        col("__cluster").as("cluster"))
  }

  /** [[diversity]] against EXPLICIT centers (the [[kmeansFit]] output):
    * per cell the member count and mean/max L2 distance. */
  def diversityPreassigned(embDf: DataFrame, embCol: String,
      centers: Seq[Seq[Double]]): DataFrame = {
    val cd = cellAndDist(col(embCol).cast("array<double>"), centers)
    embDf
      .select(cd.getField("cell").as("cell"),
        cd.getField("dist").as("__dist"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("__dist") * 1000000.0 + 0.5).cast("decimal(19,0)"))
          .cast("decimal(38,0)").cast("string").cast("double") /
          (count(lit(1)).cast("double") * 1000000.0)).as("mean_dist"),
        max(col("__dist")).as("max_dist"))
      .orderBy(col("cell"))
  }
}
