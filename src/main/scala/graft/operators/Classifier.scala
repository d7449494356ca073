package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.graft.CheckpointOps

import scala.collection.mutable

/** Hashing-trick linear text classifier (fasttext-style: Joulin et al.
  * 2017, "Bag of Tricks for Efficient Text Classification") trained by
  * full-batch gradient descent expressed as Spark aggregations — the
  * standard quality-classifier stage of LLM data pipelines (GPT-3 /
  * The Pile / RefinedWeb all gate documents on such a model's score).
  *
  * 100 TB shape:
  *  - FEATURES are hashed token buckets (`xxhash64 mod dim`) — a pure
  *    codegen'd expression, no vocabulary to build or broadcast.
  *  - TRAINING runs on a bounded labeled set (classifier training sets are
  *    label-limited by definition; cap with `maxTrainRows` exactly like the
  *    IVF/PQ fits in [[Similarity]]). Each epoch is one join + one
  *    `groupBy(bucket)` aggregation; the driver receives only the gradient
  *    — at most `dim` doubles. The exploded feature table is materialized
  *    once (lazy localCheckpoint) and reused by every epoch.
  *  - SCORING is corpus-scale and zero-shuffle: the weight vector enters
  *    the plan as a literal array and the dot product is a single
  *    `aggregate` over the hashed tokens, inside whole-stage codegen.
  */
object Classifier {

  /** Hashed bag-of-words feature buckets of a text column (with
    * occurrence multiplicity — fasttext counts repeats). */
  def hashBuckets(text: Column, dim: Int): Column =
    transform(filter(split(text, " "), t => t =!= ""),
      w => pmod(xxhash64(w), lit(dim.toLong)).cast("int"))

  /** Sentinel buckets in the persisted model table: bias at −1, and the
    * declared dimension at −2 (so a table filtered to non-zero weights or
    * missing trailing buckets still round-trips at the right dim). */
  private val BiasBucket = -1
  private val DimBucket = -2

  /** A trained model: `weights(dim)` + intercept. */
  final case class LinearModel(weights: Array[Double], bias: Double,
      dim: Int) {
    def toDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      (weights.zipWithIndex.map { case (w, i) => (i, w) } :+
        (BiasBucket, bias) :+ (DimBucket, dim.toDouble))
        .toSeq.toDF("bucket", "weight")
    }
  }

  object LinearModel {
    /** Rebuild from the persisted `toDF` form. The dim row (bucket −2) is
      * authoritative — absent buckets load as weight 0, so a table
      * filtered to non-zero weights round-trips exactly. A legacy table
      * without the dim row is accepted only when dense (every bucket
      * present), where max+1 inference is provably right; anything else
      * fails loudly instead of silently truncating the weight vector. */
    def fromDF(df: DataFrame): LinearModel = {
      val rows = df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      require(rows.nonEmpty, "LinearModel.fromDF: empty model table")
      val dim = rows.get(DimBucket) match {
        case Some(d) =>
          val dm = d.toInt
          require(dm > 0, s"LinearModel.fromDF: invalid dim row $d")
          val bad = rows.keys.filter(b =>
            b != DimBucket && b != BiasBucket && (b < 0 || b >= dm))
          require(bad.isEmpty,
            s"LinearModel.fromDF: bucket(s) ${bad.take(5).mkString(",")} " +
              s"outside declared dim $dm")
          dm
        case None =>
          require(rows.contains(BiasBucket),
            "LinearModel.fromDF: no dim row (bucket -2) and no bias row " +
              "(bucket -1) - not a persisted LinearModel table")
          val dm = rows.keys.max + 1
          require(rows.size == dm + 1,
            s"LinearModel.fromDF: table has no dim row and is sparse " +
              s"(${rows.size - 1} weight rows for inferred dim $dm) - " +
              "cannot infer the true dimension; re-persist with toDF")
          dm
      }
      LinearModel(Array.tabulate(dim)(rows.getOrElse(_, 0.0)),
        rows.getOrElse(BiasBucket, 0.0), dim)
    }
  }

  /** Train logistic regression on (textCol, labelCol∈{0,1}) by full-batch
    * gradient descent. `maxTrainRows` caps the training set with a
    * deterministic hash-sample (training sets are label-bounded; the cap
    * is the scale contract, like every fit in this library). The
    * per-epoch driver traffic is one gradient of ≤ dim+1 doubles. */
  def train(df: DataFrame, textCol: String, labelCol: String,
      dim: Int = 1 << 15, epochs: Int = 30, lr: Double = 0.3,
      l2: Double = 1e-6, maxTrainRows: Long = 1000000L): LinearModel = {
    val capped = {
      val total = df.count()
      if (total <= maxTrainRows) df
      else df.filter(
        pmod(xxhash64(col(textCol)), lit(1000000L)) <
          lit((maxTrainRows * 1000000L) / total))
    }
    // One row per (doc, bucket, count) plus one sentinel row (bucket −1,
    // x=1) per doc that models the intercept — so the margin join and the
    // gradient aggregation handle bias with zero extra plumbing, and each
    // epoch is exactly ONE job (collect of ≤ dim+1 gradient rows).
    // Materialized once — every epoch reuses it without re-tokenizing.
    // The doc id MUST be assigned in its own projection BELOW the explode:
    // in a single select the generator becomes a Generate node with the
    // remaining expressions projected ABOVE it, so a monotonic id placed
    // alongside the explode would number exploded rows, not documents.
    val ided = capped
      .select(monotonically_increasing_id().as("__doc"),
        col(labelCol).cast(DoubleType).as("__y"), col(textCol))
    val feats = ided
      .select(col("__doc"), col("__y"),
        explode(hashBuckets(col(textCol), dim)).as("__b"))
      .groupBy(col("__doc"), col("__y"), col("__b"))
      .agg(count(lit(1)).cast(DoubleType).as("__x"))
      .unionByName(ided.select(col("__doc"), col("__y"),
        lit(-1).as("__b"), lit(1.0).as("__x")))
      // The training set is maxTrainRows-bounded by contract, so the
      // epoch jobs should run at sample width, not inherit the corpus
      // scan's partitioning — 20 epochs of scheduler overhead on
      // hundreds of tiny tasks would dominate the actual math.
      .coalesce(8)
      .transform(CheckpointOps(_, eager = false))
    val nDocs = math.max(1L,
      feats.filter(col("__b") === -1).count())

    // bias lives at sentinel bucket −1; real buckets are 0..dim−1.
    // Adagrad per-bucket steps: sparse text features converge orders of
    // magnitude faster than a single global rate (rare-but-predictive
    // buckets keep large steps while hot shared buckets damp quickly).
    val weights = mutable.Map.empty[Int, Double]
    val g2 = mutable.Map.empty[Int, Double]
    val session = feats.sparkSession
    import session.implicits._
    var epoch = 0
    while (epoch < epochs) {
      val wDf = weights.toSeq.toDF("__b", "__w")
      val margins = feats
        .join(broadcast(wDf), Seq("__b"), "left")
        .groupBy(col("__doc"), col("__y"))
        .agg(sum(col("__x") * coalesce(col("__w"), lit(0.0))).as("__m"))
        .select(col("__doc"),
          (lit(1.0) / (lit(1.0) + exp(-col("__m"))) - col("__y")).as("__r"))
      // gradient per bucket (incl. −1 = bias) = Σ x·residual; one
      // bucket-bounded collect per epoch
      feats.join(margins, Seq("__doc"))
        .groupBy(col("__b"))
        .agg(sum(col("__x") * col("__r")).as("__g"))
        .collect().foreach { r =>
          val b = r.getInt(0)
          val reg = if (b == -1) 0.0 else l2 * weights.getOrElse(b, 0.0)
          val g = r.getDouble(1) / nDocs + reg
          val acc = g2.getOrElse(b, 0.0) + g * g
          g2.update(b, acc)
          weights.update(b, weights.getOrElse(b, 0.0) -
            lr * g / (1e-8 + math.sqrt(acc)))
        }
      epoch += 1
    }
    val arr = Array.tabulate(dim)(weights.getOrElse(_, 0.0))
    LinearModel(arr, weights.getOrElse(-1, 0.0), dim)
  }

  /** Corpus-scale scoring: sigmoid(w·x + b) as ONE fused codegen'd
    * kernel ([[org.apache.spark.sql.graft.HashedBagSigmoid]]) — a single
    * byte-scan per row with the weight vector riding the generated class
    * as a reference object (dim ≤ ~2^18 keeps it a few MB). Zero
    * shuffle, no join, no UDF, and unlike a higher-order `aggregate`
    * lambda (which never enters whole-stage codegen) it stays inside the
    * codegen'd stage. [[scoreExprHof]] is the executable spec. */
  def scoreExpr(text: Column, model: LinearModel): Column =
    org.apache.spark.sql.graft.NativeFunctions
      .hashedBagSigmoid(text, model.weights.toIndexedSeq, model.bias)

  /** HOF formulation of [[scoreExpr]] — bit-identical, kept as the
    * executable specification of the fused kernel. */
  private[graft] def scoreExprHof(text: Column, model: LinearModel): Column = {
    val w = typedLit(model.weights.toIndexedSeq)
    val dot = aggregate(hashBuckets(text, model.dim),
      lit(model.bias).cast(DoubleType),
      (acc, b) => acc + element_at(w, b + 1))
    lit(1.0) / (lit(1.0) + exp(-dot))
  }

  /** Score and threshold a corpus: returns (all input columns, score,
    * keep). */
  def classify(df: DataFrame, textCol: String, model: LinearModel,
      threshold: Double = 0.5): DataFrame =
    df.withColumn("score", scoreExpr(col(textCol), model))
      .withColumn("keep", col("score") >= threshold)

  /** Isotonic calibration (pool-adjacent-violators): fit the best
    * NON-DECREASING map score → P(label) — the standard fix for a
    * quality classifier whose scores rank well but whose raw values
    * are not probabilities (Platt's sigmoid assumes a shape; isotonic
    * assumes only monotonicity). Returns one row per distinct score:
    * (score, n, mean_label, calibrated), `calibrated` the fitted
    * monotone step value.
    *
    * 100 TB shape: the sufficient statistics are per-DISTINCT-SCORE
    * (count, label-sum) — ONE map-side-combined aggregate over the
    * corpus; only that model-sized table (guarded by `maxPoints`, the
    * [[Similarity]] fit discipline — quantize scores upstream if the
    * domain is unbounded) reaches the driver, where PAVA runs in one
    * left-to-right pass. The fitted blocks broadcast back as a range
    * join, so scoring new data never shuffles.
    *
    * Exactness: block means compare by EXACT cross-multiplication of
    * (label-sum, count) decimals during pooling — no float drift can
    * mis-order a merge under any partitioning; each output mean is one
    * double division at the end. DedupSpec-style laws are pinned in
    * ClassifierSpec (monotone, mass-preserving, idempotent on monotone
    * input). */
  def isotonicCalibrate(df: DataFrame, scoreCol: String,
      labelCol: String, maxPoints: Int = 100000): DataFrame = {
    import java.math.BigDecimal
    val stats = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(scoreCol).cast(DoubleType).as("score"))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("__s"))
      .filter(!isnan(col("score")))
      // driver fit + the block join-back
      .transform(CheckpointOps(_, eager = false))
    val pts = stats.orderBy(col("score")).collect()
    require(pts.length <= maxPoints,
      s"${pts.length} distinct scores exceed maxPoints=$maxPoints — " +
        "quantize scores upstream (the fit table must stay model-sized)")
    // PAVA: merge each new point, then pool backwards while the last
    // block's mean < its predecessor's. Means compare exactly via
    // s1·n2 vs s2·n1 (decimal cross-multiplication).
    final case class Block(lo: Double, hi: Double, s: BigDecimal, n: Long)
    val blocks = mutable.ArrayBuffer.empty[Block]
    pts.foreach { r =>
      val (sc, n, s) = (r.getDouble(0), r.getLong(1),
        r.getDecimal(2) match { case null => BigDecimal.ZERO; case d => d })
      blocks += Block(sc, sc, s, n)
      while (blocks.length >= 2 && {
        val (p, q) = (blocks(blocks.length - 2), blocks.last)
        // pool while mean(q) < mean(p):  q.s/q.n < p.s/p.n
        q.s.multiply(BigDecimal.valueOf(p.n))
          .compareTo(p.s.multiply(BigDecimal.valueOf(q.n))) < 0
      }) {
        val q = blocks.remove(blocks.length - 1)
        val p = blocks.remove(blocks.length - 1)
        blocks += Block(p.lo, q.hi, p.s.add(q.s), p.n + q.n)
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    val fit = broadcast(blocks.toSeq.map { b =>
      (b.lo, b.hi,
        b.s.divide(BigDecimal.valueOf(b.n), 18,
          java.math.RoundingMode.HALF_EVEN).doubleValue())
    }.toDF("__lo", "__hi", "__cal"))
    stats
      .join(fit, col("score") >= col("__lo") && col("score") <= col("__hi"))
      .select(col("score"), col("n"),
        (col("__s").cast("string").cast("double") /
          col("n").cast("double")).as("mean_label"),
        col("__cal").as("calibrated"))
  }

  // ------------------------------------------------------------------
  // Model evaluation — the metrics a quality-classifier gate is tuned
  // by BEFORE it filters 100 TB. All exact-integer machinery: ranks,
  // counts and quantized sums shuffle as integers/decimals; every
  // reported metric is a fixed double expression over them, so the
  // numbers are engine-exact under any partitioning.
  // ------------------------------------------------------------------

  /** Exact ROC AUC via the Mann–Whitney identity
    * `AUC = U⁺/(n⁺·n⁻)` with midranks (ties averaged — the textbook
    * trapezoidal ROC). Rank machinery follows
    * [[Experiment.rankSumTest]]: scores collapse to per-value
    * (n_pos, n_total) counts, a range repartition + per-bucket offsets
    * yields DISTRIBUTED doubled midranks (never a single-partition
    * window), and `2·R⁺ = Σ n_pos·(2·cumBefore + n_t + 1)` stays an
    * exact decimal. One row: (n_pos, n_neg, auc, gini) where
    * `gini = 2·AUC − 1` (the accuracy-ratio form, not concentration).
    * AUC is ONE double division; NULL when a class is empty. */
  def rocAuc(df: DataFrame, score: Column, label: Column,
      buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d19 = "decimal(19,0)"
    val byValue = df
      .select(score.cast("double").as("__v"),
        label.cast("boolean").as("__y"))
      .filter(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__y").isNotNull)
      .groupBy(col("__v"))
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__np"),
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
      .select(col("__np"), col("__nt"),
        (col("__off") + coalesce(sum(col("__nt")).over(wB), lit(0L)))
          .cast(d19).as("__cb"))
    val s = cums.agg(
      sum(col("__np")).cast(d19).as("__snp"),
      sum(col("__nt") - col("__np")).cast(d19).as("__snn"),
      sum(col("__np").cast(d19) *
          (col("__cb") + col("__cb") + col("__nt").cast(d19) + 1)
            .cast(d19))
        .cast("decimal(38,0)").as("__r2p"))
    // 2U⁺ = 2R⁺ − n⁺(n⁺+1); AUC = 2U⁺ / (2·n⁺·n⁻)
    val u2 = col("__r2p") - (col("__snp") * col("__snp") + col("__snp"))
    val auc = when(col("__snp") === 0 || col("__snn") === 0,
        lit(null).cast("double"))
      .otherwise(u2.cast("double") /
        ((col("__snp") * col("__snn")).cast("double") * 2.0))
    s.select(col("__snp").cast("bigint").as("n_pos"),
      col("__snn").cast("bigint").as("n_neg"),
      auc.as("auc"), (auc * 2.0 - 1.0).as("gini"))
  }

  /** Confusion matrix + derived rates at a score threshold
    * (`score >= threshold` predicts positive). All four cells are
    * exact counts; precision/recall/accuracy are ONE division each and
    * f1 uses the single-division `2tp/(2tp+fp+fn)` form (no composed
    * p·r rounding). One row: (tp, fp, tn, fn, precision, recall, f1,
    * accuracy); rate columns NULL on empty denominators. */
  def confusionReport(df: DataFrame, score: Column, label: Column,
      threshold: Double): DataFrame = {
    val cells = df
      .select(score.cast("double").as("__v"),
        label.cast("boolean").as("__y"))
      .filter(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__y").isNotNull)
      .agg(
        sum(when(col("__v") >= threshold && col("__y"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("__v") >= threshold && !col("__y"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("__v") < threshold && !col("__y"), 1L)
          .otherwise(0L)).as("tn"),
        sum(when(col("__v") < threshold && col("__y"), 1L)
          .otherwise(0L)).as("fn"))
    def rate(num: Column, den: Column) =
      when(den === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
    cells.select(col("tp"), col("fp"), col("tn"), col("fn"),
      rate(col("tp"), col("tp") + col("fp")).as("precision"),
      rate(col("tp"), col("tp") + col("fn")).as("recall"),
      rate(col("tp") + col("tp"),
        col("tp") + col("tp") + col("fp") + col("fn")).as("f1"),
      rate(col("tp") + col("tn"),
        col("tp") + col("fp") + col("tn") + col("fn")).as("accuracy"))
  }

  /** Reliability-diagram bins for a [0,1] score: rows land in
    * `least(greatest(floor(score·bins), 0), bins−1)` — out-of-domain
    * scores clamp into the edge bins — and each bin reports its
    * size, positives, mean predicted score and observed positive rate.
    * Numerics: scores fold as exact `floor(score·10⁶ + 0.5)`
    * micro-integers (order-free sums); mean_pred and frac_pos are ONE
    * exact-integer division each, abs_gap their fixed-expression
    * difference. Returns (bin, n, n_pos, mean_pred, frac_pos,
    * abs_gap) — empty bins absent (join the range grid if a plot
    * needs them). */
  def calibrationBins(df: DataFrame, score: Column, label: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val g = df
      .select(score.cast("double").as("__v"),
        label.cast("boolean").as("__y"))
      .filter(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__y").isNotNull)
      // out-of-domain scores clamp into the EDGE bins (scores < 0 to
      // bin 0, ≥ 1 to bins−1) — same convention as streamHistogram and
      // prCurve, so a mis-scaled scorer is visible in edge-bin mass
      // instead of emitting negative bins or silently dropping rows
      .groupBy(least(greatest(floor(col("__v") * bins), lit(0L)),
          lit(bins - 1L))
        .cast("bigint").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        sum(floor(col("__v") * 1000000.0 + 0.5).cast("long")
          .cast("decimal(28,0)")).as("__sm"))
    val meanPred = col("__sm").cast("double") /
      (col("n").cast("double") * 1000000.0)
    val fracPos = col("n_pos").cast("double") / col("n").cast("double")
    g.select(col("bin"), col("n"), col("n_pos"),
      meanPred.as("mean_pred"), fracPos.as("frac_pos"),
      abs(fracPos - meanPred).as("abs_gap"))
  }

  /** Expected calibration error over [[calibrationBins]]:
    * `ECE = Σ (n_b/N)·|frac_pos_b − mean_pred_b|`. Per-bin gaps are
    * doubles (fixed expressions over exact sums), so each bin's
    * contribution `n_b·gap_b` is pico-quantized
    * (`floor(x·10¹² + 0.5)`) and summed as an exact integer — the sum
    * over bins is order-free, and ECE is ONE final division. One row:
    * (n, n_bins, ece). */
  def expectedCalibrationError(df: DataFrame, score: Column,
      label: Column, bins: Int = 10): DataFrame = {
    val b = calibrationBins(df, score, label, bins)
    b.agg(sum(col("n")).as("n"), count(lit(1)).as("n_bins"),
        sum(floor(col("abs_gap") * col("n").cast("double") *
            1000000000000.0 + 0.5).cast("long").cast("decimal(28,0)"))
          .as("__q"))
      .select(col("n"), col("n_bins"),
        (col("__q").cast("double") /
          (col("n").cast("double") * 1000000000000.0)).as("ece"))
  }

  /** Brier score — mean squared distance between a [0,1] score and the
    * binary outcome; the proper scoring rule that punishes confident
    * wrongness where accuracy can't. Per-row `(score − y)²` is a fixed
    * double expression, pico-quantized (`floor(x·10¹² + 0.5)`) and
    * summed as an exact integer so the corpus sum is order-free; the
    * score is ONE final division. One row: (n, brier). */
  def brierScore(df: DataFrame, score: Column, label: Column)
      : DataFrame = {
    val sq = {
      val d = col("__v") - when(col("__y"), 1.0).otherwise(0.0)
      d * d
    }
    df.select(score.cast("double").as("__v"),
        label.cast("boolean").as("__y"))
      .filter(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__y").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(floor(sq * 1000000000000.0 + 0.5).cast("long")
          .cast("decimal(28,0)")).as("__q"))
      .select(col("n"),
        when(col("n") === 0, lit(null).cast("double"))
          .otherwise(col("__q").cast("double") /
            (col("n").cast("double") * 1000000000000.0)).as("brier"))
  }

  /** Precision–recall curve at `points` score-grid thresholds — the
    * threshold-sweep report an imbalanced-label gate is tuned by
    * (where [[rocAuc]]'s ranking view hides the base rate): for every
    * threshold i/points, the exact confusion counts of the rule
    * `score ≥ i/points` and the derived precision/recall/F1.
    *
    * Exactness without per-threshold float compares: scores land in
    * `least(greatest(floor(score·points), 0), points−1)` grid bins
    * ONCE (out-of-domain scores clamp into the edge bins), then
    * every threshold's TP/FP is a reverse-cumulative integer sum over
    * the ≤ points-row bin table (`score ≥ i/points ⟺ bin ≥ i` — the
    * bin edges ARE the thresholds, so no division ever meets a row).
    * precision/recall are one division each, F1 the single-division
    * `2tp/(2tp+fp+fn)` form. Thresholds with no predicted positives
    * report NULL precision. Returns (threshold, tp, fp, fn,
    * precision, recall, f1) for i = 0..points−1, ordered ascending.
    *
    * Scale: ONE corpus aggregate to the bin table; everything after
    * runs on ≤ points rows (the cumulative window included). */
  def prCurve(df: DataFrame, score: Column, label: Column,
      points: Int = 20): DataFrame = {
    require(points >= 2 && points <= 10000,
      s"points must be in [2, 10000], got $points")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val bins = df
      .select(score.cast("double").as("__v"),
        label.cast("boolean").as("__y"))
      .filter(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__y").isNotNull)
      // clamp below as well as above: a score < 0 lands in bin 0 (it is
      // below every threshold, so it counts against recall denominators
      // exactly like a 0.0 score) instead of vanishing from the sweep
      .groupBy(least(greatest(floor(col("__v") * points), lit(0L)),
          lit(points - 1L))
        .cast("bigint").as("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__pos"))
    val grid = spark.range(0, points).select(col("id").as("__b"))
      .join(bins, Seq("__b"), "left")
      .na.fill(0L, Seq("__n", "__pos"))
    val wRev = Window.orderBy(col("__b").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val tp = sum(col("__pos")).over(wRev)
    val fp = sum(col("__n")).over(wRev) - tp
    val fn = sum(col("__pos")).over(wAll) - tp
    def rate(num: Column, den: Column) =
      when(den === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
    grid.select(
        (col("__b").cast("double") / points.toDouble).as("threshold"),
        tp.as("tp"), fp.as("fp"), fn.as("fn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        rate(col("tp"), col("tp") + col("fp")).as("precision"),
        rate(col("tp"), col("tp") + col("fn")).as("recall"),
        rate(col("tp") + col("tp"),
          col("tp") + col("tp") + col("fp") + col("fn")).as("f1"))
      .orderBy(col("threshold"))
  }

  /** Matthews correlation + the balanced-rates family over the same
    * ONE-aggregate confusion cells as [[confusionReport]] (kept
    * separate so that gate's pinned schema stays frozen): at
    * `score ≥ threshold`,
    * `MCC = (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn))` — the
    * single-number summary that stays honest under class imbalance
    * (accuracy and F1 both inflate there), plus balanced accuracy
    * `(TPR+TNR)/2` and Youden's J `TPR+TNR−1`. Numerics: cells are
    * exact integers; the MCC numerator rides decimal(38,0)
    * (tp·tn ≤ n² ≤ 10³⁸ at 10¹⁹ rows); the denominator is a double
    * sqrt of four exact-integer factors (each ≤ n — exact in double
    * to 2⁵³). MCC is NULL when any marginal is 0 (undefined), the
    * rates NULL on empty classes. ONE map-side-combined aggregate,
    * zero joins. Returns (threshold, tp, fp, tn, fn, mcc,
    * balanced_accuracy, youden_j). */
  def mccReport(df: DataFrame, score: Column, label: Column,
      threshold: Double = 0.5): DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df.select(score.cast("double").as("__v"),
        label.cast("boolean").as("__y"))
      .filter(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__y").isNotNull)
    val pred = col("__v") >= threshold
    val cells = base.agg(
      sum(when(pred && col("__y"), 1L).otherwise(0L)).as("tp"),
      sum(when(pred && !col("__y"), 1L).otherwise(0L)).as("fp"),
      sum(when(!pred && !col("__y"), 1L).otherwise(0L)).as("tn"),
      sum(when(!pred && col("__y"), 1L).otherwise(0L)).as("fn"))
    val (tp, fp, tn, fn) = (col("tp"), col("fp"), col("tn"), col("fn"))
    val num = (d19(tp) * d19(tn)).cast("decimal(38,0)") -
      (d19(fp) * d19(fn)).cast("decimal(38,0)")
    val margins = Seq(tp + fp, tp + fn, tn + fp, tn + fn)
    val den = margins.map(m => sqrt(m.cast("double"))).reduce(_ * _)
    val tpr = when(tp + fn > 0,
      tp.cast("double") / (tp + fn).cast("double"))
    val tnr = when(tn + fp > 0,
      tn.cast("double") / (tn + fp).cast("double"))
    cells.select(lit(threshold).as("threshold"), tp, fp, tn, fn,
      when(margins.map(_ > 0).reduce(_ && _), dbl(num) / den)
        .as("mcc"),
      ((tpr + tnr) / 2.0).as("balanced_accuracy"),
      (tpr + tnr - 1.0).as("youden_j"))
  }

  /** Cohen's kappa — inter-annotator agreement corrected for chance,
    * the labeling-QA gate a training-data pipeline runs before
    * trusting human (or model-as-judge) labels: with observed
    * agreement `p_o` and chance agreement `p_e = Σ_k p_A(k)·p_B(k)`,
    * `κ = (p_o − p_e)/(1 − p_e)`. Computed as ONE division of exact
    * integer products — `κ = (n·Σagree − Σ_k nA_k·nB_k) /
    * (n² − Σ_k nA_k·nB_k)` — so the result is engine-exact. NULL when
    * the denominator is 0 (both raters constant and identical —
    * kappa undefined). Rows where either label is NULL are excluded.
    *
    * Scale: one agreement aggregate + one per-label marginal
    * aggregate (both map-side combined; the marginal table is
    * label-cardinality); no row-level join. Returns ONE row:
    * (n, agree, p_o, p_e, kappa). */
  def cohenKappa(df: DataFrame, raterA: Column, raterB: Column)
      : DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df.select(raterA.cast("string").as("__a"),
        raterB.cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      // agreement + marginal consumers
      .transform(CheckpointOps(_, eager = false))
    val agree = base.agg(count(lit(1)).as("n"),
      sum(when(col("__a") === col("__b"), 1L).otherwise(0L))
        .as("agree"))
    val marg = base.select(explode(array(
        struct(lit("a").as("r"), col("__a").as("k")),
        struct(lit("b").as("r"), col("__b").as("k"))))
        .as("__m"))
      .groupBy(col("__m.k"))
      .agg(sum(when(col("__m.r") === "a", 1L).otherwise(0L)).as("__na"),
        sum(when(col("__m.r") === "b", 1L).otherwise(0L)).as("__nb"))
      .agg(sum((d19(col("__na")) * d19(col("__nb")))
        .cast("decimal(38,0)")).cast("decimal(38,0)").as("__pe"))
    agree.crossJoin(broadcast(marg))
      .select(col("n"), col("agree"),
        (col("agree").cast("double") / col("n").cast("double"))
          .as("p_o"),
        (dbl(col("__pe")) /
          (col("n").cast("double") * col("n").cast("double")))
          .as("p_e"), {
          val num = d19(col("n")) * d19(col("agree")) - col("__pe")
          val den = d19(col("n")) * d19(col("n")) - col("__pe")
          when(den === 0, lit(null).cast("double"))
            .otherwise(dbl(num) / dbl(den)).as("kappa")
        })
  }

  /** McNemar's test — the PAIRED model-vs-model comparison the
    * unpaired tests get wrong: on the SAME examples, only the
    * discordant pairs carry information (A right / B wrong vs A wrong
    * / B right), and `χ² = (|b − c| − 1)²/(b + c)` (Edwards continuity
    * correction; `continuity = false` for the raw form) against
    * χ²₁ — the readout for "is the new quality classifier actually
    * better, example for example?". Returns ONE row: (n, both_right,
    * both_wrong, a_only, b_only, chi2, p_value); NULL chi2/p when
    * there are no discordant pairs (the models never disagree —
    * nothing to test).
    *
    * Numerics: four exact integer cells from ONE aggregate; χ² is one
    * fixed double expression; the χ²₁ tail is EXACTLY the two-sided
    * normal tail at z = √χ², so the p-value uses the A&S erfc
    * polynomial directly (no Wilson–Hilferty needed at dof 1).
    *
    * Scale: one map-side-combined aggregate over the paired rows —
    * nothing else. */
  def mcNemar(df: DataFrame, aCorrect: Column, bCorrect: Column,
      continuity: Boolean = true): DataFrame = {
    val base = df.select(aCorrect.cast("boolean").as("__a"),
        bCorrect.cast("boolean").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    val agg = base.agg(count(lit(1)).as("n"),
      sum(when(col("__a") && col("__b"), 1L).otherwise(0L))
        .as("both_right"),
      sum(when(!col("__a") && !col("__b"), 1L).otherwise(0L))
        .as("both_wrong"),
      sum(when(col("__a") && !col("__b"), 1L).otherwise(0L))
        .as("a_only"),
      sum(when(!col("__a") && col("__b"), 1L).otherwise(0L))
        .as("b_only"))
    val disc = (col("a_only") + col("b_only")).cast("double")
    val diff = abs(col("a_only") - col("b_only")).cast("double")
    val adj = if (continuity) greatest(diff - 1.0, lit(0.0)) else diff
    val chi2 = adj * adj / disc
    // dof-1 tail = two-sided normal at z = √χ²: erfc(z/√2), A&S 7.1.26
    val z = sqrt(chi2) / lit(math.sqrt(2.0))
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * z)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) +
        u * lit(1.061405429)))))
    val p = poly * exp(-z * z)
    agg.select(col("n"), col("both_right"), col("both_wrong"),
      col("a_only"), col("b_only"),
      when(disc > 0.0, chi2).as("chi2"),
      when(disc > 0.0, p).as("p_value"))
  }

  /** Fleiss' kappa — [[cohenKappa]] generalized to ANY fixed number of
    * raters per item (the multi-annotator agreement statistic a
    * labeling pipeline with 3+ redundant judgments gates on): with
    * n_ic = raters assigning item i to category c and a CONSTANT n
    * raters per item, `P̄ = Σ_i(Σ_c n_ic² − n) / (N·n·(n−1))`,
    * `P̄_e = Σ_c (Σ_i n_ic / (N·n))²`, `κ = (P̄ − P̄_e)/(1 − P̄_e)`.
    * Input is one row per (item, single rating); a non-constant rater
    * count raises IN-PLAN (the [[graft.operators.Experiment.powerMde]]
    * guard pattern — Fleiss' formula is undefined otherwise). Returns
    * ONE row: (items, raters, p_bar, p_e, kappa); κ NULL when
    * P̄_e = 1 (every rating in one category — chance agreement total).
    *
    * Numerics: `Σ_i(Σ_c n_ic² − n)` and the category marginals are
    * EXACT integers (two aggregates); P̄ and each marginal share are
    * single divisions of exact operands; P̄_e is a category-sized sum
    * of squared shares, pico-quantized order-free (the χ² parts
    * convention).
    *
    * Scale: one (item, category) count aggregate, one item-level
    * rollup, one category-level rollup — all map-side combinable;
    * finale on report-sized tables. */
  def fleissKappa(df: DataFrame, itemCol: String, ratingCol: String)
      : DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val cells = df
      .select(col(itemCol).as("__i"),
        col(ratingCol).cast("string").as("__c"))
      .filter(col("__i").isNotNull && col("__c").isNotNull)
      .groupBy(col("__i"), col("__c"))
      .agg(count(lit(1)).as("__n"))
      .transform(CheckpointOps(_, eager = false)) // item + category rollups
    val items = cells.groupBy(col("__i"))
      .agg(sum(col("__n")).as("__ni"),
        sum((d19(col("__n")) * d19(col("__n"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__sq"))
    val itemAgg = items.agg(count(lit(1)).as("items"),
      min(col("__ni")).as("__nmin"), max(col("__ni")).as("__nmax"),
      sum(col("__sq")).cast("decimal(38,0)").as("__s1raw"))
    val cats = cells.groupBy(col("__c"))
      .agg(sum(col("__n")).cast("decimal(19,0)").as("__mc"))
    // P̄e parts need N·n — join the 1-row item aggregate onto the
    // category marginals, square the share, quantize order-free
    val withTot = cats.crossJoin(broadcast(
      itemAgg.select(col("items"), col("__nmin"), col("__nmax"),
        col("__s1raw"))))
    val share = dbl(col("__mc")) /
      (col("items").cast("double") * col("__nmin").cast("double"))
    val peSum = withTot.agg(
      max(col("items")).as("items"),
      max(col("__nmin")).as("__n"),
      max(col("__nmax")).as("__nmax2"),
      max(col("__s1raw")).as("__s1"),
      sum(floor(round(share * share, 9) * lit(1000000000000.0) + 0.5)
        .cast("decimal(28,0)")).cast("decimal(28,0)").as("__peq"))
    val nD = col("__n").cast("double")
    val nI = col("items").cast("double")
    // P̄ = (Σ_i Σ_c n_ic² − N·n) / (N·n·(n−1)) — exact integer operands
    val pBar = (dbl(col("__s1")) - nI * nD) / (nI * nD * (nD - 1.0))
    val pE = dbl(col("__peq")) / 1.0e12
    peSum
      .select(col("items"),
        when(col("__n") =!= col("__nmax2"),
          raise_error(lit("fleissKappa: rater count varies across " +
            "items — Fleiss' formula requires a constant rater count"))
            .cast("bigint"))
          .otherwise(col("__n")).as("raters"),
        pBar.as("p_bar"), pE.as("p_e"),
        when(pE < 1.0, (pBar - pE) / (lit(1.0) - pE)).as("kappa"))
  }

  /** Cochran's Q test — the k-MODEL extension of [[mcNemar]] ("do ANY
    * of these k classifiers differ, example for example?" — run BEFORE
    * pairwise McNemars, exactly as ANOVA runs before t-tests): over
    * examples scored by ALL k models (incomplete examples carry no
    * paired information and are excluded and counted),
    * `Q = (k−1)·[k·ΣT_j² − (ΣR)²] / [k·ΣR − ΣR_i²]` with `T_j` the
    * per-model correct totals and `R_i` the per-example correct
    * counts, against χ²_{k−1}. At k = 2, Q is EXACTLY the
    * uncorrected McNemar χ² — the continuity-corrected pairwise
    * [[mcNemar]] is the follow-up, not a replacement.
    *
    * Returns ONE row: (k, n_complete, n_excluded, q, dof, p_value) —
    * Q NULL when the denominator is 0 (every complete example has the
    * same correct count — no discordance, nothing to test) or k < 2.
    *
    * Numerics: duplicate (example, model) scores collapse by
    * disjunction (any correct run counts — stated); T_j, R_i and all
    * four Q operands are EXACT integers (decimal-widened squares);
    * Q is one fixed double expression; the tail is the direct erfc at
    * dof 1 ([[mcNemar]]'s identity) and the house Wilson–Hilferty +
    * erfc block past it.
    *
    * Scale: one (example, model) dedup aggregate (lazily
    * checkpointed — it feeds both rollups), one example-keyed and one
    * model-keyed exact-count aggregate over it, k-sized and 1-row
    * finales — map-side combinable throughout; nothing wider than the
    * dedup table ever shuffles. */
  def cochranQ(df: DataFrame, idCol: String, modelCol: String,
      correct: Column): DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val cells = df
      .select(col(idCol).as("__i"), col(modelCol).as("__m"),
        correct.cast("boolean").as("__c"))
      .filter(col("__i").isNotNull && col("__m").isNotNull &&
        col("__c").isNotNull)
      .groupBy(col("__i"), col("__m"))
      .agg(max(col("__c").cast("int")).as("__x"))
      .transform(CheckpointOps(_, eager = false)) // example + model rollups
    val k = cells.agg(countDistinct(col("__m")).as("k"))
    val perId = cells.groupBy(col("__i"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__x")).as("__r"))
      .crossJoin(broadcast(k))
    val idAgg = perId.agg(
      max(col("k")).as("k"),
      sum(when(col("__cnt") === col("k"), 1L).otherwise(0L))
        .as("n_complete"),
      sum(when(col("__cnt") =!= col("k"), 1L).otherwise(0L))
        .as("n_excluded"),
      sum(when(col("__cnt") === col("k"), col("__r")).otherwise(0L))
        .cast("decimal(19,0)").as("__sr"),
      sum(when(col("__cnt") === col("k"),
        (d19(col("__r")) * d19(col("__r"))).cast("decimal(38,0)"))
        .otherwise(lit(0L).cast("decimal(38,0)")))
        .cast("decimal(38,0)").as("__sr2"))
    // per-model totals over COMPLETE examples only
    val completeIds = perId.filter(col("__cnt") === col("k"))
      .select(col("__i"))
    val perModel = cells.join(completeIds, "__i")
      .groupBy(col("__m")).agg(sum(col("__x")).as("__t"))
    val modelAgg = perModel.agg(
      sum((d19(col("__t")) * d19(col("__t"))).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("__st2"))
    val out = idAgg.crossJoin(broadcast(modelAgg))
    val kD = col("k").cast("double")
    val num = (kD - 1.0) * (kD * dbl(col("__st2")) -
      dbl(col("__sr")) * dbl(col("__sr")))
    val den = kD * dbl(col("__sr")) - dbl(col("__sr2"))
    val q = num / den
    val dof = (col("k") - 1).cast("double")
    // dof-1 tail = direct erfc at √Q; past it, Wilson–Hilferty
    val zWh = (cbrt(q / dof) - (lit(1.0) - lit(2.0) / (lit(9.0) * dof))) /
      sqrt(lit(2.0) / (lit(9.0) * dof))
    val z = when(col("k") === 2, sqrt(q)).otherwise(zWh)
    val zz = abs(z) / lit(math.sqrt(2.0))
    val u = lit(1.0) / (lit(1.0) + lit(0.3275911) * zz)
    val poly = u * (lit(0.254829592) + u * (lit(-0.284496736) +
      u * (lit(1.421413741) + u * (lit(-1.453152027) +
        u * lit(1.061405429)))))
    val halfErfc = poly * exp(-zz * zz) / 2.0
    val pWh = when(z >= 0, halfErfc).otherwise(lit(1.0) - halfErfc)
    val p = when(col("k") === 2, halfErfc * 2.0).otherwise(pWh)
    val valid = col("k") >= 2 && col("n_complete") >= 2 && den > 0.0
    out.select(col("k"), col("n_complete"), col("n_excluded"),
      when(valid, q).as("q"),
      (col("k") - 1).cast("long").as("dof"),
      when(valid, p).as("p_value"))
  }

  /** Qini / uplift curve at `buckets` score buckets — the
    * TREATMENT-AWARE [[liftCurve]] ("if we only act on the top decile
    * by uplift score, how many INCREMENTAL conversions do we cause?"):
    * rows rank DESCENDING by (score, id) across BOTH arms (the
    * standard Qini construction — the model's ordering is what's under
    * test; arm balance within a bucket is the randomization's job),
    * bucket membership by the same integer cross-multiplied rank
    * cut, and each bucket reports per-arm counts plus the cumulative
    * uplift and Qini value
    * `qini = cum_pos_t − cum_pos_c · cum_n_t / cum_n_c` (incremental
    * conversions among the treated so far, control-scaled).
    *
    * Numerics: all counts exact integers;
    * `uplift = cum_pos_t/cum_n_t − cum_pos_c/cum_n_c` is two exact
    * divisions;
    * `qini = (cum_pos_t·cum_n_c − cum_pos_c·cum_n_t)/cum_n_c` is ONE
    * division of exact decimal-widened integer products. NULL/NaN
    * scores and NULL labels/arms excluded (the eval-family
    * convention); uplift/qini NULL until both arms appear in the
    * cumulative prefix.
    *
    * Scale: one [[graft.operators.Linkage.globalRank]] pass
    * (distributed range sort) + ONE buckets-sized aggregate + a
    * cumulative window over ≤ buckets rows ([[liftCurve]]'s shape,
    * token for token). Returns (bucket, n_treated, n_control,
    * pos_treated, pos_control, cum_n_treated, cum_n_control,
    * cum_pos_treated, cum_pos_control, uplift, qini) ordered by
    * bucket. */
  def qiniCurve(df: DataFrame, idCol: String, score: Column,
      treated: Column, label: Column, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"buckets must be in [2,1000], got $buckets")
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df
      .select(col(idCol).as("__id"), score.cast("double").as("__s"),
        treated.cast("boolean").as("__tr"),
        label.cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && !isnan(col("__s")) &&
        col("__tr").isNotNull && col("__y").isNotNull)
    val ranked = graft.operators.Linkage.globalRank(
      base.withColumn("__neg", -col("__s")).drop("__s"),
      "__id", col("__neg"))
    val stats = ranked.agg(count(lit(1)).as("__n"))
    val bucket = ceil(col("grank").cast("double") * buckets /
      col("__n").cast("double")).cast("long")
    val perBucket = ranked.crossJoin(broadcast(stats))
      .groupBy(bucket.as("bucket"))
      .agg(
        sum(when(col("__tr"), 1L).otherwise(0L)).as("n_treated"),
        sum(when(!col("__tr"), 1L).otherwise(0L)).as("n_control"),
        sum(when(col("__tr") && col("__y"), 1L).otherwise(0L))
          .as("pos_treated"),
        sum(when(!col("__tr") && col("__y"), 1L).otherwise(0L))
          .as("pos_control"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .withColumn("cum_n_treated", sum(col("n_treated")).over(wCum))
      .withColumn("cum_n_control", sum(col("n_control")).over(wCum))
      .withColumn("cum_pos_treated", sum(col("pos_treated")).over(wCum))
      .withColumn("cum_pos_control", sum(col("pos_control")).over(wCum))
      .select(col("bucket"), col("n_treated"), col("n_control"),
        col("pos_treated"), col("pos_control"),
        col("cum_n_treated"), col("cum_n_control"),
        col("cum_pos_treated"), col("cum_pos_control"),
        when(col("cum_n_treated") > 0 && col("cum_n_control") > 0,
          col("cum_pos_treated").cast("double") /
            col("cum_n_treated").cast("double") -
          col("cum_pos_control").cast("double") /
            col("cum_n_control").cast("double")).as("uplift"),
        when(col("cum_n_control") > 0,
          dbl((d19(col("cum_pos_treated")) * d19(col("cum_n_control")) -
            d19(col("cum_pos_control")) * d19(col("cum_n_treated")))
            .cast("decimal(38,0)")) /
            col("cum_n_control").cast("double")).as("qini"))
      .orderBy(col("bucket"))
  }

  /** Split-conformal threshold + coverage audit — the
    * distribution-free guarantee layer over any scorer ([[classify]],
    * the LM perplexity filter, an external model): given per-row
    * nonconformity scores and a calibration-set flag, the threshold is
    * the EXACT ⌈(n+1)(1−α)⌉-th smallest calibration score (Vovk's
    * split-conformal quantile — guarantees ≥ 1−α coverage on
    * exchangeable eval rows), and the audit reports the realized eval
    * coverage against it. Returns ONE row: (n_calib, n_eval, rank,
    * threshold, coverage, target). When ⌈(n+1)(1−α)⌉ > n the finite
    * calibration set cannot certify 1−α (threshold/coverage NULL —
    * lower α or calibrate on more rows; no silent clamp).
    *
    * Numerics: the threshold is a SELECTED data value (no
    * interpolation — deterministic at any partitioning, ties broken by
    * `idCol`); coverage is one exact-count division.
    *
    * Scale: one [[graft.operators.Linkage.globalRank]] pass over the
    * CALIBRATION rows (distributed range-bucket rank, never a
    * single-partition sort), one filtered-count aggregate over the
    * eval rows, a 1-row broadcast join. */
  def conformalThreshold(df: DataFrame, nonconformity: Column,
      calib: Column, idCol: String, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0,
      s"alpha must be in (0,1), got $alpha")
    val base = df
      .select(col(idCol).as("__id"),
        nonconformity.cast("double").as("__v"),
        calib.cast("boolean").as("__c"))
      .filter(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__c").isNotNull)
      .transform(CheckpointOps(_, eager = false)) // calib rank + eval coverage
    val cal = base.filter(col("__c")).select(col("__id"), col("__v"))
    val nCal = cal.agg(count(lit(1)).as("n_calib"))
      .select(col("n_calib"),
        ceil((col("n_calib").cast("double") + 1.0) * lit(1.0 - alpha))
          .cast("long").as("rank"))
    val ranked = graft.operators.Linkage.globalRank(cal, "__id",
      col("__v"))
    val thr = ranked.join(broadcast(nCal), col("grank") === col("rank"))
      .select(col("__v").as("threshold"))
    val ev = base.filter(!col("__c"))
    val cov = ev.crossJoin(broadcast(thr))
      .agg(count(lit(1)).as("__ne"),
        sum(when(col("__v") <= col("threshold"), 1L).otherwise(0L))
          .as("__cov"),
        max(col("threshold")).as("threshold"))
    val evTotal = ev.agg(count(lit(1)).as("n_eval"))
    nCal.crossJoin(broadcast(evTotal))
      .join(broadcast(cov), col("n_eval") === col("__ne"), "left")
      .select(col("n_calib"), col("n_eval"), col("rank"),
        when(col("rank") <= col("n_calib"), col("threshold"))
          .as("threshold"),
        when(col("rank") <= col("n_calib") && col("n_eval") > 0,
          col("__cov").cast("double") / col("n_eval").cast("double"))
          .as("coverage"),
        lit(1.0 - alpha).as("target"))
  }

  /** Leave-one-out smoothed target encoding — the classic
    * high-cardinality categorical feature for downstream quality
    * models: each row's category is replaced by the smoothed mean
    * target of OTHER rows in that category,
    * `enc = (S_c − y + m·ȳ)/(n_c − 1 + m)` (leaving the row itself out
    * kills the single-row leakage that makes naive target encoding
    * overfit; `m` shrinks rare categories toward the global mean).
    * Returns (id, category, n_category, encoded); encoded is NULL when
    * `n_c − 1 + m = 0` (a singleton category with no smoothing — no
    * leak-free estimate exists).
    *
    * Numerics: targets fold as exact `floor(y·10⁶+0.5)` micro-integers
    * ([[graft.operators.Experiment.welchTTest]]'s convention) with
    * exact decimal (n, Σ) per category and global; the encode is ONE
    * fixed double expression over exact operands — engine-identical.
    *
    * Scale: one category-keyed aggregate (map-side combined,
    * category-cardinality output) broadcast back onto the rows + a
    * 1-row global broadcast — the corpus is touched once and never
    * shuffled. */
  def targetEncodeLoo(df: DataFrame, categoryCol: String,
      target: Column, idCol: String, smoothing: Double = 20.0)
      : DataFrame = {
    require(smoothing >= 0.0,
      s"smoothing must be non-negative, got $smoothing")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df
      .select(col(idCol).as("id"),
        col(categoryCol).cast("string").as("category"),
        target.cast("double").as("__ym"))
      .filter(col("category").isNotNull && col("__ym").isNotNull &&
        !isnan(col("__ym")) &&
        abs(col("__ym")) < lit(Double.PositiveInfinity))
      .select(col("id"), col("category"),
        floor(col("__ym") * 1000000.0 + 0.5).cast("long").as("__y"))
    val perC = base.groupBy(col("category"))
      .agg(count(lit(1)).as("n_category"),
        sum(col("__y").cast("decimal(19,0)")).cast("decimal(28,0)")
          .as("__sc"))
      .transform(CheckpointOps(_, eager = false)) // global total + the row join
    val tot = perC.agg(sum(col("n_category")).cast("decimal(19,0)")
        .as("__n"),
      sum(col("__sc")).cast("decimal(38,0)").as("__s"))
    val denom = (col("n_category") - 1).cast("double") + lit(smoothing)
    val enc = (dbl(col("__sc")) - col("__y").cast("double") +
      lit(smoothing) * dbl(col("__s")) / dbl(col("__n"))) /
      (denom * 1000000.0)
    base.join(broadcast(perC), Seq("category"))
      .crossJoin(broadcast(tot))
      .select(col("id"), col("category"), col("n_category"),
        when(denom > 0.0, enc).as("encoded"))
  }

  /** Cumulative-gains / lift table at `buckets` score buckets — the
    * targeting-eval view the ROC/PR family lacks ("if we act on the
    * top decile, what fraction of positives do we capture, and at
    * what multiple of the base rate?"): rows rank DESCENDING by
    * (score, id) — the id tie-break makes the cut deterministic at
    * any partitioning — bucket b holds ranks with
    * `⌈grank·buckets/n⌉ = b` (integer cross-multiplied membership, no
    * division touches a row), and each bucket reports its exact
    * counts, the cumulative capture rate, and the cumulative lift.
    *
    * Numerics: counts are exact integers; `capture = cum_pos/total_pos`
    * is ONE division; `lift = (cum_pos·n)/(cum_n·total_pos)` is one
    * division of exact integer products (never a composed
    * rate/base-rate double quotient). NULL/NaN scores and NULL labels
    * are excluded (the eval-family convention); lift/capture are NULL
    * when no positives exist.
    *
    * Scale: one [[graft.operators.Linkage.globalRank]] pass
    * (distributed range sort) + ONE buckets-sized aggregate + a
    * cumulative window over ≤ buckets rows. Returns (bucket, n,
    * positives, cum_n, cum_pos, capture, lift) ordered by bucket. */
  def liftCurve(df: DataFrame, idCol: String, score: Column,
      label: Column, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"buckets must be in [2,1000], got $buckets")
    val base = df
      .select(col(idCol).as("__id"), score.cast("double").as("__s"),
        label.cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && !isnan(col("__s")) &&
        col("__y").isNotNull)
    // rank DESC by score: globalRank sorts ascending, so rank on the
    // negated score (micro-quantization is unnecessary — the order is
    // engine-internal and the tie-break pins equal scores)
    val ranked = graft.operators.Linkage.globalRank(
      base.withColumn("__neg", -col("__s")).drop("__s"),
      "__id", col("__neg"))
    val stats = ranked.agg(count(lit(1)).as("__n"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("__p"))
    // bucket = smallest b with grank·buckets ≤ b·n  ⇔  ⌈grank·buckets/n⌉
    val bucket = ceil(col("grank").cast("double") * buckets /
      col("__n").cast("double")).cast("long")
    val perBucket = ranked.crossJoin(broadcast(stats))
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("positives"),
        first(col("__n")).as("__n"), first(col("__p")).as("__p"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .withColumn("cum_n", sum(col("n")).over(wCum))
      .withColumn("cum_pos", sum(col("positives")).over(wCum))
      .select(col("bucket"), col("n"), col("positives"), col("cum_n"),
        col("cum_pos"),
        when(col("__p") > 0, col("cum_pos").cast("double") /
          col("__p").cast("double")).as("capture"),
        when(col("__p") > 0 && col("cum_n") > 0,
          (col("cum_pos") * col("__n")).cast("double") /
            (col("cum_n") * col("__p")).cast("double")).as("lift"))
      .orderBy(col("bucket"))
  }

  /** Cronbach's alpha — internal-consistency reliability of a k-item
    * score battery (the "do my k quality heuristics measure ONE
    * underlying thing?" check before averaging them into a single
    * score, and the questionnaire-reliability standard):
    * `α = k/(k−1)·(1 − Σⱼvarⱼ/var_total)` over COMPLETE respondents
    * (a row missing any item would bias every variance; incomplete
    * respondents are excluded and counted).
    *
    * Numerics: per-(respondent, item) scores micro-quantize once;
    * item variances come from exact per-item moments, the total-score
    * variance from exact per-respondent sums (both ONE aggregate
    * each), and the cross-item variance sum folds pico-quantized
    * (the χ²-parts convention). Returns ONE row: (k, n_respondents,
    * n_incomplete, alpha, item_var_sum, total_var) — NULL alpha when
    * k < 2, fewer than 2 complete respondents, or var_total = 0.
    *
    * Scale: one (respondent, item) dedup aggregate, one item-keyed
    * and one respondent-keyed moment aggregate over it, k-sized and
    * 1-row finales. */
  def cronbachAlpha(df: DataFrame, respondentCol: String,
      itemCol: String, score: Column): DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val base = df
      .select(col(respondentCol).cast("string").as("__r"),
        col(itemCol).cast("string").as("__i"),
        score.cast("double").as("__sm"))
      .filter(col("__r").isNotNull && col("__i").isNotNull &&
        col("__sm").isNotNull && !isnan(col("__sm")) &&
        abs(col("__sm")) < lit(Double.PositiveInfinity))
      .select(col("__r"), col("__i"),
        floor(col("__sm") * 1000000.0 + 0.5).cast("long").as("__s"))
      .groupBy(col("__r"), col("__i"))
      .agg(min(col("__s")).as("__s"))
      // k inference + both moment passes
      .transform(CheckpointOps(_, eager = false))
    val k = base.select(col("__i")).distinct().count()
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__r"))
    val marked = base
      .withColumn("__rn", count(lit(1)).over(wR))
      // complete + incomplete consumers
      .transform(CheckpointOps(_, eager = false))
    val nIncomplete = marked.filter(col("__rn") =!= k)
      .select(col("__r")).distinct().count()
    val complete = marked.filter(col("__rn") === k)
    // per-item sample variance over complete respondents (exact moments)
    val perItem = complete.groupBy(col("__i"))
      .agg(count(lit(1)).as("__n"),
        sum(d19(col("__s"))).cast("decimal(28,0)").as("__sy"),
        sum((d19(col("__s")) * d19(col("__s"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__syy"))
    val nD = col("__n").cast("double")
    val itemVar = when(col("__n") >= 2,
      (nD * dbl(col("__syy")) - dbl(col("__sy")) * dbl(col("__sy"))) /
        (nD * greatest(nD - 1.0, lit(1.0)) * 1e12))
    val itemFold = perItem.agg(
      count(lit(1)).as("__kc"),
      min(col("__n")).as("__nresp"),
      sum(floor(coalesce(itemVar, lit(0.0)) * 1e6 + 0.5)
        .cast("decimal(38,0)")).cast("decimal(38,0)").as("__vsum"))
    // total-score variance: exact per-respondent sums, then moments
    val totals = complete.groupBy(col("__r"))
      .agg(sum(d19(col("__s"))).cast("decimal(28,0)").as("__tot"))
    val totFold = totals.agg(
      count(lit(1)).as("__nt"),
      sum(col("__tot").cast("decimal(38,0)")).cast("decimal(38,0)")
        .as("__st"),
      sum((col("__tot") * col("__tot")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("__stt"))
    val out = itemFold.crossJoin(broadcast(totFold))
    val ntD = col("__nt").cast("double")
    val totVar = when(col("__nt") >= 2,
      (ntD * dbl(col("__stt")) - dbl(col("__st")) * dbl(col("__st"))) /
        (ntD * greatest(ntD - 1.0, lit(1.0)) * 1e12))
    val kD = lit(k.toDouble)
    val vsum = dbl(col("__vsum")) / 1e6
    val alpha = (kD / (kD - 1.0)) * (lit(1.0) - vsum / totVar)
    val valid = lit(k) > 1 && col("__nt") >= 2 && totVar > 0.0
    out.select(lit(k).as("k"),
      coalesce(col("__nt"), lit(0L)).as("n_respondents"),
      lit(nIncomplete).as("n_incomplete"),
      when(valid, alpha).as("alpha"),
      when(valid, vsum).as("item_var_sum"),
      when(valid, totVar).as("total_var"))
  }

  /** One-way intraclass correlation ICC(1,1) — absolute-agreement
    * reliability of repeated CONTINUOUS measurements per target (the
    * continuous complement of [[fleissKappa]]: "k judge scores per
    * item — how much of the variance is the item rather than the
    * judges?"): from the one-way random-effects ANOVA,
    * `ICC = (MSB − MSW)/(MSB + (k−1)·MSW)`.
    *
    * `ratingsPerTarget` (k) is an EXPLICIT contract — targets with a
    * different rating count are excluded and counted (an unbalanced
    * one-way ICC silently reweights targets; refusing is honest).
    * Returns ONE row: (k, n_targets, n_excluded, msb, msw, icc) —
    * NULL icc when fewer than 2 complete targets, k < 2, or the
    * denominator is 0.
    *
    * Numerics: exact per-target micro-integer moments in ONE
    * aggregate; MSB/MSW from pico-quantized order-free folds; the
    * final ratio is one fixed expression. Scale: one corpus
    * aggregate, target-sized fold, 1-row finale. */
  def iccOneWay(df: DataFrame, targetCol: String, score: Column,
      ratingsPerTarget: Int): DataFrame = {
    require(ratingsPerTarget >= 2,
      s"ICC needs >= 2 ratings per target, got $ratingsPerTarget")
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val k = ratingsPerTarget
    val per = df
      .select(col(targetCol).cast("string").as("__t"),
        score.cast("double").as("__sm"))
      .filter(col("__t").isNotNull && col("__sm").isNotNull &&
        !isnan(col("__sm")) &&
        abs(col("__sm")) < lit(Double.PositiveInfinity))
      .select(col("__t"),
        floor(col("__sm") * 1000000.0 + 0.5).cast("long").as("__s"))
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__n"),
        sum(d19(col("__s"))).cast("decimal(28,0)").as("__sy"),
        sum((d19(col("__s")) * d19(col("__s"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__syy"))
      .transform(CheckpointOps(_, eager = false)) // excluded count + fold
    val nExcluded = per.filter(col("__n") =!= k).count()
    val nD = lit(k.toDouble)
    // per complete target: within-SS (exact) and the group mean
    val withinSS = (nD * dbl(col("__syy")) - dbl(col("__sy")) *
      dbl(col("__sy"))) / (nD * 1e12)
    val mean = dbl(col("__sy")) / (nD * 1e6)
    val fold = per.filter(col("__n") === k).agg(
      count(lit(1)).as("__m"),
      sum(col("__sy").cast("decimal(38,0)")).cast("decimal(38,0)")
        .as("__sall"),
      sum(floor(withinSS * 1e6 + 0.5).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("__wss"),
      sum(floor(mean * mean * 1e3 + 0.5).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("__m2"))
    val mD = col("__m").cast("double")
    val grand = dbl(col("__sall")) / (mD * nD * 1e6)
    // between-SS = k·Σ(ȳᵢ − ȳ)² = k·(Σȳᵢ² − m·ȳ²)
    val ssb = nD * (dbl(col("__m2")) / 1e3 - mD * grand * grand)
    val msb = ssb / (mD - 1.0)
    val msw = (dbl(col("__wss")) / 1e6) / (mD * (nD - 1.0))
    val icc = (msb - msw) / (msb + (nD - 1.0) * msw)
    val valid = col("__m") >= 2 &&
      (dbl(col("__wss")) > 0.0 || dbl(col("__m2")) > 0.0)
    fold.select(lit(k.toLong).as("k"),
      coalesce(col("__m"), lit(0L)).as("n_targets"),
      lit(nExcluded).as("n_excluded"),
      when(valid, msb).as("msb"),
      when(valid, msw).as("msw"),
      when(valid && msb + (nD - 1.0) * msw > 0.0, icc).as("icc"))
  }

  /** Platt scaling — the PARAMETRIC sibling of [[isotonicCalibrate]]:
    * fit `P(y=1|s) = σ(A·s + B)` by penalized maximum likelihood
    * (Platt 1999, with Lin/Weng/Keerthi's smoothed targets
    * `t₊ = (n₊+1)/(n₊+2)`, `t₋ = 1/(n₋+2)` — the standard
    * regularization that keeps A finite on separable data), so a raw
    * classifier margin becomes a probability with TWO parameters —
    * monotone, smooth, and defined outside the calibration range
    * (where isotonic clamps).
    *
    * Newton–Raphson on the driver: each iteration is ONE map-side-
    * combined aggregate of five sums (∂A, ∂B, and the 2×2 Hessian) —
    * per-row terms are fixed double expressions at the CURRENT (A, B)
    * (broadcast as literals), quantized to pico-integers so the
    * cross-row sums are exact decimals and order-free ([[mccReport]]'s
    * discipline); the 2×2 solve is four driver flops. `iters` fixed
    * (default 20, far past convergence at double precision for this
    * concave 2-parameter problem) so the arithmetic sequence is
    * deterministic — no data-dependent stopping.
    *
    * Returns ONE row: (n_pos, n_neg, a, b, nll) — `nll` the final
    * per-row-averaged smoothed-target cross-entropy (the quantity
    * minimized; compare against a baseline fit to judge fit quality).
    * NULL a/b when either class is empty (the sigmoid is then
    * unidentified).
    *
    * Scale: `iters` aggregate passes over (score, label) — each a
    * 5-column reduce to one row, nothing corpus-sized ever moves; the
    * calibration input is localCheckpointed once and reused by every
    * epoch ([[train]]'s convention). */
  def plattCalibrate(df: DataFrame, score: Column, label: Column,
      iters: Int = 20): DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val spark = df.sparkSession
    val base = df
      .select(score.cast("double").as("__s"),
        label.cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && !isnan(col("__s")) &&
        abs(col("__s")) < lit(Double.PositiveInfinity) &&
        col("__y").isNotNull)
      // spread checkpoint: 20 Newton scans read this table; a plain
      // checkpoint freezes the AQE-coalesced (often 1-partition)
      // layout and runs them single-threaded — the quantized decimal
      // sums are exact, so the layout cannot change results
      .transform(CheckpointOps.spread)
    val counts = base.agg(
      sum(when(col("__y"), 1L).otherwise(0L)).as("np"),
      sum(when(col("__y"), 0L).otherwise(1L)).as("nn")).collect()(0)
    val (nPos, nNeg) = (counts.getLong(0), counts.getLong(1))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_pos",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_neg",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("nll",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    if (nPos == 0L || nNeg == 0L)
      return spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(org.apache.spark.sql.Row(nPos, nNeg, null, null, null)), 1),
        outSchema)
    val tPos = (nPos + 1.0) / (nPos + 2.0)
    val tNeg = 1.0 / (nNeg + 2.0)
    // Platt's recommended start: A=0, B = ln((n−+1)/(n₊+1))
    var aP = 0.0
    var bP = math.log((nNeg + 1.0) / (nPos + 1.0))
    def quantSum(c: Column): Column =
      sum(floor(c * 1e12 + 0.5).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
    var it = 0
    while (it < iters) {
      val t = when(col("__y"), lit(tPos)).otherwise(lit(tNeg))
      val pr = lit(1.0) /
        (lit(1.0) + exp(-(lit(aP) * col("__s") + lit(bP))))
      val r = pr - t            // ∂/∂z of the smoothed cross-entropy
      val wgt = pr * (lit(1.0) - pr)
      val g = base.agg(
        quantSum(r * col("__s")).as("ga"),
        quantSum(r).as("gb"),
        quantSum(wgt * col("__s") * col("__s")).as("haa"),
        quantSum(wgt * col("__s")).as("hab"),
        quantSum(wgt).as("hbb")).collect()(0)
      def v(i: Int): Double = {
        val x = g.get(i)
        if (x == null) 0.0
        else x.asInstanceOf[java.math.BigDecimal].doubleValue() / 1e12
      }
      val (ga, gb, haa, hab, hbb) = (v(0), v(1), v(2), v(3), v(4))
      // 2×2 Newton step with a tiny Levenberg ridge so a flat Hessian
      // (all scores equal) cannot divide by zero
      val ridge = 1e-12 * math.max(1.0, math.max(haa, hbb))
      val det = (haa + ridge) * (hbb + ridge) - hab * hab
      val dA = (ga * (hbb + ridge) - gb * hab) / det
      val dB = (gb * (haa + ridge) - ga * hab) / det
      aP -= dA
      bP -= dB
      it += 1
    }
    val t = when(col("__y"), lit(tPos)).otherwise(lit(tNeg))
    val zed = lit(aP) * col("__s") + lit(bP)
    // numerically-stable cross-entropy: t·softplus(−z) + (1−t)·softplus(z)
    def softplus(c: Column): Column =
      when(c > 30.0, c).when(c < -30.0, lit(0.0))
        .otherwise(log(lit(1.0) + exp(c)))
    val nllSum = base.agg(
      quantSum(t * softplus(-zed) + (lit(1.0) - t) * softplus(zed))
        .as("s"), count(lit(1)).as("n")).collect()(0)
    val nll = nllSum.get(0).asInstanceOf[java.math.BigDecimal]
      .doubleValue() / 1e12 / nllSum.getLong(1).toDouble
    spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(org.apache.spark.sql.Row(nPos, nNeg, aP, bP, nll)), 1), outSchema)
  }
}
