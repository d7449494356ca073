package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.graft.CheckpointOps

/** N-gram language-model training and perplexity scoring — the CCNet-style
  * quality filter (Wenzek et al. 2020): score each document by the
  * perplexity of a language model trained on a trusted corpus, keep the
  * low-perplexity (fluent) tail. Production CCNet uses a KenLM 5-gram; this
  * is the same pipeline re-expressed relationally with add-α (Lidstone)
  * smoothing so every number is exactly reproducible.
  *
  * Everything is DataFrame-shaped and stays distributed end to end:
  *  - TRAIN is one `explode → groupBy` count (shuffle volume is
  *    distinct-n-gram-sized, Zipf-bounded, with map-side combine) plus a
  *    model-sized context rollup. The model is a DataFrame pair — it is
  *    never collected to the driver.
  *  - SCORE is an equi-join of exploded document n-grams against the model
  *    (AQE broadcasts it when small; a plain hash shuffle co-partitions
  *    both sides when not) followed by a per-document aggregate. No UDFs,
  *    no driver loops; on 1000 executors each stage partitions cleanly.
  *
  * Plays the scoring role the reference leaves to warehouse UDF pipelines
  * (`odps-sqoop/.../TestDataDrivenDBInputFormat`-style ingest feeding SQL
  * scoring) as first-class relational operators.
  */
object LanguageModel {

  /** All n-grams of `tokens` as an array of n-field structs
    * (`g0..g{n-1}`), built from n shifted `slice`s zipped together —
    * linear in document length, expression-only, and crucially NOT a
    * lambda over the token array (a `transform` that re-references an
    * array-producing expression is re-evaluated per element after
    * CollapseProject — the O(len²) higher-order-function trap). Subject
    * to common-subexpression elimination the token array is computed
    * once per row. Documents shorter than n yield an empty array. */
  def ngrams(tokens: Column, n: Int): Column = {
    require(n >= 2, s"ngrams needs n >= 2, got $n")
    val len = greatest(lit(0), size(tokens) - (n - 1))
    val shifted =
      (0 until n).map(j => slice(tokens, lit(j + 1), len).as(s"g$j"))
    arrays_zip(shifted: _*)
  }

  /** A trained model: `grams` = (ctx, word, logp) for every observed
    * n-gram; `contexts` = (ctx, unseen_logp) — the smoothed log-probability
    * of any UNSEEN word after an observed context; `unigrams` (present when
    * trained with `backoff` — stupid-backoff style, Brants et al. 2007) =
    * (word, uni_logp), the discounted unigram fallback for n-grams whose
    * CONTEXT was never observed; `uniformLogp` = log(1/V), the last-resort
    * score. All tables are model-sized (distinct n-grams / contexts /
    * words): persist them like any model artifact and re-read for
    * serving. */
  final case class NgramLm(grams: DataFrame, contexts: DataFrame,
      vocabSize: Long, n: Int, alpha: Double,
      unigrams: Option[DataFrame] = None) {
    def uniformLogp: Double = math.log(1.0 / vocabSize.toDouble)
  }

  private def tokensOf(textCol: Column): Column =
    filter(split(textCol, " "), t => t =!= "")

  private def gramPairs(df: DataFrame, textCol: String, n: Int): DataFrame = {
    val ctxCols = (0 until n - 1).map(j => col("gram").getField(s"g$j"))
    df.select(tokensOf(col(textCol)).as("__toks"))
      .select(explode(ngrams(col("__toks"), n)).as("gram"))
      .select(concat_ws(" ", ctxCols: _*).as("ctx"),
        col("gram").getField(s"g${n - 1}").as("word"))
  }

  /** Corpus n-gram frequency table `(ctx, word, n)` — exact, one
    * `explode → groupBy` with map-side combine; shuffle volume is
    * distinct-n-gram-sized (Zipf), not occurrence-sized. */
  def ngramCounts(df: DataFrame, textCol: String, n: Int): DataFrame =
    gramPairs(df, textCol, n)
      .groupBy(col("ctx"), col("word"))
      .agg(count(lit(1)).as("n"))

  /** PMI collocation mining — word pairs that co-occur far more than
    * their marginals predict (Church & Hanks 1990): the corpus-analysis
    * view of [[ngramCounts]] that surfaces multi-word entities
    * ("machine learning", "hong kong") and template artifacts.
    *
    * pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) ) computed as
    * `ln(c_ab · N_uni² / (N_bi · c_a · c_b))` with one fixed double
    * evaluation order, rounded to 6 places — engine-reproducible, so the
    * t154 gate is hash-exact against SQL. `minCount` suppresses the
    * low-frequency pairs whose PMI explodes (the classic instability).
    *
    * Scale: bigram and unigram tables are model-sized (Zipf), the joins
    * are model-keyed, totals ride one broadcast row; nothing joins or
    * sorts the corpus itself. Top-k is count-bounded by `topK` with a
    * total (pmi desc, pair) tie-break order. */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5,
      topK: Int = 100): DataFrame = {
    // both model-sized tables feed two consumers each (totals + the
    // scoring joins) — truncate lineage so each corpus count runs once
    val bi = ngramCounts(df, textCol, 2).withColumnRenamed("n", "c_ab")
      .transform(CheckpointOps(_, eager = false))
    val uni = df.select(explode(tokensOf(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .transform(CheckpointOps(_, eager = false))
    // totals BEFORE the minCount filter: probabilities are over the whole
    // corpus, not the surviving pairs
    val totals = bi.agg(sum(col("c_ab")).as("n_bi"))
      .crossJoin(uni.agg(sum(col("c")).as("n_uni")))
    bi.filter(col("c_ab") >= minCount)
      .join(uni.select(col("tok").as("ctx"), col("c").as("c_a")), "ctx")
      .join(uni.select(col("tok").as("word"), col("c").as("c_b")), "word")
      .crossJoin(broadcast(totals))
      .select(col("ctx").as("w1"), col("word").as("w2"), col("c_ab"),
        round(log(
          col("c_ab").cast(DoubleType) * col("n_uni") * col("n_uni") /
            (col("n_bi").cast(DoubleType) * col("c_a") * col("c_b"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Dunning log-likelihood-ratio collocations (Dunning 1993) — the
    * small-count-safe companion of [[collocations]]: PMI explodes on
    * rare pairs (hence its `minCount` crutch), while the LLR is the
    * G-test of the 2×2 bigram contingency table and stays calibrated
    * at ANY count, so it ranks "strongly associated AND well-attested"
    * pairs first — the standard collocation score in corpus
    * linguistics. Marginals are POSITIONAL bigram counts (bigrams
    * starting with w1 / ending with w2) so the table is exactly the
    * bigram event space: k11 = c(w1 w2), k12 = c(w1 ·) − k11,
    * k21 = c(· w2) − k11, k22 = N − c(w1 ·) − c(· w2) + k11, and
    * `llr = 2·Σ_ij k_ij·ln(k_ij·N/(R_i·C_j))` over the non-zero
    * cells. Only positively associated pairs (k11·N > R₁·C₁) are
    * collocation candidates; the rest are repulsions and are dropped.
    * Returns (w1, w2, c_ab, llr) — top `topK` by (llr desc, w1, w2).
    *
    * Numerics: all eight operands are exact integers; each cell's term
    * is a fixed double expression (ln of exactly-representable integer
    * products), the four-term sum is a single fixed expression — no
    * cross-row double aggregation anywhere — rounded once to 6 places.
    *
    * Scale: the bigram table is model-sized (Zipf); both positional
    * marginals are rollups OF that table (no second corpus pass);
    * the finale is TakeOrderedAndProject. */
  def dunningCollocations(df: DataFrame, textCol: String,
      minCount: Long = 1, topK: Int = 100): DataFrame = {
    val d19 = "decimal(19,0)"
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val bi = ngramCounts(df, textCol, 2).withColumnRenamed("n", "c_ab")
      .transform(CheckpointOps(_, eager = false)) // marginals + total + scoring
    val rowM = bi.groupBy(col("ctx")).agg(sum(col("c_ab")).as("__r1"))
    val colM = bi.groupBy(col("word")).agg(sum(col("c_ab")).as("__c1"))
    val tot = bi.agg(sum(col("c_ab")).cast(d19).as("__nn"))
    val k11 = col("c_ab").cast(d19)
    val r1 = col("__r1").cast(d19)
    val c1 = col("__c1").cast(d19)
    val nn = col("__nn")
    val k12 = r1 - k11
    val k21 = c1 - k11
    val k22 = nn - r1 - c1 + k11
    val r2 = nn - r1
    val c2 = nn - c1
    // k·(ln(k·N) − ln(R·C)): every ln argument is an exact integer
    // product ≤ 10³⁸ cast to double identically in any engine; a zero
    // cell contributes 0 (the k·ln k limit)
    def term(k: Column, r: Column, c: Column): Column =
      when(k > 0, dbl(k) *
        (log(dbl((k * nn).cast("decimal(38,0)"))) -
          log(dbl((r * c).cast("decimal(38,0)"))))).otherwise(lit(0.0))
    val llr = lit(2.0) * (term(k11, r1, c1) + term(k12, r1, c2) +
      term(k21, r2, c1) + term(k22, r2, c2))
    bi.filter(col("c_ab") >= minCount)
      .join(rowM, Seq("ctx")).join(colM, Seq("word"))
      .crossJoin(broadcast(tot))
      .filter(dbl((k11 * nn).cast("decimal(38,0)")) >
        dbl((r1 * c1).cast("decimal(38,0)"))) // positive association only
      .select(col("ctx").as("w1"), col("word").as("w2"), col("c_ab"),
        round(llr, 6).as("llr"))
      .orderBy(col("llr").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Fit an add-α n-gram LM on a corpus. One count shuffle over the
    * corpus; the returned model tables share a single materialized count
    * (lazy localCheckpoint) so deriving both does not re-scan the corpus.
    *
    * logP(w | ctx) = log((c(ctx,w) + α) / (c(ctx) + α·V)), V = vocabulary
    * size (distinct observed words in final n-gram position).
    *
    * With `backoff = Some(λ)` an unseen CONTEXT falls back to the
    * discounted smoothed unigram, λ·(c(w)+α)/(N+αV) (stupid backoff) —
    * gentler than the uniform 1/V floor, at the cost of one extra
    * model-sized table and one extra scoring join. */
  def train(df: DataFrame, textCol: String, n: Int = 2,
      alpha: Double = 0.1, backoff: Option[Double] = None): NgramLm = {
    val counts = ngramCounts(df, textCol, n)
      .withColumnRenamed("n", "c")
      // model-sized; feeds three consumers
      .transform(CheckpointOps(_, eager = false))
    val vocab = counts.select(col("word")).distinct().count()
    val ctxTotals = counts.groupBy(col("ctx"))
      .agg(sum(col("c")).as("c_ctx"))
    val denom = col("c_ctx").cast(DoubleType) + lit(alpha * vocab)
    val grams = counts.join(ctxTotals, "ctx")
      .select(col("ctx"), col("word"),
        log((col("c").cast(DoubleType) + lit(alpha)) / denom).as("logp"))
    val contexts = ctxTotals
      .select(col("ctx"), log(lit(alpha) / denom).as("unseen_logp"))
    val unigrams = backoff.map { lambda =>
      require(lambda > 0 && lambda <= 1, s"backoff discount must be in (0,1], got $lambda")
      val wordTotals = counts.groupBy(col("word")).agg(sum(col("c")).as("cw"))
      val total = wordTotals.agg(sum(col("cw"))).head().getLong(0)
      wordTotals.select(col("word"),
        (log((col("cw").cast(DoubleType) + lit(alpha)) /
          lit(total.toDouble + alpha * vocab)) + lit(math.log(lambda)))
          .as("uni_logp"))
    }
    NgramLm(grams, contexts, vocab, n, alpha, unigrams)
  }

  /** Per-document perplexity under a trained model:
    * ppl(d) = exp(−mean logP over d's n-grams). Documents with fewer than
    * n tokens have no n-grams and score null (callers decide their fate).
    * Unseen word after a seen context → the context's smoothed unseen
    * mass; entirely unseen context → uniform 1/V. Returns
    * (idCol, n_grams, avg_logp, perplexity). */
  def perplexity(df: DataFrame, lm: NgramLm, idCol: String,
      textCol: String): DataFrame = {
    val n = lm.n
    val ctxCols = (0 until n - 1).map(j => col("gram").getField(s"g$j"))
    val pairs = df
      .select(col(idCol), tokensOf(col(textCol)).as("__toks"))
      .select(col(idCol), explode_outer(ngrams(col("__toks"), n)).as("gram"))
      .select(col(idCol),
        when(col("gram").isNotNull, concat_ws(" ", ctxCols: _*)).as("ctx"),
        col("gram").getField(s"g${n - 1}").as("word"))
    val joined = pairs
      .join(lm.grams.withColumnRenamed("logp", "__glp"),
        Seq("ctx", "word"), "left")
      .join(lm.contexts, Seq("ctx"), "left")
    val withBackoff = lm.unigrams.fold(joined)(u =>
      joined.join(u, Seq("word"), "left"))
    val fallbacks =
      (if (lm.unigrams.isDefined) Seq(col("uni_logp")) else Nil) :+
        lit(lm.uniformLogp)
    val scored = withBackoff
      .select(col(idCol),
        when(col("ctx").isNull, lit(null).cast(DoubleType))
          .otherwise(coalesce(
            (col("__glp") +: col("unseen_logp") +: fallbacks): _*)).as("lp"))
    scored.groupBy(col(idCol))
      .agg(count(col("lp")).as("n_grams"),
        avg(col("lp")).as("avg_logp"))
      .select(col(idCol), col("n_grams"), col("avg_logp"),
        exp(-col("avg_logp")).as("perplexity"))
  }

  /** CCNet-style keep/drop: train on a trusted reference corpus, score the
    * target corpus, keep documents at or below the given perplexity
    * quantile among scoreable documents (plus, optionally, unscoreable
    * short documents). Returns the input rows (all columns) of surviving
    * documents plus a `perplexity` column. The quantile cut is one
    * `approx_percentile` scalar — the driver receives a single double; the
    * only added corpus-scale exchange beyond scoring itself is the id join
    * back to the input rows. */
  def perplexityFilter(target: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, n: Int = 2, alpha: Double = 0.1,
      keepQuantile: Double = 0.5, keepUnscoreable: Boolean = true,
      backoff: Option[Double] = None): DataFrame = {
    val lm = train(reference, textCol, n, alpha, backoff)
    // Feeds the cut fit and the keep-filter — checkpoint once
    // (doc-id + 3 doubles per doc, not the corpus text).
    val scoredAll = perplexity(target, lm, idCol, textCol)
      .transform(CheckpointOps(_, eager = false))
    val cutRow = scoredAll.filter(col("perplexity").isNotNull)
      .agg(expr(s"approx_percentile(perplexity, $keepQuantile)"))
      .head()
    // No scoreable documents (all shorter than n tokens, or empty input):
    // there is no distribution to cut — degrade to the keepUnscoreable
    // policy instead of throwing on the NULL percentile.
    val keep =
      if (cutRow.isNullAt(0)) {
        if (keepUnscoreable) lit(true) else col("perplexity").isNotNull
      } else {
        val cut = cutRow.getDouble(0)
        if (keepUnscoreable)
          col("perplexity").isNull || col("perplexity") <= cut
        else col("perplexity").isNotNull && col("perplexity") <= cut
      }
    target.join(scoredAll.select(col(idCol), col("perplexity")),
        Seq(idCol), "left")
      .filter(keep)
  }
}
