package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.CheckpointOps

/** Text-analysis operators for large-scale document pipelines.
  *
  * All operators are pure column expressions built from
  * `org.apache.spark.sql.functions` (higher-order functions over arrays), so
  * they stay inside whole-stage codegen and scale linearly with no shuffle:
  * on a 1000-executor cluster each task processes its parquet split
  * independently. The ingest-side parsing mirrors the reference's
  * text→typed-column serializers
  * (`flume-plugin/.../DelimitedTextSerializer.java:63-92`,
  * `RegexEventSerializer.java:75-110`) re-expressed as Catalyst expressions
  * instead of per-event Java loops.
  */
object TextAnalysis {

  /** Whitespace tokenization; single-space delimited corpora stay exact. */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: tokens plus extra splits on 4-char chunks of
    * long words (a cheap deterministic stand-in for a real BPE vocab).
    * Fused single byte scan; [[subwordCountHof]] is the executable spec. */
  def subwordCount(text: Column): Column =
    org.apache.spark.sql.graft.NativeFunctions.subwordCount(text)

  private[graft] def subwordCountHof(text: Column): Column =
    aggregate(tokens(text), lit(0),
      (acc, w) => acc + ceil(length(w).cast(DoubleType) / 4.0).cast(IntegerType))

  private val StopWords = Seq("the", "a", "an", "and", "or", "of", "to", "in")

  /** Fraction of tokens that are stopwords — a standard quality signal.
    * Fused: one `TokenSetHits` pass instead of split + filter lambda;
    * [[stopwordRatioHof]] keeps the HOF form as the executable spec. */
  def stopwordRatio(text: Column): Column =
    org.apache.spark.sql.graft.NativeFunctions
      .tokenSetHits(text, Seq(StopWords)).getItem(0).cast(DoubleType) /
      org.apache.spark.sql.graft.NativeFunctions.tokenCount(text).cast(DoubleType)

  private[graft] def stopwordRatioHof(text: Column): Column = {
    val t = tokens(text)
    size(filter(t, w => w.isInCollection(StopWords))).cast(DoubleType) /
      size(t).cast(DoubleType)
  }

  /** Mean characters per token (cheap fluency proxy). For single-space
    * tokenization the token-length sum is `length(text) - (n-1)` exactly
    * (n tokens, n-1 separators — empty tokens included on both sides), so
    * no array pass is needed at all; [[meanTokenLenHof]] keeps the
    * aggregate-over-tokens form as the executable spec. */
  def meanTokenLen(text: Column): Column = {
    val n = org.apache.spark.sql.graft.NativeFunctions.tokenCount(text)
    (length(text) - n + 1).cast(DoubleType) / n.cast(DoubleType)
  }

  private[graft] def meanTokenLenHof(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, w) => acc + length(w))
      .cast(DoubleType) / tokenCount(text).cast(DoubleType)

  /** Composite quality score in [0,1]: length window + stopword presence.
    * Deterministic, expression-only. */
  def qualityScore(text: Column): Column = {
    val n = length(text).cast(DoubleType)
    val lengthOk = when(n.between(50, 5000), 1.0).otherwise(0.5)
    val stopOk = when(stopwordRatio(text) > 0.02, 1.0).otherwise(0.6)
    round(lengthOk * 0.5 + stopOk * 0.5, 4)
  }

  /** Tiny per-language marker vocabularies for the n-gram/stopword language
    * heuristic. Deterministic argmax (score, then language code) so results
    * are stable across partitionings. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "and", "is", "of", "to", "in"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "que"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  /** Language-ID heuristic: argmax of marker-token hits; ties break on the
    * language code so the answer is order-independent. Returns "und" when no
    * marker hits at all. Fused: all marker sets probe in ONE tokenization
    * pass (`TokenSetHits`) instead of one split+filter tree per language;
    * [[langIdHof]] keeps the HOF form as the executable spec. */
  def langId(text: Column): Column = {
    val hits = org.apache.spark.sql.graft.NativeFunctions
      .tokenSetHits(text, LangMarkers.map(_._2))
    val scored = LangMarkers.zipWithIndex.map { case ((lang, _), i) =>
      struct(hits.getItem(i).as("score"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  private[graft] def langIdHof(text: Column): Column = {
    val t = tokens(text)
    val scored = LangMarkers.map { case (lang, markers) =>
      struct(
        size(filter(t, w => w.isInCollection(markers))).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Rolling-hash fingerprint over tokens (order-sensitive, so permuted
    * documents fingerprint differently, unlike a bag-of-words hash). The
    * chain `acc ← xxhash64(acc, token)` is the ANSI-safe equivalent of the
    * classic polynomial hash (no long overflow). 64-bit, fused single
    * pass; [[fingerprintHof]] is the executable spec. */
  def fingerprint(text: Column): Column =
    org.apache.spark.sql.graft.NativeFunctions.tokenFingerprint(text)

  private[graft] def fingerprintHof(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, w) => xxhash64(acc, w))

  /** Intra-document repetition ratio (Gopher/RefinedWeb-style quality
    * rule): fraction of token n-grams that are repeats of an earlier
    * n-gram in the same document — 0.0 for fully novel text, → 1.0 for
    * boilerplate loops. Distinct count via the fused ShingleHashes kernel
    * and total via TokenCount arithmetic — no HOF lambda, so the token
    * split happens once per row, not once per gram (the Catalyst
    * lambda-inlining hazard documented on minhashSignaturesPosting). */
  def repetitionRatio(text: Column, n: Int): Column = {
    val total = greatest(
      org.apache.spark.sql.graft.NativeFunctions.tokenCount(text) - n,
      lit(0)) + 1
    lit(1.0) - org.apache.spark.sql.graft.NativeFunctions
        .shingleDistinctCount(text, n).cast(DoubleType) /
      total.cast(DoubleType)
  }

  /** Gopher/C4-style document quality rules, as one codegen'd boolean:
    * word-count window, mean-token-length window, minimum stopword ratio
    * (gibberish screen), maximum bigram repetition (boilerplate screen).
    * Each signal is also exposed individually above so a pipeline can log
    * per-rule rejection rates; thresholds are the knobs a curation run
    * sweeps. Zero shuffle — the filter runs inside the scan stage. */
  def gopherKeep(text: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minStopRatio: Double = 0.02, maxRepetition: Double = 0.5): Column =
    tokenCount(text).between(minWords, maxWords) &&
      meanTokenLen(text).between(minMeanLen, maxMeanLen) &&
      stopwordRatio(text) >= minStopRatio &&
      repetitionRatio(text, 2) <= maxRepetition

  /** PII redaction for training corpora: emails, URLs and phone-shaped
    * numbers are replaced with stable placeholder tokens. Pure codegen'd
    * regexp chain (RE2-compatible patterns, so the same rules run on any
    * engine); extend the chain for locale-specific identifiers. */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val url = regexp_replace(email, "https?://[^ ]+", "<URL>")
    regexp_replace(url, "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>")
  }

  /** Overlapping token-window chunks (RAG/embedding prep): windows of
    * `chunkSize` tokens advancing by `chunkSize - overlap`, as an array of
    * chunk strings — fused native kernel (one token split per row), zero
    * shuffle; explode downstream to one row per chunk. */
  def chunkByTokens(text: Column, chunkSize: Int, overlap: Int): Column =
    org.apache.spark.sql.graft.NativeFunctions.tokenChunks(text, chunkSize, overlap)

  /** Pack documents into training context windows by running token budget:
    * within each `group`, documents ordered by `order` are assigned
    * `bin = floor(start_offset / capacity)` where `start_offset` is the
    * running token total BEFORE the document — i.e. a document belongs to
    * the bin its first token lands in. A document that straddles a
    * capacity boundary (including any document longer than `capacity`)
    * therefore overflows its bin, and the consumer splits or truncates at
    * the boundary — the standard offset-packing contract, which keeps the
    * assignment a pure per-row expression over one window cumsum instead
    * of a sequential first-fit scan. One window shuffle per group; bins
    * stream out in order so a downstream writer can emit one training
    * sequence per (group, bin). */
  def packByTokenBudget(df: DataFrame, tokenCol: String, capacity: Int,
      group: Column, order: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(group).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(col(tokenCol)).over(w))
      .withColumn("bin",
        floor((col("__cum") - col(tokenCol)) / capacity).cast(LongType))
      .drop("__cum")
  }

  /** Canonical text for dedup keys: lowercase, strip everything outside
    * `[a-z0-9 ]`, collapse whitespace runs, trim. Exact dedup on
    * `normalizeText(text)` catches case/punctuation re-renders of the
    * same content that byte-exact hashing misses — the cheap first rung
    * below near-dup. Deliberately ASCII-conservative so the
    * transformation is bit-identical across engines (differential
    * testability beats aggressive Unicode folding here; layer a Unicode
    * normalizer on top when the corpus needs it). Zero shuffle. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** HTML → visible text — the crawl-ingest front door (CommonCrawl WET
    * style extraction). Steps, in order:
    *  1. drop `<script>…</script>` and `<style>…</style>` blocks whole
    *     (their content is code, not prose) and `<!-- comments -->`;
    *  2. replace every remaining tag with a space (block boundaries must
    *     not glue words together);
    *  3. decode the five XML entities plus `&nbsp;`/`&apos;` — `&amp;`
    *     LAST, so `&amp;lt;` decodes once to the literal `&lt;` rather
    *     than twice to `<`;
    *  4. collapse whitespace runs, trim.
    * A regex extractor, not an HTML parser — malformed nesting degrades to
    * extra whitespace, never to an error. Pure codegen'd built-ins
    * (`regexp_replace`/`replace`), zero shuffle, and each step mirrors
    * 1:1 into the q136 oracle SQL. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    val decoded = ent.foldLeft(noTags) { case (c, (from, to)) =>
      replace(c, lit(from), lit(to))
    }
    trim(regexp_replace(decoded, "[ \\t\\r\\n]+", " "))
  }

  /** Unicode normalization (default NFC) — the multilingual layer above
    * the ASCII-conservative [[normalizeText]]: composed vs decomposed
    * renderings of identical text byte-differ and defeat exact-hash
    * dedup until normalized. JDK `java.text.Normalizer` via a codegen'd
    * static kernel; ASCII passes through unchanged. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.graft.NativeFunctions.unicodeNormalize(text, form)

  /** Multilingual exact-dedup key: NFC-normalize, lowercase, collapse
    * whitespace runs, trim — [[normalizeText]]'s contract without the
    * ASCII-only folding, for corpora where accents and non-Latin scripts
    * carry the content. */
  def unicodeDedupKey(text: Column): Column =
    trim(regexp_replace(normalizeUnicode(lower(text)), "\\s+", " "))

  /** Per-script codepoint counts (native codegen'd kernel, one pass):
    * `struct<latin,cyrillic,greek,arabic,hebrew,devanagari,cjk,hangul:
    * bigint>`. Classes are fixed public codepoint ranges (not
    * `Character.UnicodeScript`), so any engine reproduces them with
    * regex character classes — the t151 oracle does exactly that. */
  def scriptCounts(text: Column): Column =
    org.apache.spark.sql.graft.NativeFunctions.scriptCounts(text)

  /** Script-mix profile — the curation signal ABOVE [[langId]]: language
    * ID answers "which one language", this answers "how many scripts".
    * Mixed-script documents (Cyrillic look-alike spoofing inside Latin
    * text, CJK spam in an English crawl, boilerplate RTL fragments) are
    * classic junk markers that survive per-language filters.
    *
    * Appends per-script counts plus:
    *  - `script_letters` — total classified codepoints;
    *  - `dominant_script` — the largest class, ties broken by the fixed
    *    class order (latin first), `none` when no codepoint classified;
    *  - `script_purity` — dominant/total, rounded to 6 places (NULL when
    *    `script_letters` = 0): a gate like `purity >= 0.95` flags
    *    mixed-script documents.
    * Zero shuffle — one codegen'd kernel call per row plus built-in
    * column arithmetic on the eight counters. */
  def scriptProfile(df: DataFrame, textCol: String): DataFrame = {
    val fields = Seq("latin", "cyrillic", "greek", "arabic", "hebrew",
      "devanagari", "cjk", "hangul")
    // appended columns must not silently REPLACE caller data (withColumn
    // overwrites same-named columns) — fail loudly instead
    val appended = fields ++
      Seq("script_letters", "dominant_script", "script_purity")
    val clash = df.columns.map(_.toLowerCase).toSet
      .intersect(appended.toSet)
    require(clash.isEmpty,
      s"scriptProfile appends columns ${clash.mkString(", ")} that " +
        "already exist on the input — rename or drop them first")
    val withCounts = df.withColumn("__graft_sc", scriptCounts(col(textCol)))
    val counted = fields.foldLeft(withCounts) { (acc, f) =>
      acc.withColumn(f, col(s"__graft_sc.$f"))
    }.drop("__graft_sc")
    val total = fields.map(col).reduce(_ + _)
    val maxCnt = greatest(fields.map(col): _*)
    // first class (in declaration order) reaching the max wins the tie
    val dominant = fields.foldRight(lit("none")) { (f, acc) =>
      when(col(f) === maxCnt && maxCnt > 0, lit(f)).otherwise(acc)
    }
    // foldRight puts earlier classes OUTERMOST so latin wins ties
    counted
      .withColumn("script_letters", total)
      .withColumn("dominant_script", dominant)
      .withColumn("script_purity",
        when(col("script_letters") === 0, lit(null).cast("double"))
          .otherwise(round(maxCnt.cast("double") /
            col("script_letters").cast("double"), 6)))
  }

  /** [[redactPii]] plus the network/identity shapes the base pass skips:
    * IPv4 addresses, US-SSN-shaped ids, and Luhn-valid payment-card
    * numbers (13–19 digits with optional dash/space separators — the
    * checksum gate lives in a native kernel because a regex cannot
    * express it, and it is what keeps phone numbers and ordinary ids
    * untouched). All codegen'd, zero shuffle. */
  def redactPiiExtended(text: Column): Column = {
    val base = redactPii(text)
    val ip = regexp_replace(base,
      "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
    val ssn = regexp_replace(ip, "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>")
    org.apache.spark.sql.graft.NativeFunctions.redactCardNumbers(ssn)
  }

  /** Deflate compression ratio of the document bytes — the Gopher/Dolma
    * "natural-language statistics" signal the rule gates can't see:
    * templated/repeated text compresses far below prose, random blobs
    * (base64, minified data) sit near 1.0. Codegen'd static-kernel call,
    * thread-local zlib state, zero shuffle. */
  def compressionRatio(text: Column, level: Int = 6): Column =
    org.apache.spark.sql.graft.NativeFunctions.compressionRatio(text, level)

  /** The band gate over [[compressionRatio]]: keep documents whose ratio
    * lies in [minRatio, maxRatio] — below is degenerate repetition,
    * above is incompressible noise. Thresholds are corpus-dependent
    * knobs (prose at level 6 typically lands ~0.3–0.6). */
  def compressionKeep(text: Column, minRatio: Double = 0.1,
      maxRatio: Double = 0.9): Column = {
    val r = compressionRatio(text)
    r >= minRatio && r <= maxRatio
  }

  /** Cross-source score calibration: raw heuristic scores (perplexity,
    * quality, classifier logits) have SOURCE-dependent distributions, so
    * one global threshold over-prunes some sources and under-prunes
    * others. Calibration maps each score to its percent rank WITHIN its
    * group — uniform [0, 1] per group — after which a single global cut
    * keeps the same fraction of every source.
    *
    * Exact form: `percent_rank() = (rank−1)/(n−1)` per group (ties share
    * a rank; a 1-row group calibrates to 0). One shuffle keyed on the
    * group + a per-group sort — fine while every group fits a reducer.
    * When one source is corpus-sized, use [[calibrateScoresApprox]]:
    * same contract, bounded per-group state. */
  def calibrateScores(df: DataFrame, scoreCol: String, groupCol: String,
      outCol: String = "calibrated"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn(outCol, percent_rank().over(
      Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))))
  }

  /** Scale form of [[calibrateScores]]: one `percentile_approx` pass
    * yields `buckets−1` cut points per group (a few KB — groups are
    * sources/languages, never corpus-sized), broadcast back, and the
    * calibrated value is `|cuts ≤ score| / buckets` via a codegen'd
    * array probe. No per-group sort, no group ever concentrates on one
    * reducer; error is bounded by bucket width + the sketch accuracy. */
  def calibrateScoresApprox(df: DataFrame, scoreCol: String,
      groupCol: String, outCol: String = "calibrated",
      buckets: Int = 100, accuracy: Int = 10000): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    val ps = array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*)
    val cuts = df.groupBy(col(groupCol)).agg(
      percentile_approx(col(scoreCol).cast("double"), ps, lit(accuracy))
        .as("__cuts"))
    df.join(broadcast(cuts), Seq(groupCol))
      .withColumn(outCol,
        size(filter(col("__cuts"),
          c => c <= col(scoreCol).cast("double"))).cast("double") / buckets)
      .drop("__cuts")
  }

  /** Keep the top `keepFraction` of each group by score rank (the
    * per-source analogue of a global quantile gate). Uses `cume_dist`
    * (fraction of the group at or below this score), NOT `percent_rank`:
    * percent_rank's ties-FIRST convention assigns a whole tie plateau its
    * lowest rank, so a coarse score distribution (e.g. a rule score with
    * few distinct values) could silently drop an entire top plateau.
    * With cume_dist the boundary plateau always survives — deterministic
    * at-least-fraction semantics: never fewer than the fraction, more
    * only by the width of the boundary tie. */
  def calibratedKeep(df: DataFrame, scoreCol: String, groupCol: String,
      keepFraction: Double): DataFrame = {
    require(keepFraction > 0.0 && keepFraction <= 1.0,
      s"keepFraction in (0,1], got $keepFraction")
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__cd", cume_dist().over(
        Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))))
      .filter(col("__cd") > 1.0 - keepFraction)
      .drop("__cd")
  }

  /** Corpus-wide token frequency table `(token, n)` — exact, and already
    * the 100 TB shape: `explode` is narrow, and the count's map-side
    * combine means the shuffle carries one `(token, partial count)` per
    * DISTINCT token per partition — Zipf says that is vocabulary-sized,
    * not occurrence-sized. No sketch needed for exactness at scale; the
    * bottleneck (hot tokens) is partial aggregation's job, not a
    * reducer's. */
  def tokenFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))

  /** Top-k heavy-hitter tokens with a total tie-break order
    * (count desc, token asc), so the result is deterministic across
    * engines and partitionings; plans as TakeOrderedAndProject (per-
    * partition top-k, k rows to the driver side of the exchange). */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    tokenFrequencies(df, textCol)
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, the public
    * recipe): PageRank over the corpus-wide word-adjacency graph —
    * tokens that co-occur next to many well-connected tokens rank
    * highest, a vocabulary-quality signal that, unlike raw frequency
    * ([[topTokens]]), surfaces structurally central terms. Adjacent
    * token pairs (window 2) are built PER ROW with a zip of two array
    * slices — no window function, no doc id needed — then symmetrized
    * (TextRank's graph is undirected) and ranked by
    * [[graft.operators.Graph.pageRank]]'s damped iteration. Returns the
    * top-k (token, rank), ordered by (rounded rank desc, token) — a
    * total order, so the cut is deterministic across engines.
    *
    * Scale: the pair fan-out is occurrence-sized but collapses to the
    * DISTINCT vocabulary-adjacency graph (Zipf-bounded) before any
    * iteration; each PageRank round is one keyed aggregate over that
    * graph, per [[Graph]]'s contract. */
  def textRankKeywords(df: DataFrame, textCol: String,
      iterations: Int = 10, topK: Int = 25): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val withT = df.select(tokens(col(textCol)).as("__t"))
    val n1 = greatest(size(col("__t")) - 1, lit(0))
    val adj = withT
      .select(explode(arrays_zip(
        slice(col("__t"), lit(1), n1),
        slice(col("__t"), lit(2), n1))).as("__pr"))
      .select(col("__pr").getField("0").as("a"),
        col("__pr").getField("1").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "" && col("a") =!= col("b"))
    val sym = adj.union(adj.select(col("b").as("a"), col("a").as("b")))
    Graph.pageRank(sym, "a", "b", iterations)
      .orderBy(col("rank").desc, col("id"))
      .limit(topK)
      .select(col("id").as("token"), col("rank"))
  }

  /** Vocabulary-growth (Heaps-curve) profile: order the corpus by
    * `idCol`, bucket every `bucketSize` ids, and report per bucket the
    * count of FIRST-SEEN tokens plus the cumulative vocabulary — the
    * saturation signal a curation run reads to decide whether more of
    * the same source still buys new language ("Heaps' law" flattening)
    * or the corpus has gone repetitive. Fully exact: first-seen is a
    * `min(id)` per token, buckets are integer division.
    *
    * Scale: the occurrence explode collapses to the vocabulary-sized
    * first-seen table with map-side combine (min is algebraic); the
    * cumulative window runs over the BUCKETS-sized table — bounded by
    * id-range / bucketSize, never by the corpus. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      bucketSize: Long, ngram: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketSize >= 1, s"bucketSize must be >= 1, got $bucketSize")
    require(ngram >= 1 && ngram <= 5, s"ngram must be in [1,5], got $ngram")
    // n-gram "vocabulary" via a zip of n shifted array slices (per-row,
    // no window): unigrams saturate fast on a narrow corpus; higher n
    // keeps discriminating long after (the Heaps exponent shifts)
    val withT = df.select(col(idCol).as("__id"),
      tokens(col(textCol)).as("__t"))
    val len = greatest(size(col("__t")) - (ngram - 1), lit(0))
    val parts = (0 until ngram).map(i => slice(col("__t"), lit(i + 1), len))
    val fields = (0 until ngram).map(i => col("__g").getField(i.toString))
    val firstSeen = withT
      .select(col("__id"), explode(arrays_zip(parts: _*)).as("__g"))
      .filter(fields.map(_ =!= "").reduce(_ && _))
      .select(col("__id"), concat_ws(" ", fields: _*).as("token"))
      .groupBy(col("token")).agg(min(col("__id")).as("__first"))
    firstSeen
      .groupBy(expr(s"__first div $bucketSize").as("bucket"))
      .agg(count(lit(1)).as("new_tokens"))
      .withColumn("vocab", sum(col("new_tokens")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Top-k heavy-hitter tokens PER GROUP (e.g. per language — the
    * vocabulary-drift view of [[topTokens]]): exact counts, total
    * tie-break order (count desc, token asc) within each group.
    *
    * Scale: the count shuffle is (groups × vocabulary)-sized with
    * map-side combine (Zipf-bounded, never occurrence-sized); the rank
    * window partitions by group over vocabulary-sized input — bounded by
    * the group's vocabulary regardless of corpus size. */
  def topTokensByGroup(df: DataFrame, textCol: String, groupCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("group"))
      .orderBy(col("n").desc, col("token"))
    df.select(col(groupCol).as("group"),
        explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("group"), col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
  }

  /** Corpus profile: one row per (dimension value) per grouping dimension
    * plus a corpus-total row — document count, token and character
    * totals/averages. The summary table a curation run publishes next to
    * its shards (the same numbers `TrainingDataPipeline`'s report tracks
    * per stage, here as a standalone queryable table).
    *
    * Scale: ONE corpus pass — the per-dimension rollups and the total
    * row are grouping sets {(d1), (d2), …, ()} of a single
    * map-side-combined aggregate (a per-dim union of group-bys would
    * scan and tokenize the corpus dims+1 times). Every output is
    * dimension-cardinality-sized (languages, sources — small by nature).
    * All metrics are exact and engine-portable (counts, sums, rounded
    * means) — no sketches, so the table is oracle-checkable. */
  def corpusProfile(df: DataFrame, textCol: String,
      dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "corpusProfile needs at least one dimension")
    val base = df.select(dims.map(col) :+
      org.apache.spark.sql.graft.NativeFunctions.tokenCount(col(textCol))
        .cast(LongType).as("__nt") :+
      length(col(textCol)).cast(LongType).as("__nc"): _*)
    val metrics = Seq(
      count(lit(1)).as("n_docs"),
      sum(col("__nt")).as("total_tokens"),
      round(avg(col("__nt")), 4).as("avg_tokens"),
      sum(col("__nc")).as("total_chars"),
      round(avg(col("__nc")), 4).as("avg_chars"))
    // grouping_id distinguishes "d aggregated away" from "d present with
    // a null value", so null dimension values keep a null key. For the
    // set where ONLY dim i is present, gid = (2^n − 1) − 2^(n−1−i).
    val n = dims.length
    def gidFor(i: Int): Int = ((1 << n) - 1) - (1 << (n - 1 - i))
    val dim = dims.zipWithIndex.foldRight(lit("all")) { case ((d, i), acc) =>
      when(col("__gid") === gidFor(i), lit(d)).otherwise(acc)
    }
    val key = dims.zipWithIndex.foldRight(lit("")) { case ((d, i), acc) =>
      when(col("__gid") === gidFor(i), col(d).cast("string")).otherwise(acc)
    }
    base.groupingSets(
        dims.map(d => Seq(col(d))) :+ Seq.empty[Column], dims.map(col): _*)
      .agg(grouping_id().as("__gid"), metrics: _*)
      .select(dim.as("dim") +: key.as("key") +:
        Seq("n_docs", "total_tokens", "avg_tokens", "total_chars",
          "avg_chars").map(col): _*)
  }

  /** C4-style line keep rule (Raffel et al. 2020 §2.2, the public web-text
    * cleaning recipe): a line survives iff it ends in terminal punctuation
    * (`.` `!` `?` `"`), has at least `minWords` words, and contains none of
    * the boilerplate markers (curly brace, "lorem ipsum", "javascript").
    * Pure per-row predicate — composes into a scan-stage filter. */
  def c4KeepLine(line: Column, minWords: Int = 5): Column = {
    val words = size(filter(split(line, " "), w => w =!= ""))
    val lower_ = lower(line)
    (line.endsWith(".") || line.endsWith("!") ||
      line.endsWith("?") || line.endsWith("\"")) &&
      words >= minWords &&
      !lower_.contains("lorem ipsum") &&
      !lower_.contains("javascript") &&
      !line.contains("{")
  }

  /** C4-style document cleaning: drop bad lines per [[c4KeepLine]],
    * reassemble survivors, and drop documents left with fewer than
    * `minLines` lines. Returns `id`, the cleaned text under the input
    * text column name, `kept_lines`, `total_lines`, and every other
    * input column unchanged (so the cleaner composes into pipelines
    * without re-joining metadata).
    *
    * Zero shuffle — the line split, the filter lambda, and the rejoin are
    * all per-row array expressions (the lambda references only its own
    * variable, so CollapseProject inlining cannot trigger the HOF
    * re-evaluation trap). At 100 TB this is a map-only corpus rewrite;
    * every task cleans its own split. */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
      minWordsPerLine: Int = 5, minLines: Int = 3): DataFrame = {
    // The output reserves these names; a passthrough column with one of
    // them would silently collide (or make the id reference ambiguous).
    val reserved = (Set("id", "kept_lines", "total_lines") - idCol)
      .intersect(df.columns.toSet)
    require(reserved.isEmpty,
      s"c4Clean reserves output columns ${reserved.mkString(", ")} — " +
        "rename them on the input first")
    val others = df.columns.toSeq
      .filterNot(c => c == idCol || c == textCol).map(col)
    df.select(col(idCol).as("id") +: split(col(textCol), "\n").as("__lines")
        +: others: _*)
      .select(col("id") +:
        filter(col("__lines"), l => c4KeepLine(l, minWordsPerLine)).as("__kept") +:
        size(col("__lines")).as("total_lines") +: others: _*)
      .filter(size(col("__kept")) >= minLines)
      .select(col("id") +: concat_ws("\n", col("__kept")).as(textCol) +:
        size(col("__kept")).cast(LongType).as("kept_lines") +:
        col("total_lines").cast(LongType).as("total_lines") +: others: _*)
  }

  /** Per-document n-gram novelty against a reference corpus — the standard
    * memorization / overlap metric (e.g. the "novel n-gram fraction" of
    * GPT-2/3-style contamination analyses): the fraction of a document's
    * n-gram OCCURRENCES whose n-gram never appears in `base`. Exact copies
    * of base documents score 0; fully unseen text scores 1; documents
    * shorter than n tokens have no n-grams and score null.
    *
    * Scale shape: both sides explode to n-grams narrowly; with
    * `hashed = true` (the 100 TB default) the join keys are `xxhash64` of
    * the gram so the wide exchange carries 8-byte longs, never gram
    * strings — a collision can only under-count novelty by ~2^-64.
    * `hashed = false` keeps exact strings for engine-differential testing.
    * The base set is distinct (vocabulary-bounded, map-side combined); the
    * per-doc rollup is the only corpus-wide aggregate. */
  def ngramNovelty(docs: DataFrame, base: DataFrame, idCol: String,
      textCol: String, n: Int = 8, hashed: Boolean = true,
      roundTo: Int = 5): DataFrame = {
    require(n >= 2, s"ngramNovelty needs n >= 2, got $n")
    def grams(df: DataFrame, withId: Boolean): DataFrame = {
      val fields = (0 until n).map(j => col("__g").getField(s"g$j"))
      val ids = if (withId) Seq(col("id")) else Nil
      df.select((if (withId) Seq(col(idCol).as("id")) else Nil) :+
          tokens(col(textCol)).as("__toks"): _*)
        .select(ids :+
          explode(LanguageModel.ngrams(col("__toks"), n)).as("__g"): _*)
        .select(ids :+ concat_ws(" ", fields: _*).as("__gram"): _*)
    }
    val key: Column => Column =
      if (hashed) (c: Column) => xxhash64(c) else identity
    val baseSet = grams(base, withId = false)
      .select(key(col("__gram")).as("__bg")).distinct()
    val docGrams = grams(docs, withId = true)
      .select(col("id"), key(col("__gram")).as("__dg"))
    val counted = docGrams
      .join(baseSet, docGrams("__dg") === baseSet("__bg"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("__bg").isNull, 1)).as("novel_grams"))
    // restore gram-less documents (shorter than n tokens) with null novelty
    docs.select(col(idCol).as("id"))
      .join(counted, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("novel_grams"), lit(0L)).as("novel_grams"),
        round(col("novel_grams").cast(DoubleType) /
          col("n_grams").cast(DoubleType), roundTo).as("novelty"))
  }

  /** Per-document lexical diversity: token count, type (distinct
    * token) count, type-token ratio, and Guiraud's root TTR
    * (`types/√tokens` — the length-corrected form; raw TTR decays
    * mechanically with length, so filters comparing documents of
    * different sizes should cut on root TTR). The "is this text
    * varied or a word-loop?" quality feature next to the Gopher
    * repetition rules.
    *
    * Scale: one (doc, term) posting aggregate with map-side combine,
    * then a doc-keyed reduction; both ratios are single divisions of
    * exact counts (√ is correctly rounded). */
  def lexicalDiversity(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col("id"), col("__t"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("id"))
      .agg(sum(col("__n")).as("n_tokens"), count(lit(1)).as("n_types"))
      .select(col("id"), col("n_tokens"), col("n_types"),
        (col("n_types").cast(DoubleType) /
          col("n_tokens").cast(DoubleType)).as("ttr"),
        (col("n_types").cast(DoubleType) /
          sqrt(col("n_tokens").cast(DoubleType))).as("root_ttr"))

  /** Per-group hapax-legomena rate: vocabulary size, tokens, the count
    * of terms occurring exactly once IN THAT GROUP, and their share of
    * the vocabulary. A healthy natural-language source runs ~40–60%
    * hapax (Zipf); machine-generated or template text collapses far
    * below, OCR/mojibake noise runs far above — the vocabulary-health
    * screen beside [[vocabularyGrowth]].
    *
    * Scale: one (group, term) count aggregate (map-side combined),
    * one group-sized reduction, one division. */
  def hapaxRate(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame =
    docs
      .filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("group"),
        explode(tokens(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col("group"), col("__t"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("group"))
      .agg(sum(col("__n")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("__n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("group"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        (col("n_hapax").cast(DoubleType) /
          col("n_types").cast(DoubleType)).as("hapax_rate"))

  /** Jensen–Shannon divergence between each pair of group unigram
    * distributions — the frequency-aware corpus-similarity measure
    * next to the Jaccard overlap report (Jaccard sees shared TYPES;
    * JS sees how differently the groups USE them): symmetric, bounded
    * in [0, ln 2], 0 = identical mixtures. The mixture-planning signal
    * for "are these two crawls redundant sources?".
    *
    * Engine-exactness: the disjoint-support mass needs no per-term
    * arithmetic at all — `Σ_{q=0} p·ln(p/(p/2)) = ln2·(1 − covA)`
    * where `covA` is A's probability mass on the SHARED vocabulary
    * (one exact integer ratio); each shared-term contribution routes
    * `p·round(ln(p/m), 9)` (the repo's ulp-absorption discipline, so
    * both engines multiply identical doubles) through
    * `floor(x·10¹² + 0.5)` pico-unit integers whose sum is order-free.
    * The reported js is one fixed double expression, rounded to 9.
    *
    * Pairs sharing NO terms never reach the join and are absent from
    * the output — absence IS the maximal-divergence (ln 2) verdict;
    * outer-join the group pair grid downstream if the report must
    * render them explicitly.
    *
    * Scale: one (group, term) count aggregate, a term-keyed pair join
    * bounded by group count per term (groups are few), group-pair
    * reductions after. */
  def jsDivergence(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val posts = docs
      .filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("__s"),
        explode(tokens(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col("__s"), col("__t"))
      .agg(count(lit(1)).as("__n"))
      .transform(CheckpointOps(_, eager = false)) // totals + the pair join
    val tot = posts.groupBy(col("__s")).agg(sum(col("__n")).as("__N"))
    val ln2 = log(lit(2.0))
    val pairs = posts.as("a")
      .join(posts.as("b"),
        col("a.__t") === col("b.__t") && col("a.__s") < col("b.__s"))
      .join(broadcast(tot).select(col("__s").as("__sa"),
        col("__N").as("__NA")), col("a.__s") === col("__sa"))
      .join(broadcast(tot).select(col("__s").as("__sb"),
        col("__N").as("__NB")), col("b.__s") === col("__sb"))
    val pE = col("a.__n").cast(DoubleType) / col("__NA").cast(DoubleType)
    val qE = col("b.__n").cast(DoubleType) / col("__NB").cast(DoubleType)
    val mE = (pE + qE) / lit(2.0)
    def pico(x: Column): Column =
      floor(x * lit(1000000000000.0) + lit(0.5)).cast("long")
    val agg = pairs
      .groupBy(col("a.__s").as("source_a"), col("b.__s").as("source_b"))
      .agg(count(lit(1)).as("n_shared_terms"),
        sum(pico(pE * round(log(pE / mE), 9))).as("__sa9"),
        sum(pico(qE * round(log(qE / mE), 9))).as("__sb9"),
        sum(col("a.__n")).as("__shA"), sum(col("b.__n")).as("__shB"),
        first(col("__NA")).as("__NA"), first(col("__NB")).as("__NB"))
    agg.select(col("source_a"), col("source_b"), col("n_shared_terms"),
      round(
        lit(0.5) * (col("__sa9").cast(DoubleType) / lit(1e12) +
          ln2 * (lit(1.0) -
            col("__shA").cast(DoubleType) / col("__NA").cast(DoubleType))) +
        lit(0.5) * (col("__sb9").cast(DoubleType) / lit(1e12) +
          ln2 * (lit(1.0) -
            col("__shB").cast(DoubleType) / col("__NB").cast(DoubleType))),
        9).as("js"))
  }

  /** Per-document duplicated-n-gram fraction — the RefinedWeb/Gopher
    * "fraction of the document made of corpus-repeated n-grams" quality
    * signal that [[ngramNovelty]] cannot express (novelty scores
    * against a SEPARATE base corpus; this scores repetition WITHIN the
    * corpus itself — boilerplate, templates, and mass-duplicated
    * passages light up even when no other single document matches
    * wholesale). For each document: `n_grams` sliding word n-grams,
    * `dup_grams` of them occurring in ≥ `minDf` DISTINCT documents,
    * and their ratio (weighting by occurrence, the filter convention).
    * Documents shorter than n tokens report 0 grams and NULL ratio.
    *
    * Scale shape: gram occurrences go POSTING-style (explode → one
    * gram-keyed document-frequency aggregate over DISTINCT (gram, doc)
    * — map-side combinable — then one join back on the gram key);
    * `hashed = true` (default) keys the exchange by xxhash64 so the
    * shuffle carries 8 B, not gram text — the [[ngramNovelty]]
    * discipline. The corpus text is read once. */
  def dupGramFraction(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDf: Long = 2L, hashed: Boolean = true,
      roundTo: Int = 5): DataFrame = {
    require(n >= 2, s"dupGramFraction needs n >= 2, got $n")
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val fields = (0 until n).map(j => col("__g").getField(s"g$j"))
    val key: Column => Column =
      if (hashed) (c: Column) => xxhash64(c) else identity
    val occ = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode(LanguageModel.ngrams(col("__toks"), n)).as("__g"))
      .select(col("id"), key(concat_ws(" ", fields: _*)).as("__k"))
      // df aggregate + the join back
      .transform(CheckpointOps(_, eager = false))
    val docFreq = occ.distinct()
      .groupBy(col("__k")).agg(count(lit(1)).as("__df"))
    val counted = occ.join(docFreq, Seq("__k"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("__df") >= minDf, 1)).as("dup_grams"))
    docs.select(col(idCol).as("id"))
      .join(counted, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        // explicit NULL for gram-less docs: double 0/0 would be NaN
        when(col("n_grams").isNull, lit(null).cast(DoubleType))
          .otherwise(round(col("dup_grams").cast(DoubleType) /
            col("n_grams").cast(DoubleType), roundTo))
          .as("dup_fraction"))
  }

  /** Per-document TF-IDF keyword extraction — "what is this document
    * ABOUT": the top-`k` terms by `tf · (ln((N+1)/(df+1)) + 1)`
    * (smoothed idf, sklearn's convention — the +1s keep corpus-wide
    * terms at a positive floor instead of exactly zero, so a document
    * made ONLY of stopwords still yields keywords). The ranking
    * compares ROUNDED scores (6 places) with the term string as
    * tie-break, so the extracted keyword set is engine-reproducible —
    * raw-double ordering would let a last-ULP `ln` difference flip a
    * rank cut.
    *
    * Scale shape: one (doc, term) posting aggregate (map-side
    * combined), a term-keyed document-frequency aggregate over THAT
    * (never the raw tokens), a broadcast 1-row corpus count, and a
    * per-document rank window bounded by the doc's vocabulary. The
    * corpus text is read once. */
  def tfidfTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      // df-count side + the score join
      .transform(CheckpointOps(_, eager = false))
    val docFreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val total = df.agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(docFreq, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("score",
        round(col("tf").cast(DoubleType) *
          (log((col("__n") + 1).cast(DoubleType) /
            (col("df") + 1).cast(DoubleType)) + 1.0), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank").cast(LongType).as("rank"),
        col("term"), col("score"))
  }

  /** Code-vs-prose signals per document — the router a mixed crawl
    * needs before language-specific quality rules (prose thresholds
    * reject good code and vice versa): exact counts of code-indicative
    * characters (braces/semicolons/operators), their ratio, and a
    * conservative `looks_code` flag (symbol density + at least one
    * structural brace-or-semicolon). Pure length/replace arithmetic —
    * zero shuffle, engine-portable to the bit (each count is
    * `length(text) − length(replace(text, ch, ''))`, the expression an
    * external SQL engine reproduces verbatim).
    *
    * Scale: map-only expressions inside the scan stage. */
  def codeSignals(df: DataFrame, idCol: String, textCol: String,
      minRatio: Double = 0.03): DataFrame = {
    val t = col(textCol)
    // plain (non-regex) replace: the same `replace(text, ch, '')` call
    // exists verbatim in external SQL engines
    def cnt(ch: String): Column =
      (length(t) - length(call_function("replace", t, lit(ch), lit(""))))
        .cast("long")
    val structural = Seq("{", "}", ";")
    val operators = Seq("(", ")", "=", "<", ">", "[", "]")
    val structCnt = structural.map(cnt).reduce(_ + _)
    val symCnt = (structural ++ operators).map(cnt).reduce(_ + _)
    df.select(col(idCol).as("doc_id"),
        length(t).cast("long").as("n_chars"),
        structCnt.as("structural_chars"),
        symCnt.as("symbol_chars"))
      .withColumn("symbol_ratio",
        when(col("n_chars") === 0L, lit(0.0d))
          .otherwise(col("symbol_chars").cast(DoubleType) /
            col("n_chars").cast(DoubleType)))
      .withColumn("looks_code",
        col("symbol_ratio") >= minRatio && col("structural_chars") > 0L)
  }

  /** Per-document encoding-anomaly (mojibake) signals — the corruption
    * screen [[scriptProfile]] can't see because mojibake IS valid
    * Unicode: U+FFFD replacement characters (a decoder already gave
    * up), C1 control characters U+0080–U+009F (Latin-1 bytes read as
    * code points — never legitimate in text), and the classic
    * UTF-8-read-as-Latin-1 digraphs ("Ã©" for é, "â€™" for ’, ...)
    * counted from a FIXED literal artifact table (deterministic and
    * auditable, unlike a heuristic byte model). Returns one row per
    * document: (doc_id, n_chars, replacement_chars, c1_controls,
    * latin1_digraphs, artifacts_per_1000) — all pure column
    * expressions, zero shuffle.
    *
    * Reference anchor: the charset-sensitive text decode paths of
    * `flume-plugin/.../DelimitedTextSerializer.java:63-92` — this is
    * the audit for when that decode step picked the wrong charset. */
  def mojibakeSignals(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = col(textCol)
    def occurrences(s: String): Column =
      ((length(t) - length(call_function("replace", t, lit(s), lit("")))) /
        lit(s.length)).cast("long")
    // the high-frequency Latin-1/Windows-1252 mis-decode artifacts,
    // spelled as \\u escapes (several contain INVISIBLE C1 code
    // points): accented Latin letters (U+00C3 + continuation) and the
    // U+00E2-prefixed punctuation family from U+2018..U+2026
    val digraphs = Seq(
      "\u00C3\u00A9", "\u00C3\u00A8", "\u00C3\u00A1", // e-acute/grave, a-acute
      "\u00C3\u00B3", "\u00C3\u00BA", "\u00C3\u00B1", // o/u-acute, n-tilde
      "\u00C3\u00A4", "\u00C3\u00B6", "\u00C3\u00BC", // a/o/u-umlaut
      "\u00C3\u00A7",                                     // c-cedilla
      "\u00E2\u0080\u0099", "\u00E2\u0080\u0098",     // curly quotes
      "\u00E2\u0080\u009C", "\u00E2\u0080\u009D",     // curly dquotes
      "\u00E2\u0080\u0093", "\u00E2\u0080\u0094",     // en/em dash
      "\u00E2\u0080\u00A6",                              // ellipsis
      "\u00C2\u00A0", "\u00C2\u00AB", "\u00C2\u00BB") // nbsp, guillemets
    val repl = occurrences("\uFFFD")
    val c1 = (length(t) -
      length(regexp_replace(t, "[\u0080-\u009F]", ""))).cast("long")
    // digraph occurrences overlap the C1 count (the U+00E2 family
    // carries a C1 code point inside): both are emitted raw, and the
    // per-1000 score sums all three counters -- an UPPER bound on
    // corrupted spans, the right polarity for a corruption screen
    val digraphCnt = digraphs.map(occurrences).reduce(_ + _)
    df.select(col(idCol).as("doc_id"),
        length(t).cast("long").as("n_chars"),
        repl.as("replacement_chars"),
        c1.as("c1_controls"),
        digraphCnt.as("latin1_digraphs"))
      .withColumn("artifacts_per_1000",
        when(col("n_chars") === 0L, lit(0.0d))
          .otherwise((col("replacement_chars") + col("c1_controls") +
            col("latin1_digraphs")).cast(DoubleType) * 1000.0 /
            col("n_chars").cast(DoubleType)))
  }

  /** Corpus encoding-anomaly rollup over [[mojibakeSignals]]: ONE row
    * (docs, flagged_docs, replacement_total, c1_total, latin1_total,
    * flagged_rate) — a document is flagged when its artifact density
    * exceeds `per1000Threshold` per 1000 characters. The report a
    * 100 TB ingest gates on before paying a re-decode pass; exact
    * integer totals, two double divisions at the end. */
  def mojibakeProfile(df: DataFrame, idCol: String, textCol: String,
      per1000Threshold: Double = 1.0): DataFrame = {
    mojibakeSignals(df, idCol, textCol)
      .agg(count(lit(1)).as("docs"),
        sum(when(col("artifacts_per_1000") > per1000Threshold, 1L)
          .otherwise(0L)).as("flagged_docs"),
        sum(col("replacement_chars")).as("replacement_total"),
        sum(col("c1_controls")).as("c1_total"),
        sum(col("latin1_digraphs")).as("latin1_total"))
      .withColumn("flagged_rate",
        when(col("docs") === 0L, lit(0.0d))
          .otherwise(col("flagged_docs").cast(DoubleType) /
            col("docs").cast(DoubleType)))
  }

  /** Taxonomy lexicon screen — per-document, per-category hit counts
    * against broadcast category word lists (safety lexicons, domain
    * routers, topic taggers): the screen that decides "route doc X to
    * the medical-review queue" before any model runs. Tokenization is
    * lowercase alphabetic runs (`[^a-z]+` splits after lower-casing),
    * so lexicon entries must be lowercase single words. Returns one
    * row per (doc, category) WITH at least one hit: (doc_id, category,
    * hits, distinct_terms, n_tokens, hit_rate) — absent categories are
    * zero by construction and are not materialized (the output is
    * hits-sized, not docs×categories).
    *
    * Scale: the token explode stays map-side — the lexicon join is a
    * BROADCAST inner join that drops every non-hit token before any
    * exchange, so shuffle volume is hits-only. The per-doc token total
    * is `size()` of the filtered split array, computed per ROW before
    * the explode and carried on the (hits-only) surviving rows into the
    * same aggregate — no second corpus pass, and NOTHING corpus-sized
    * is cached (an earlier cut localCheckpointed the full exploded
    * token set, which at 100 TB would have been the dominant cost). */
  def lexiconScreen(df: DataFrame, idCol: String, textCol: String,
      lexicon: Map[String, Seq[String]]): DataFrame = {
    require(lexicon.nonEmpty, "lexiconScreen needs at least one category")
    lexicon.foreach { case (cat, words) =>
      require(words.nonEmpty, s"lexicon category '$cat' is empty")
      words.foreach(w => require(w.matches("[a-z]+"),
        s"lexicon entries must be lowercase single words, got '$w' in '$cat'"))
    }
    val spark = df.sparkSession
    import spark.implicits._
    val lex = lexicon.toSeq.sortBy(_._1)
      .flatMap { case (cat, ws) => ws.distinct.map(w => (w, cat)) }
      .toDF("__w", "category")
    val toks = df
      .select(col(idCol).as("doc_id"),
        filter(split(lower(col(textCol)), "[^a-z]+"),
          t => t =!= "").as("__ts"))
      .select(col("doc_id"),
        size(col("__ts")).cast("long").as("n_tokens"),
        explode(col("__ts")).as("__w"))
    toks.join(broadcast(lex), Seq("__w"))
      .groupBy(col("doc_id"), col("category"))
      .agg(count(lit(1)).as("hits"),
        countDistinct(col("__w")).as("distinct_terms"),
        // constant per doc by construction; max() folds it through the
        // aggregate without a totals join
        max(col("n_tokens")).as("n_tokens"))
      .select(col("doc_id"), col("category"), col("hits"),
        col("distinct_terms"), col("n_tokens"),
        (col("hits").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("hit_rate"))
      .orderBy(col("doc_id"), col("category"))
  }

  /** Zipf's-law fit over the top-k token frequencies: OLS slope of
    * ln(freq) against ln(rank) — natural text sits near −1; a corpus
    * whose slope drifts toward 0 is template/boilerplate-heavy, one
    * far below −1 is dominated by a tiny vocabulary (both are data-mix
    * red flags a mean length can't see). Returns ONE row
    * (k, slope, intercept, r2).
    *
    * Exactness route: ranks and counts are exact integers; each ln is
    * rounded to 9 decimals and CAST to decimal(28,12) — the double is
    * within ~1e-15 of the 9-decimal value, so both engines' double→
    * decimal casts agree at scale 12 — making every OLS sum an exact
    * decimal; slope/intercept/r² are fixed double expressions at the
    * end. (libm ln agrees bit-for-bit across both engines on this
    * platform — the t193 TF-IDF gate pins that.)
    *
    * Scale: exact counts are one corpus pass with map-side combine;
    * top-k is TakeOrderedAndProject; everything after runs on k rows. */
  def zipfFit(df: DataFrame, textCol: String, k: Int = 100): DataFrame = {
    require(k >= 3, s"need k >= 3 points to fit, got $k")
    // (14,12) points make the cross-products (29,24) — inside 38 digits
    // in both engines with no scale adjustment (ln values < 100)
    val d12 = "decimal(14,12)"
    val top = topTokens(df, textCol, k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("token"))))
    val pts = top.select(
      round(log(col("rank").cast(DoubleType)), 9).cast(d12).as("__x"),
      round(log(col("n").cast(DoubleType)), 9).cast(d12).as("__y"))
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val s = pts.agg(count(lit(1)).as("__k"),
      sum(col("__x")).cast("decimal(38,12)").as("__sx"),
      sum(col("__y")).cast("decimal(38,12)").as("__sy"),
      sum((col("__x") * col("__y")).cast("decimal(38,24)"))
        .cast("decimal(38,24)").as("__sxy"),
      sum((col("__x") * col("__x")).cast("decimal(38,24)"))
        .cast("decimal(38,24)").as("__sxx"),
      sum((col("__y") * col("__y")).cast("decimal(38,24)"))
        .cast("decimal(38,24)").as("__syy"))
    val n = col("__k").cast("double")
    val (sx, sy) = (dbl(col("__sx")), dbl(col("__sy")))
    val (sxy, sxx, syy) = (dbl(col("__sxy")), dbl(col("__sxx")),
      dbl(col("__syy")))
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    val denY = n * syy - sy * sy
    s.select(col("__k").as("k"),
      when(den === 0.0, lit(null).cast("double"))
        .otherwise(num / den).as("slope"),
      when(den === 0.0, lit(null).cast("double"))
        .otherwise((sy - (num / den) * sx) / n).as("intercept"),
      when(den === 0.0 || denY === 0.0, lit(null).cast("double"))
        .otherwise(num * num / (den * denY)).as("r2"))
  }

  /** Exact pairwise vocabulary overlap between corpus slices ("how much
    * does source A's vocabulary share with source B's?") — the
    * source-mixture diagnostic behind dedup-across-sources decisions
    * and the exact companion of the theta-sketch overlap (t133): below
    * sketch capacity the two must agree, above it only this one is
    * exact. One row per unordered group pair with a shared token:
    * (group_a, group_b, n_a, n_b, intersection, jaccard) —
    * |A|, |B|, |A∩B| exact integers, jaccard ONE double division.
    *
    * Scale: the distinct (group, token) table is vocabulary-sized (one
    * corpus pass, map-side combined); the pair expansion joins that
    * table against itself ON TOKEN, so each token fans out to at most
    * G²/2 pairs where G = number of groups — bounded by the group
    * count, never by corpus size. The groupBy output is G²-sized. */
  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val toks = df
      .select(col(groupCol).as("g"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
      // sizes + both sides of pair join
      .transform(CheckpointOps(_, eager = false))
    val sizes = toks.groupBy(col("g")).agg(count(lit(1)).as("n"))
    toks.as("a")
      .join(toks.as("b"),
        col("a.token") === col("b.token") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("group_a"), col("b.g").as("group_b"))
      .agg(count(lit(1)).as("intersection"))
      .join(broadcast(sizes.select(col("g").as("group_a"),
        col("n").as("n_a"))), Seq("group_a"))
      .join(broadcast(sizes.select(col("g").as("group_b"),
        col("n").as("n_b"))), Seq("group_b"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("intersection"),
        (col("intersection").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("intersection"))
            .cast(DoubleType)).as("jaccard"))
  }

  /** Flesch reading-ease readability per document — the classic
    * text-difficulty score (206.835 − 1.015·words/sentences −
    * 84.6·syllables/words), a standard quality-mix signal next to the
    * Gopher/C4 heuristics: training mixes are often balanced by
    * readability band, and a corpus whose score collapses is
    * boilerplate/code contaminated.
    *
    * Counting is deliberately engine-portable, not linguistically
    * perfect: words = non-empty space-split tokens; sentences =
    * occurrences of `.`/`!`/`?` via plain `replace()` length
    * arithmetic (min 1 so the ratio exists); syllables = vowel GROUPS
    * (`[aeiouy]+` runs in the lowercased text, each run ≈ one
    * syllable — the standard heuristic) counted by collapsing runs to
    * one marker with a global regexp_replace and differencing
    * lengths. All three are exact integers; the score is a fixed
    * double expression over them (two divisions), display-rounded to
    * 6. Zero-word docs report NULL score.
    *
    * Scale: zero shuffle — one projection, embarrassingly parallel,
    * all inside codegen. Returns (doc_id, n_words, n_sentences,
    * n_syllables, flesch). */
  def readability(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = col(textCol)
    def cnt(ch: String): Column =
      (length(t) - length(call_function("replace", t, lit(ch), lit(""))))
        .cast("long")
    val words = size(filter(split(t, " "), w => w =!= ""))
      .cast("long")
    val sentences = greatest(Seq(".", "!", "?").map(cnt).reduce(_ + _),
      lit(1L))
    // collapse every vowel run to one 'V' marker and count markers —
    // uppercase 'V' cannot occur in the LOWERCASED text, so the
    // marker never collides with content
    val collapsed = regexp_replace(lower(t), "[aeiouy]+", "V")
    val syllables = (length(collapsed) -
      length(call_function("replace", collapsed, lit("V"),
        lit("")))).cast("long")
    df.select(col(idCol).as("doc_id"), words.as("n_words"),
        sentences.as("n_sentences"), syllables.as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") === 0L, lit(null).cast(DoubleType))
          .otherwise(round(lit(206.835) -
            lit(1.015) * (col("n_words").cast(DoubleType) /
              col("n_sentences").cast(DoubleType)) -
            lit(84.6) * (col("n_syllables").cast(DoubleType) /
              col("n_words").cast(DoubleType)), 6)))
  }

  /** RAKE keyphrase extraction over a corpus (Rose et al. 2010's
    * Rapid Automatic Keyword Extraction, the classic unsupervised
    * baseline): candidate phrases are maximal stopword-free token
    * runs; each word scores `degree/frequency` (degree = Σ lengths of
    * the phrases it appears in, frequency = its occurrences — both
    * weighted by phrase multiplicity); a phrase scores the sum of its
    * words' scores. Returns the corpus top-k (phrase, n, n_words,
    * score).
    *
    * Shape: phrases collapse to (phrase, n) FIRST (one count
    * aggregate — all later passes run at distinct-phrase scale, not
    * occurrence scale); word stats are one posting-style
    * explode + sum; phrase scores re-join word scores and sum
    * pico-quantized integers (order-free — a raw double sum over
    * words would be partitioning-dependent). Top-k is
    * orderBy + limit (TakeOrderedAndProject — never a global sort
    * materialization). Multi-token phrases cap at `maxPhraseLen`
    * (RAKE's convention; unbounded runs are boilerplate, not
    * keyphrases). */
  def keyphrases(df: DataFrame, textCol: String, topK: Int = 50,
      maxPhraseLen: Int = 4): DataFrame = {
    require(topK >= 1 && topK <= 10000,
      s"topK must be in [1, 10000], got $topK")
    require(maxPhraseLen >= 1 && maxPhraseLen <= 10,
      s"maxPhraseLen must be in [1, 10], got $maxPhraseLen")
    val toks = filter(split(lower(col(textCol)), " "), w => w =!= "")
    // stopwords become phrase delimiters; consecutive content words
    // re-join into candidate phrases
    val tagged = transform(toks, w =>
      when(w.isInCollection(StopWords), lit("\u0001")).otherwise(w))
    val phrases = filter(
      transform(split(concat_ws(" ", tagged), "\u0001"), p => trim(p)),
      p => p =!= "")
    val phraseTable = df
      .filter(col(textCol).isNotNull)
      .select(explode(phrases).as("phrase"))
      .filter(size(split(col("phrase"), " ")) <= maxPhraseLen)
      .groupBy(col("phrase")).agg(count(lit(1)).as("n"))
      .withColumn("__words", split(col("phrase"), " "))
      .withColumn("__len", size(col("__words")))
      .transform(CheckpointOps(_, eager = false)) // word stats + score join
    val wordStats = phraseTable
      .select(explode(col("__words")).as("__w"), col("n"), col("__len"))
      .groupBy(col("__w"))
      .agg(sum(col("n") * col("__len")).as("__deg"),
        sum(col("n")).as("__freq"))
      .select(col("__w"),
        // pico-quantized word score: phrase scores sum these as exact
        // integers, so the total is order-free
        floor((col("__deg").cast("double") / col("__freq").cast("double"))
          * lit(1000000000000.0) + 0.5).cast("long").as("__ws"))
    phraseTable
      .select(col("phrase"), col("n"), col("__len"),
        explode(col("__words")).as("__w"))
      .join(wordStats, Seq("__w"))
      .groupBy(col("phrase"))
      .agg(first(col("n")).as("n"), first(col("__len")).as("n_words"),
        sum(col("__ws")).as("__s"))
      .select(col("phrase"), col("n"), col("n_words"),
        round(col("__s").cast("double") / 1000000000000.0, 9)
          .as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topK)
  }
}
