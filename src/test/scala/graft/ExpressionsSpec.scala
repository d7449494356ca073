package graft

import org.apache.spark.sql.functions._

import graft.functions.{Aggregators, VectorFunctions}
import org.apache.spark.sql.graft.NativeFunctions
import graft.operators.Dedup

class ExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("native cosine matches the higher-order-function formulation") {
    val emb = Tables.embeddings(spark, sf).limit(200)
    val q = emb.filter($"vec_id" === 0).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    val both = emb.select(
      NativeFunctions.cosineSim($"embedding", VectorFunctions.vec(q)).as("native"),
      VectorFunctions.cosineHof($"embedding", VectorFunctions.vec(q)).as("hof"))
    val rows = both.collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("cosine/dot are NULL on length mismatch or null elements, like the spec") {
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
      (3L, Seq[java.lang.Double](1.0), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("id", "a", "b")
    val rows = df.select($"id",
        NativeFunctions.cosineSim($"a", $"b").as("c"),
        NativeFunctions.dotProduct($"a", $"b").as("d"))
      .orderBy("id").collect()
    assert(!rows(0).isNullAt(1) && !rows(0).isNullAt(2))
    assert(math.abs(rows(0).getDouble(2) - 11.0) < 1e-12)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2), "null element must be NULL")
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2), "dim mismatch must be NULL")
  }

  test("native simhash64 matches the column formulation") {
    val docs = Tables.documents(spark, sf).limit(100)
    val both = docs.select(
      NativeFunctions.simhash64($"text").as("native"),
      Dedup.simhash64($"text").as("hof"))
    both.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native token_count matches split-size") {
    val docs = Tables.documents(spark, sf).limit(100)
    val both = docs.select(
      NativeFunctions.tokenCount($"text").as("native"),
      size(split($"text", " ")).as("hof"))
    both.collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("expressions are SQL-registrable and codegen survives") {
    NativeFunctions.register(spark)
    Tables.documents(spark, sf).limit(10).createOrReplaceTempView("docs_expr")
    val out = spark.sql(
      """SELECT token_count(text) AS tc, simhash64(text) AS sh,
        | size(shingle_hashes(text, 3)) AS nsh,
        | size(minhash_signature(text, 5, 32)) AS nsig,
        | size(minhash_bands(text, 5, 32, 8)) AS nb,
        | subword_count(text) AS sw, token_fingerprint(text) AS fp,
        | shingle_distinct_count(text, 3) AS sdc
        |FROM docs_expr""".stripMargin)
    assert(out.count() == 10)
    val h = out.head()
    assert(h.getInt(0) > 0 && h.getInt(2) > 0 && h.getInt(3) == 32 && h.getInt(4) == 8)
    assert(h.getInt(5) > 0 && h.getInt(7) == h.getInt(2))
  }

  test("a GraftSession session resolves the whole SQL function table " +
      "without register, and integer arguments reject a DATE literal") {
    // a fresh session: extension-injected functions only, no temp
    // functions from `register` calls elsewhere in the suite
    val s = spark.newSession()
    NativeFunctions.sqlFunctions.foreach { case (name, _) =>
      assert(s.catalog.functionExists(name), name)
      assert(s.sql(s"DESCRIBE FUNCTION $name").collect().nonEmpty, name)
    }
    assert(s.sql("SELECT size(minhash_signature('a b c d e f', 4, 64))")
      .head().getInt(0) === 64)
    val dateAsCount =
      "SELECT minhash_signature('a b c d e f', DATE'1970-01-05', 64)"
    def literalError(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage)
          .contains("expected integer literal"))
    assert(literalError(intercept[Exception](s.sql(dateAsCount).collect())))
    NativeFunctions.register(s)
    assert(literalError(intercept[Exception](s.sql(dateAsCount).collect())))
  }

  test("fused text-signal kernels match their HOF specs (incl. edge cases)") {
    import graft.operators.TextAnalysis
    val edge = Seq("", "x", "the", "the the the", "a  b", " leading",
      "trailing ").toDF("text")
    val docs = Tables.documents(spark, sf).select($"text").limit(300)
      .unionByName(edge)
    val both = docs.select(
      TextAnalysis.stopwordRatio($"text").as("sr_f"),
      TextAnalysis.stopwordRatioHof($"text").as("sr_h"),
      TextAnalysis.meanTokenLen($"text").as("ml_f"),
      TextAnalysis.meanTokenLenHof($"text").as("ml_h"),
      TextAnalysis.langId($"text").as("li_f"),
      TextAnalysis.langIdHof($"text").as("li_h"),
      org.apache.spark.sql.graft.NativeFunctions
        .shingleDistinctCount($"text", 2).as("sd_f"),
      size(NativeFunctions.shingleHashes($"text", 2)).as("sd_h"),
      TextAnalysis.subwordCount($"text").as("sw_f"),
      TextAnalysis.subwordCountHof($"text").as("sw_h"),
      TextAnalysis.fingerprint($"text").as("fp_f"),
      TextAnalysis.fingerprintHof($"text").as("fp_h"))
    both.collect().foreach { r =>
      def d(i: Int) = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
      assert(d(0) == d(1) || (d(0).isNaN && d(1).isNaN))
      assert(d(2) == d(3) || (d(2).isNaN && d(3).isNaN))
      assert(r.getString(4) == r.getString(5))
      assert(r.getInt(6) == r.getInt(7))
      assert(r.getInt(8) == r.getInt(9))
      assert(r.getLong(10) == r.getLong(11))
    }
  }

  test("fused subword count handles multi-byte codepoints like length()") {
    import graft.operators.TextAnalysis
    val df = Seq("héllo wörld", "日本語のテキスト です", "mixed ascii ünd utf8")
      .toDF("text")
      .select(TextAnalysis.subwordCount($"text").as("f"),
        TextAnalysis.subwordCountHof($"text").as("h"))
    df.collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("native minhash signature is bit-compatible with the posting form") {
    val docs = Tables.documents(spark, sf).limit(50)
    val native = Dedup.minhashSignatures(docs, "doc_id", "text", 5, 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val posting = Dedup.minhashSignaturesPosting(docs, "doc_id", "text", 5, 32)
      .collect().map(r => r.getLong(0) ->
        (1 to 32).map(i => r.getLong(i)).toSeq).toMap
    assert(native.keySet == posting.keySet)
    native.keys.foreach(k => assert(native(k) == posting(k), s"doc $k"))
  }

  test("fused minhash bands are bit-compatible with xxhash64-over-slice") {
    import org.apache.spark.sql.graft.NativeFunctions
    val docs = Tables.documents(spark, sf).limit(50)
    val sigs = NativeFunctions.minhashSignature($"text", 5, 128).as("sig")
    val bandCols = (0 until 32).map(j =>
      xxhash64(slice($"sig", j * 4 + 1, 4)).as(s"b$j"))
    val sliced = docs.select($"doc_id", sigs)
      .select(($"doc_id" +: bandCols): _*)
      .collect().map(r => r.getLong(0) -> (1 to 32).map(r.getLong).toSeq).toMap
    val fused = docs
      .select($"doc_id", NativeFunctions.minhashBands($"text", 5, 128, 32).as("bs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    fused.keys.foreach(k => assert(fused(k) == sliced(k), s"doc $k"))
  }

  test("shingle hashes match xxhash64 over distinct string shingles") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf).limit(50)
    val viaStrings = docs
      .select($"doc_id", explode(Dedup.shingles($"text", 3)).as("g"))
      .select($"doc_id", xxhash64($"g").as("h"))
      .groupBy($"doc_id").agg(collect_set($"h").as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val viaKernel = docs
      .select($"doc_id", Dedup.shingleHashes($"text", 3).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    viaKernel.keys.foreach(k => assert(viaKernel(k) == viaStrings(k), s"doc $k"))
  }

  test("minhash sketch aggregator estimates group similarity") {
    val agg = Aggregators.minhashSketchAgg(64)
    val sigs = Tables.documents(spark, sf)
      .select($"lang", explode(split($"text", " ")).as("w"))
      .groupBy($"lang").agg(agg(col("w")).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    // Same corpus vocabulary across langs → high similarity; sanity: the
    // estimate is in [0,1] and self-similarity is 1.
    val langs = sigs.keys.toSeq
    val a = sigs(langs.head)
    assert(Aggregators.estimatedJaccard(a, a) == 1.0)
    langs.tail.foreach { l =>
      val j = Aggregators.estimatedJaccard(a, sigs(l))
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("unicode normalize: composed and decomposed agree after NFC") {
    import spark.implicits._
    val composed = "caf\u00e9 \u00c9LAN"
    val decomposed = "cafe\u0301 E\u0301LAN"
    val got = Seq((composed, decomposed)).toDF("a", "b")
      .select(
        graft.operators.TextAnalysis.unicodeDedupKey($"a"),
        graft.operators.TextAnalysis.unicodeDedupKey($"b"))
      .head()
    assert(got.getString(0) === got.getString(1))
    assert(got.getString(0) === "café élan")
    // NFKC folds compatibility forms (ﬁ ligature) that NFC keeps
    val nfkc = Seq("ﬁle").toDF("t")
      .select(graft.operators.TextAnalysis.normalizeUnicode($"t", "NFKC"))
      .head().getString(0)
    assert(nfkc === "file")
  }

  test("card redaction: Luhn-valid numbers redact, others pass through") {
    import spark.implicits._
    val cases = Seq(
      // 4111111111111111 is the canonical Luhn-valid test PAN
      ("pay 4111111111111111 now", "pay <CC> now"),
      ("pay 4111-1111-1111-1111 now", "pay <CC> now"),
      ("pay 4111 1111 1111 1111 now", "pay <CC> now"),
      // same digits, checksum broken → untouched
      ("pay 4111111111111112 now", "pay 4111111111111112 now"),
      // too short for a PAN (12 digits), Luhn-valid or not → untouched
      ("id 123456781234 x", "id 123456781234 x"),
      // phone shapes never reach 13 digits → untouched
      ("tel 555-123-4567", "tel 555-123-4567"),
      ("", ""))
    val got = cases.map(_._1).toDF("t")
      .select(org.apache.spark.sql.graft.NativeFunctions
        .redactCardNumbers(col("t")))
      .collect().map(_.getString(0))
    assert(got.toSeq === cases.map(_._2))
    assert(org.apache.spark.sql.graft.PiiKernels.luhnValid("4111111111111111"))
    assert(!org.apache.spark.sql.graft.PiiKernels.luhnValid("4111111111111112"))
  }

  test("redactPiiExtended: every shape in one pass") {
    import spark.implicits._
    val dirty = "mail a@b.co ip 10.1.2.3 ssn 123-45-6789 tel 555-123-4567 " +
      "card 5500 0000 0000 0004 end"
    val got = Seq(dirty).toDF("t")
      .select(graft.operators.TextAnalysis.redactPiiExtended($"t"))
      .head().getString(0)
    assert(got ===
      "mail <EMAIL> ip <IP> ssn <SSN> tel <PHONE> card <CC> end")
  }

  test("compression ratio orders repetition below prose below noise") {
    import spark.implicits._
    val rep = "spam ham " * 200
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders far afield to inspect seventeen distinct grazing meadows " +
      "before returning home beneath a reddening autumn sky tonight"
    val rnd = new scala.util.Random(42)
    val noise = Array.fill(400)((rnd.nextInt(93) + 33).toChar).mkString
    val got = Seq(rep, prose, noise, "").toDF("t")
      .select(graft.operators.TextAnalysis.compressionRatio($"t").as("r"))
      .as[Double].collect()
    assert(got(0) < got(1), s"repetition ${got(0)} !< prose ${got(1)}")
    assert(got(1) < got(2), s"prose ${got(1)} !< noise ${got(2)}")
    assert(got(3) === 1.0) // empty string convention
    // null propagates
    val n = Seq[Option[String]](None).toDF("t")
      .select(graft.operators.TextAnalysis.compressionRatio($"t")).head()
    assert(n.isNullAt(0))
    // thread-local zlib state reuse is stateless across rows: same input
    // twice → identical ratios
    val twice = Seq(rep, rep).toDF("t")
      .select(graft.operators.TextAnalysis.compressionRatio($"t").as("r"))
      .as[Double].collect()
    assert(twice(0) === twice(1))
  }

  test("compression ratio: interpreted = codegen, SQL-registrable") {
    import org.apache.spark.sql.graft.{CompressionRatio, NativeFunctions}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val s = "alpha beta alpha beta alpha beta gamma"
    val interp = CompressionRatio(Literal(UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType), 6)
      .eval(null).asInstanceOf[Double]
    NativeFunctions.register(spark)
    val viaSql = spark.sql(
      s"SELECT compression_ratio('$s'), compression_ratio('$s', 9)").head()
    assert(viaSql.getDouble(0) === interp)
    assert(viaSql.getDouble(1) > 0.0)
  }

  test("foreign bucket hash: known answers, null→0, codegen = interpreted") {
    // pins computed with an independent implementation of the published
    // algorithm (Jenkins OAAT over UTF-8 bytes; 64→32 avalanche mix)
    val df = Seq((1, "abc", 42L)).toDF("i", "s", "l")
    val row = df.select(
      NativeFunctions.foreignBucketHash($"s").as("hs"),
      NativeFunctions.foreignBucketHash($"l").as("hl"),
      NativeFunctions.foreignBucketHash(lit(-7)).as("hi"),
      NativeFunctions.foreignBucketHash(lit(1.5d)).as("hd"),
      NativeFunctions.foreignBucketHash(lit("héllo")).as("hu"),
      NativeFunctions.foreignBucketHash($"s", $"l").as("hc"),
      NativeFunctions.foreignBucketHash(lit(true),
        lit(null).cast("string")).as("hn")).head()
    // single-column values still pass through the row finalizer s^(s>>8)
    assert(row.getInt(0) == 318639172)
    assert(row.getInt(1) == 2133343376)
    assert(row.getInt(2) == 1789657598)
    assert(row.getInt(3) == 358005760)
    // pin derived from the explicit UTF-8 bytes {104,-61,-87,108,108,111}
    assert(row.getInt(4) == 1638865859, "multi-byte UTF-8 must hash by bytes")
    assert(row.getInt(5) == 1812390365, "combine = sum ^ (sum >> 8)")
    assert(row.getInt(6) == 389841518, "null column must contribute 0")

    // interpreted eval (no codegen) agrees with the codegen'd path
    import org.apache.spark.sql.catalyst.expressions.Literal
    val interp = org.apache.spark.sql.graft.ForeignBucketHash(Seq(
      Literal.create("abc"), Literal.create(42L))).eval(null)
    assert(interp == 1812390365)

    // the hash stays inside generated code (no silent interpreted fallback)
    locally {
      import org.apache.spark.sql.execution.debug._
      val probe = Tables.documents(spark, sf).select(
        NativeFunctions.foreignBucketHash($"text", $"doc_id").as("h"))
      val code = probe.queryExecution.debug.codegenToSeq().map(_._2).mkString
      assert(code.contains("ForeignHashKernels"), "foreign hash fell back")
    }

    // bucket id: non-negative, < n, SQL-registrable
    NativeFunctions.register(spark)
    val b = spark.sql(
      "SELECT pmod(foreign_bucket_hash('abc', 42L), 16) AS b").head().getInt(0)
    val b2 = df.select(NativeFunctions.foreignBucketId(16, $"s", $"l")).head().getInt(0)
    assert(b == b2 && b >= 0 && b < 16)

    // a bare untyped NULL literal is accepted and contributes 0, same as
    // a typed null column — not an analysis error
    val bareNull = spark.sql(
      "SELECT foreign_bucket_hash('abc', NULL) AS h").head().getInt(0)
    assert(bareNull == row.getInt(0), "untyped NULL must contribute 0")
    val bareNullDf = df.select(
      NativeFunctions.foreignBucketHash($"s", lit(null))).head().getInt(0)
    assert(bareNullDf == row.getInt(0))
  }

  test("script counts: known answers, codepoint counting, codegen survives") {
    import org.apache.spark.sql.graft.{NativeFunctions, ScriptCounts}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    // H\u00e9llo (latin 5, incl. the accented e) + \u043c\u0438\u0440 (cyr 3)
    // + \u6c49\u5b57 (cjk 2) + \ud55c\uae00 (hangul 2) + an emoji and a
    // supplementary-plane letter (U+1D49C), both outside every class —
    // surrogate pairs must count as ONE codepoint pass, never two
    val s = "H\u00e9llo \u043c\u0438\u0440 \u6c49\u5b57 \ud55c\uae00 " +
      new String(Character.toChars(0x1F389)) +
      new String(Character.toChars(0x1D49C))
    val row = Seq(Tuple1(s)).toDF("t")
      .select(NativeFunctions.scriptCounts($"t").as("sc"))
      .head().getStruct(0)
    assert(row.getLong(0) === 5L, "latin")
    assert(row.getLong(1) === 3L, "cyrillic")
    assert(row.getLong(6) === 2L, "cjk")
    assert(row.getLong(7) === 2L, "hangul")
    assert((2 to 5).forall(row.getLong(_) === 0L))

    // interpreted eval agrees with the codegen'd dataframe path
    val interp = ScriptCounts(Literal(UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType)).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(interp.getLong(0) === 5L && interp.getLong(1) === 3L &&
      interp.getLong(6) === 2L && interp.getLong(7) === 2L)

    // SQL registration + the kernel stays inside generated code
    NativeFunctions.register(spark)
    assert(spark.sql("SELECT script_counts('ab').latin").head().getLong(0) === 2L)
    locally {
      import org.apache.spark.sql.execution.debug._
      val probe = Tables.documents(spark, sf)
        .select(NativeFunctions.scriptCounts($"text").as("sc"))
      val code = probe.queryExecution.debug.codegenToSeq().map(_._2).mkString
      assert(code.contains("ScriptKernels"), "script kernel fell back")
    }
  }
}
