package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the per-row hot paths — the preference
  * order from SURVEY §2.10 / the build brief: a codegen'd `Expression`
  * beats a chain of higher-order array functions beats a Scala UDF. These
  * are the kernels a 100 TB scan spends its time in, so they get real
  * `doGenCode` (no boxing, no lambda dispatch per element).
  *
  * Shapes mirror the reference's only custom expression, the codegen'd
  * bucket hash (`spark-connector/common/.../catalyst/expressions/hash.scala:38-93`).
  *
  * Lives under `org.apache.spark.sql` to reach the `private[sql]` expression
  * SPI — the same placement the reference uses for its Catalyst classes
  * (`org.apache.spark.sql.odps.*`).
  */
private[sql] trait VectorPairExpression extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType

  protected def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Java accessor snippet for codegen, by element type. */
  protected def getter(arr: String, i: String, isFloat: Boolean): String =
    if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
}

/** Dot product of two numeric vectors, accumulated in double. NULL on
  * length mismatch or any null element — the same semantics as the
  * `zip_with`/`aggregate` executable spec (silently truncating to the
  * shorter vector or reading null slots as 0.0 would score corrupt
  * embeddings instead of surfacing them). */
case class DotProduct(left: Expression, right: Expression)
  extends VectorPairExpression {

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (fx, fy) = (elemIsFloat(left), elemIsFloat(right))
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += get(x, i, fx) * get(y, i, fy); i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |double $dot = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $dot += ${getter(a, i, elemIsFloat(left))} * ${getter(b, i, elemIsFloat(right))};
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

/** Cosine similarity of two numeric vectors, accumulated in double —
  * semantically identical to the `zip_with`/`aggregate` formulation in
  * `graft.functions.VectorFunctions` but one fused loop. 0.0 on zero
  * norm; NULL on length mismatch or any null element (matching the
  * executable spec — see [[DotProduct]]). */
case class CosineSimilarity(left: Expression, right: Expression)
  extends VectorPairExpression {

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (fx, fy) = (elemIsFloat(left), elemIsFloat(right))
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = get(x, i, fx)
      val yi = get(y, i, fy)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val d = math.sqrt(nx) * math.sqrt(ny)
    if (d == 0.0) 0.0 else dot / d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $xi = ${getter(a, i, elemIsFloat(left))};
         |  double $yi = ${getter(b, i, elemIsFloat(right))};
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |double $d = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($d == 0.0) ? 0.0 : $dot / $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Static per-row kernels shared by interpreted eval and generated code.
  * `doGenCode` emits a single static call with unboxed arguments — the
  * loop bodies stay in one JIT-friendly method instead of being stamped
  * into every generated class, and the expressions stay inside
  * WholeStageCodegen (the same shape Spark's own regexp/url expressions
  * use for non-trivial kernels). */
object HashKernels {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function

  private val SPACE = UTF8String.fromString(" ")

  def simhash64(input: UTF8String): Long = {
    val tokens = input.split(SPACE, -1)
    val votes = new Array[Int](64)
    var t = 0
    while (t < tokens.length) {
      val h = XxHash64Function.hash(tokens(t), StringType, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  private def minhashSignatureRaw(input: UTF8String, shingleK: Int,
      slotSeeds: Array[Long]): Array[Long] = {
    val numHashes = slotSeeds.length
    val tokens = input.split(SPACE, -1)
    val nShingles = math.max(tokens.length - shingleK, 0) + 1
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var s = 0
    while (s < nShingles) {
      val end = math.min(s + shingleK, tokens.length)
      val shingle = UTF8String.concatWs(SPACE,
        java.util.Arrays.copyOfRange(tokens, s, end): _*)
      val base = XxHash64Function.hash(shingle, StringType, 42L)
      var i = 0
      while (i < numHashes) {
        val h = XxHash64Function.hash(base, LongType, slotSeeds(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      s += 1
    }
    sig
  }

  /** MinHash LSH band hashes in one fused pass: signature (as in
    * [[minhashSignature]]) folded into `bands` band keys, each the xxhash64
    * chain over its `numHashes / bands` signature slots — bit-identical to
    * Catalyst's `xxhash64(slice(sig, j*r+1, r))`, which seeds 42 and folds
    * elements sequentially. */
  def minhashBands(input: UTF8String, shingleK: Int, bands: Int,
      slotSeeds: Array[Long]): ArrayData = {
    val sig = minhashSignatureRaw(input, shingleK, slotSeeds)
    val r = slotSeeds.length / bands
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var h = 42L
      var i = j * r
      while (i < (j + 1) * r) {
        h = XxHash64Function.hash(sig(i), LongType, h)
        i += 1
      }
      out(j) = h
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Distinct token k-shingle hashes in first-occurrence order — the same
    * base hashing as [[minhashSignature]] (xxhash64 seed 42 over the
    * space-joined shingle string), so a posting built from this explodes to
    * exactly `xxhash64(shingle_string)` of the HOF formulation. */
  def shingleHashes(input: UTF8String, shingleK: Int): ArrayData = {
    val tokens = input.split(SPACE, -1)
    val nShingles = math.max(tokens.length - shingleK, 0) + 1
    val seen = new java.util.LinkedHashSet[java.lang.Long](nShingles * 2)
    var s = 0
    while (s < nShingles) {
      val end = math.min(s + shingleK, tokens.length)
      val shingle = UTF8String.concatWs(SPACE,
        java.util.Arrays.copyOfRange(tokens, s, end): _*)
      seen.add(XxHash64Function.hash(shingle, StringType, 42L))
      s += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    ArrayData.toArrayData(out)
  }

  def minhashSignature(input: UTF8String, shingleK: Int,
      slotSeeds: Array[Long]): ArrayData =
    ArrayData.toArrayData(minhashSignatureRaw(input, shingleK, slotSeeds))

  /** Distinct-shingle COUNT without materializing the hash array — the
    * counting tail of [[shingleHashes]] fused away (repetition-ratio path:
    * only the cardinality is ever used). */
  def shingleDistinctCount(input: UTF8String, shingleK: Int): Int = {
    val tokens = input.split(SPACE, -1)
    val nShingles = math.max(tokens.length - shingleK, 0) + 1
    val seen = new java.util.HashSet[java.lang.Long](nShingles * 2)
    var s = 0
    while (s < nShingles) {
      val end = math.min(s + shingleK, tokens.length)
      val shingle = UTF8String.concatWs(SPACE,
        java.util.Arrays.copyOfRange(tokens, s, end): _*)
      seen.add(XxHash64Function.hash(shingle, StringType, 42L))
      s += 1
    }
    seen.size
  }

  /** Per-set token membership counts in ONE tokenization pass: for each
    * vocabulary set, how many tokens are members. Replaces N
    * `size(filter(split(text), _.isInCollection(set)))` trees — langid
    * probes 5 marker sets and the quality rules one stopword set, so the
    * HOF form tokenizes the document 6 times; this does it once. */
  def tokenSetHits(input: UTF8String,
      sets: Array[java.util.HashSet[UTF8String]]): ArrayData = {
    val tokens = input.split(SPACE, -1)
    val hits = new Array[Int](sets.length)
    var t = 0
    while (t < tokens.length) {
      var i = 0
      while (i < sets.length) {
        if (sets(i).contains(tokens(t))) hits(i) += 1
        i += 1
      }
      t += 1
    }
    ArrayData.toArrayData(hits)
  }

  /** BPE-ish subword count in one byte scan (no token array): per token,
    * ceil(char_len / 4) — matches the HOF
    * `aggregate(tokens, 0, acc + ceil(len(w)/4))` exactly: token length
    * counts codepoints (UTF-8 lead bytes), like Spark's `length()`. */
  def subwordCount(input: UTF8String): Int = {
    val n = input.numBytes()
    var count = 0
    var tokLen = 0
    var i = 0
    while (i < n) {
      val b = input.getByte(i)
      if (b == ' '.toByte) {
        count += (tokLen + 3) / 4
        tokLen = 0
      } else if ((b & 0xC0) != 0x80) tokLen += 1 // codepoint lead byte
      i += 1
    }
    count + (tokLen + 3) / 4
  }

  /** Order-sensitive rolling fingerprint over whitespace tokens — the
    * fused form of `aggregate(tokens, 0L, (acc, w) => xxhash64(acc, w))`:
    * each step folds (acc: long, token: string) through XxHash64 with
    * seed 42, exactly as the two-argument xxhash64 Column does. */
  def tokenFingerprint(input: UTF8String): Long = {
    val tokens = input.split(SPACE, -1)
    var acc = 0L
    var t = 0
    while (t < tokens.length) {
      acc = XxHash64Function.hash(tokens(t), StringType,
        XxHash64Function.hash(acc, LongType, 42L))
      t += 1
    }
    acc
  }

  /** Overlapping token-window chunks in one pass (RAG/embedding prep):
    * windows of `chunkSize` tokens advancing by `chunkSize - overlap`. */
  def chunkTokens(input: UTF8String, chunkSize: Int, overlap: Int): ArrayData = {
    val tokens = input.split(SPACE, -1)
    val step = chunkSize - overlap
    val lastIdx = math.max(tokens.length - overlap - 1, 0) / step
    val out = new Array[UTF8String](lastIdx + 1)
    var i = 0
    while (i <= lastIdx) {
      val start = i * step
      val end = math.min(start + chunkSize, tokens.length)
      out(i) = UTF8String.concatWs(SPACE,
        java.util.Arrays.copyOfRange(tokens, start, end): _*)
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Fused hashing-trick linear-model sigmoid: tokenize, xxhash64(seed 42)
    * per token, `pmod(hash, weights.length)` bucket, accumulate the bucket
    * weight, sigmoid at the end — one pass, no token-bucket array
    * materialized. Bit-identical to the HOF formulation
    * `sigmoid(bias + aggregate(hashBuckets(text, dim), ...))` in
    * `graft.operators.Classifier`. */
  def hashedBagSigmoid(input: UTF8String, weights: Array[Double],
      bias: Double): Double = {
    val tokens = input.split(SPACE, -1)
    val dim = weights.length.toLong
    var acc = bias
    var t = 0
    while (t < tokens.length) {
      val tok = tokens(t)
      if (tok.numBytes() > 0) {
        val h = XxHash64Function.hash(tok, StringType, 42L) % dim
        acc += weights((if (h < 0) h + dim else h).toInt)
      }
      t += 1
    }
    // StrictMath, not Math: Spark's Exp codegen calls StrictMath.exp, and
    // the HOF spec must stay bit-identical on every host
    1.0 / (1.0 + java.lang.StrictMath.exp(-acc))
  }
}

/** 64-bit SimHash of a whitespace-tokenized string — single fused pass per
  * row (vs. explode + 64 aggregates). Same algorithm as
  * `graft.operators.Dedup.simhash64`: xxhash64(seed 42) per token, ±1 vote
  * per bit, sign → bit. */
case class SimHash64(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    HashKernels.simhash64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.HashKernels.simhash64($c)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** MinHash signature of a whitespace-tokenized string: token `k`-shingles,
  * xxhash64(seed 42) per shingle, then `numHashes` seeded rehashes reduced
  * by min — one fused pass per row producing `array<long>`.
  *
  * Bit-compatible with the posting-style
  * `graft.operators.Dedup.minhashSignatures` (which remains the
  * documents-larger-than-memory path): the rehash chain replicates
  * `xxhash64(lit(i), baseHash)` = XxHash64 over (int i, long base) with
  * seed 42, i.e. hash(base, LongType, hash(i, IntegerType, 42)). */
case class MinHashSignature(child: Expression, shingleK: Int, numHashes: Int)
  extends UnaryExpression with ExpectsInputTypes {

  import org.apache.spark.sql.catalyst.expressions.XxHash64Function

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // seed per slot: XxHash64 folds the literal slot index first
  private lazy val slotSeeds: Array[Long] =
    Array.tabulate(numHashes)(i => XxHash64Function.hash(i, IntegerType, 42L))

  override def nullSafeEval(input: Any): Any =
    HashKernels.minhashSignature(input.asInstanceOf[UTF8String], shingleK, slotSeeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("slotSeeds", slotSeeds, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.HashKernels.minhashSignature($c, $shingleK, $seedsRef)")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "minhash_signature"
}

/** MinHash LSH band hashes of a whitespace-tokenized string — signature and
  * banding fused into a single pass per row (array<long> of `bands` band
  * keys). Replaces a 32-wide `xxhash64(slice(sig, ...))` expression tree
  * with one kernel call: smaller generated code, one traversal. */
case class MinHashBands(child: Expression, shingleK: Int, numHashes: Int,
    bands: Int)
  extends UnaryExpression with ExpectsInputTypes {

  import org.apache.spark.sql.catalyst.expressions.XxHash64Function

  require(numHashes % bands == 0, "bands must divide numHashes")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val slotSeeds: Array[Long] =
    Array.tabulate(numHashes)(i => XxHash64Function.hash(i, IntegerType, 42L))

  override def nullSafeEval(input: Any): Any =
    HashKernels.minhashBands(input.asInstanceOf[UTF8String], shingleK, bands, slotSeeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("slotSeeds", slotSeeds, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.HashKernels.minhashBands($c, $shingleK, $bands, $seedsRef)")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "minhash_bands"
}

/** Distinct token k-shingle xxhash64 values of a whitespace-tokenized
  * string, as `array<long>` — one fused pass per row; feeds posting-style
  * dedup joins without ever materializing shingle strings in the plan. */
case class ShingleHashes(child: Expression, shingleK: Int)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashKernels.shingleHashes(input.asInstanceOf[UTF8String], shingleK)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.HashKernels.shingleHashes($c, $shingleK)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "shingle_hashes"
}

/** Overlapping token-window chunks of a whitespace-tokenized string —
  * single fused pass per row (the HOF formulation re-evaluates the token
  * split once per chunk after Catalyst lambda inlining). */
case class TokenChunks(child: Expression, chunkSize: Int, overlap: Int)
  extends UnaryExpression with ExpectsInputTypes {

  require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashKernels.chunkTokens(input.asInstanceOf[UTF8String], chunkSize, overlap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.HashKernels.chunkTokens($c, $chunkSize, $overlap)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "token_chunks"
}

/** Ids of a pair graph that are not their connected component's minimum,
  * in ascending order: one union-find over an `array<struct<a, b>>` of
  * edges whose root is always the smaller id, so the result does not
  * depend on edge order. An edge with a null end joins nothing. The
  * input is one collected edge list (one row), so evaluation is
  * interpreted. */
case class ComponentLosers(child: Expression)
  extends UnaryExpression with CodegenFallback {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}

  private def idType: DataType = child.dataType match {
    case ArrayType(st: StructType, _) => st.fields(0).dataType
    case other => other
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
        if st.length == 2 && st(0).dataType == st(1).dataType =>
      TypeUtils.checkForOrderingExpr(st(0).dataType, prettyName)
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<struct<a, b>> with a and b of one type, " +
        s"got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(idType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val edges = input.asInstanceOf[ArrayData]
    val dt = idType
    val ord = TypeUtils.getInterpretedOrdering(dt)
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    var i = 0
    while (i < edges.numElements()) {
      val e = edges.getStruct(i, 2)
      if (!e.isNullAt(0) && !e.isNullAt(1)) {
        val a = InternalRow.copyValue(e.get(0, dt))
        val b = InternalRow.copyValue(e.get(1, dt))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ord.lt(ra, rb)) parent(rb) = ra
        else if (ord.lt(rb, ra)) parent(ra) = rb
      }
      i += 1
    }
    new GenericArrayData(
      parent.keys.toArray.filter(x => find(x) != x).sorted(ord))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "component_losers"
}

/** Token count without materializing the token array: counts separator
  * bytes in one pass over the UTF8 buffer. */
case class TokenCount(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var count = 1
    var i = 0
    while (i < n) {
      if (s.getByte(i) == ' '.toByte) count += 1
      i += 1
    }
    count
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |int $n = $s.numBytes();
         |int $c = 1;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($s.getByte($i) == (byte) ' ') $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "token_count"
}

/** BPE-ish subword count — one byte scan, no token array (the fused form
  * of the aggregate-over-tokens HOF in TextAnalysis.subwordCount). */
case class SubwordCount(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    HashKernels.subwordCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.HashKernels.subwordCount($c)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "subword_count"
}

/** Order-sensitive rolling token fingerprint — the fused form of the
  * xxhash64-fold HOF in TextAnalysis.fingerprint (bit-identical chain). */
case class TokenFingerprint(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    HashKernels.tokenFingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.HashKernels.tokenFingerprint($c)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "token_fingerprint"
}

/** Distinct token-k-shingle count — `size(shingle_hashes(text, k))` with
  * the array fused away (one pass, no allocation beyond the hash set). */
case class ShingleDistinctCount(child: Expression, shingleK: Int)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    HashKernels.shingleDistinctCount(input.asInstanceOf[UTF8String], shingleK)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.HashKernels.shingleDistinctCount($c, $shingleK)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "shingle_distinct_count"
}

/** Membership-hit counts of whitespace tokens against N vocabulary sets,
  * in one tokenization pass (`array<int>`, one slot per set) — the fused
  * form of N parallel `size(filter(tokens, _.isInCollection(set)))`
  * trees (language-ID markers, stopword ratios). */
case class TokenSetHits(child: Expression, sets: Seq[Seq[String]])
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private lazy val hashSets: Array[java.util.HashSet[UTF8String]] =
    sets.map { s =>
      val hs = new java.util.HashSet[UTF8String](s.size * 2)
      s.foreach(w => hs.add(UTF8String.fromString(w)))
      hs
    }.toArray

  override def nullSafeEval(input: Any): Any =
    HashKernels.tokenSetHits(input.asInstanceOf[UTF8String], hashSets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setsRef = ctx.addReferenceObj("hashSets", hashSets,
      "java.util.HashSet[]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.HashKernels.tokenSetHits($c, $setsRef)")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "token_set_hits"
}

/** Content-defined chunking (the LBFS/Rabin rolling-hash recipe,
  * re-expressed with a buzhash window): boundaries fall where a rolling
  * hash of the last [[CdcKernels.Window]] bytes hits a mask — a purely
  * LOCAL decision, so inserting or deleting bytes shifts only the chunks
  * around the edit while every later boundary re-synchronizes (the
  * property fixed-size chunking lacks, and the reason storage dedup uses
  * CDC for binary payloads whose encodings prepend/splice bytes). */
object CdcKernels {
  import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XxHash64Function}
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Rolling-hash window: boundary decisions depend on exactly this many
    * trailing bytes. */
  final val Window = 48

  // 256-entry byte→long table, deterministic splitmix64 stream — the
  // buzhash "random" alphabet (public construction; any fixed bijective
  // mix works, determinism across executors is what matters)
  private val table: Array[Long] = {
    var x = 0x9E3779B97F4A7C15L
    Array.fill(256) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
  }

  /** Chunks of `bytes` as `array<struct<hash, off, len>>`: a boundary
    * closes a chunk at byte `i` when the chunk is ≥ `minSize` and the
    * rolling hash's low `avgBits` bits are all zero (expected chunk size
    * ≈ 2^avgBits), or unconditionally at `maxSize`; the tail flushes as
    * a final (possibly short) chunk. `hash` is xxhash64 of the chunk's
    * bytes — the dedup identity. The hash state resets per chunk, so
    * chunking is deterministic and self-synchronizing. */
  def contentChunks(bytes: Array[Byte], minSize: Int, avgBits: Int,
      maxSize: Int): GenericArrayData = {
    val mask = (1L << avgBits) - 1L
    val out = scala.collection.mutable.ArrayBuffer.empty[GenericInternalRow]
    def emit(start: Int, end: Int): Unit = { // [start, end)
      val slice = java.util.Arrays.copyOfRange(bytes, start, end)
      val h = XxHash64Function.hash(slice, BinaryType, 42L)
      out += new GenericInternalRow(
        Array[Any](h, start, end - start))
    }
    var start = 0
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      val size = i - start + 1
      h = java.lang.Long.rotateLeft(h, 1) ^ table(bytes(i) & 0xFF)
      if (size > Window) // roll the outgoing byte off the window
        h ^= java.lang.Long.rotateLeft(
          table(bytes(i - Window) & 0xFF), Window % 64)
      if ((size >= minSize && (h & mask) == 0L) || size >= maxSize) {
        emit(start, i + 1)
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < bytes.length) emit(start, bytes.length)
    new GenericArrayData(out.toArray[Any])
  }
}

/** JDK Unicode normalization kernel (java.text.Normalizer — no external
  * dependency). Static so codegen emits one call. */
object UnicodeKernels {
  def normalize(s: UTF8String, form: String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.valueOf(form)))
}

/** Unicode normalization (NFC/NFD/NFKC/NFKD) — the multilingual dedup-key
  * prerequisite: composed vs decomposed renderings of the same text
  * byte-differ and defeat exact hashing until normalized. ASCII input
  * passes through unchanged, so the ASCII-conservative
  * `TextAnalysis.normalizeText` remains the differential-testing rung and
  * this is the layer above it. */
case class UnicodeNormalize(child: Expression, form: String)
  extends UnaryExpression with ExpectsInputTypes {

  require(Set("NFC", "NFD", "NFKC", "NFKD")(form), s"bad form $form")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    UnicodeKernels.normalize(input.asInstanceOf[UTF8String], form)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""org.apache.spark.sql.graft.UnicodeKernels.normalize($c, "$form")""")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "unicode_normalize"
}

/** Luhn-gated payment-card redaction kernel: digit runs (optionally
  * dash/space separated) of 13–19 digits that pass the Luhn checksum
  * replace with `<CC>`; everything else — phone numbers, ids, ordinary
  * digits — passes through untouched. The checksum gate is what a pure
  * regex cannot express and what cuts the false-positive rate ~10x. */
object PiiKernels {
  def luhnValid(digits: CharSequence): Boolean = {
    var sum = 0
    var alt = false
    var i = digits.length - 1
    while (i >= 0) {
      var d = digits.charAt(i) - '0'
      if (alt) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      alt = !alt
      i -= 1
    }
    sum % 10 == 0
  }

  def redactCards(s: UTF8String): UTF8String = {
    val str = s.toString
    val n = str.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c >= '0' && c <= '9') {
        // candidate run: digits plus single dash/space separators that
        // sit BETWEEN digits
        var j = i
        var lastDigit = i - 1
        val digits = new java.lang.StringBuilder(19)
        var run = true
        while (j < n && run) {
          val cj = str.charAt(j)
          if (cj >= '0' && cj <= '9') {
            digits.append(cj); lastDigit = j; j += 1
          } else if ((cj == '-' || cj == ' ') && j + 1 < n &&
              str.charAt(j + 1) >= '0' && str.charAt(j + 1) <= '9') {
            j += 1
          } else run = false
        }
        if (digits.length >= 13 && digits.length <= 19 &&
            luhnValid(digits)) {
          sb.append("<CC>")
        } else {
          sb.append(str, i, lastDigit + 1)
        }
        i = lastDigit + 1
      } else {
        sb.append(c)
        i += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }
}

/** [[PiiKernels.redactCards]] as a codegen'd expression. */
case class RedactCardNumbers(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    PiiKernels.redactCards(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.PiiKernels.redactCards($c)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "redact_card_numbers"
}

/** Deflate kernel for the compression-ratio quality signal. Static so
  * codegen emits one call; the Deflater (native zlib state) and output
  * buffer are thread-local and reused across rows — one allocation per
  * executor thread per level, not per document. */
object CompressKernels {
  private val deflaters =
    new ThreadLocal[java.util.HashMap[Integer, java.util.zip.Deflater]] {
      override def initialValue() =
        new java.util.HashMap[Integer, java.util.zip.Deflater]()
    }
  private val buf = new ThreadLocal[Array[Byte]] {
    override def initialValue() = new Array[Byte](1 << 16)
  }

  /** Raw-deflate (no zlib header) size of `bytes` at `level`. */
  def deflatedSize(bytes: Array[Byte], level: Int): Int = {
    val map = deflaters.get()
    var d = map.get(level)
    if (d == null) {
      d = new java.util.zip.Deflater(level, true)
      map.put(level, d)
    } else d.reset()
    d.setInput(bytes)
    d.finish()
    val b = buf.get()
    var total = 0
    while (!d.finished()) total += d.deflate(b)
    total
  }

  /** `deflated_size / raw_size` of the UTF-8 bytes; empty string → 1.0.
    * Deterministic for a given input and level (pure-software zlib). */
  def compressionRatio(s: UTF8String, level: Int): Double = {
    val bytes = s.getBytes
    if (bytes.length == 0) 1.0
    else deflatedSize(bytes, level).toDouble / bytes.length
  }
}

/** Deflate compression ratio of a document's UTF-8 bytes — the
  * Gopher/Dolma-style "does this text have natural-language statistics"
  * signal: highly repetitive or templated text compresses far below
  * prose, while random bytes/base64 blobs sit near (or above) 1.0. One
  * static-kernel call per row; the zlib state is reused thread-locally
  * ([[CompressKernels]]). */
case class CompressionRatio(child: Expression, level: Int)
  extends UnaryExpression with ExpectsInputTypes {

  require(level >= 1 && level <= 9, s"deflate level in [1,9], got $level")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any =
    CompressKernels.compressionRatio(input.asInstanceOf[UTF8String], level)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.CompressKernels.compressionRatio($c, $level)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "compression_ratio"
}

/** Content-defined chunk list of a binary payload ([[CdcKernels]]):
  * `array<struct<hash, off, len>>`. Null payload → null; empty → empty
  * array. The per-byte work happens once per row in the static kernel —
  * codegen emits a single static call. */
case class ContentChunks(child: Expression, minSize: Int, avgBits: Int,
    maxSize: Int) extends UnaryExpression with ExpectsInputTypes {

  require(minSize >= 1 && maxSize >= minSize,
    s"need 1 <= minSize <= maxSize, got [$minSize, $maxSize]")
  require(avgBits >= 4 && avgBits <= 28, s"avgBits in [4,28], got $avgBits")
  require(minSize > CdcKernels.Window,
    s"minSize must exceed the ${CdcKernels.Window}-byte rolling window " +
      "(shorter chunks would cut on partially-filled windows and lose " +
      "shift resistance)")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("hash", LongType, nullable = false),
    StructField("off", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    CdcKernels.contentChunks(input.asInstanceOf[Array[Byte]],
      minSize, avgBits, maxSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.CdcKernels.contentChunks($c, " +
        s"$minSize, $avgBits, $maxSize)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "content_chunks"
}

/** dHash (difference hash) perceptual fingerprint of a media payload.
  * The public pHash/dHash recipe: resize to a (GridW+1-wide) grayscale
  * grid, set bit (r, c) iff cell(r,c) < cell(r,c+1) — robust to
  * re-encoding, scaling, and mild edits because the hash depends on the
  * coarse luminance GRADIENT, not bytes. Two payloads are perceptual
  * near-duplicates when the Hamming distance of their hashes is small.
  */
object PerceptualKernels {
  /** 9 columns x 8 rows: 8 adjacent-compare bits per row = 64 bits. */
  val GridW = 9
  val GridH = 8

  /** STUB "decode + grayscale + resize": box-resample the payload byte
    * stream into a GridW x GridH grid of unsigned-byte means. The box
    * averaging IS the real dHash resize step — applied to the raw byte
    * stream instead of decoded pixels because no codec libs exist in
    * this environment. Swap this loop's input for a real decoder's luma
    * plane and nothing downstream (hashing, banding, pair join)
    * changes. Deterministic; an empty payload grids to zeros. */
  def lumaGrid(bytes: Array[Byte]): Array[Int] = {
    val cells = GridW * GridH
    val grid = new Array[Int](cells)
    val n = bytes.length
    if (n > 0) {
      var i = 0
      while (i < cells) {
        var lo = (i.toLong * n / cells).toInt
        var hi = ((i + 1).toLong * n / cells).toInt
        if (lo >= n) lo = n - 1
        if (hi <= lo) hi = lo + 1 // tiny payloads: cells share bytes
        var s = 0L
        var j = lo
        while (j < hi) { s += bytes(j) & 0xFF; j += 1 }
        grid(i) = (s / (hi - lo)).toInt
        i += 1
      }
    }
    grid
  }

  /** The REAL dHash step over a 72-cell grid: row-major adjacent
    * compares, bit index r*(GridW-1)+c. */
  def dhashOfGrid(grid: Array[Int]): Long = {
    var h = 0L
    var r = 0
    while (r < GridH) {
      var c = 0
      while (c < GridW - 1) {
        if (grid(r * GridW + c) < grid(r * GridW + c + 1))
          h |= 1L << (r * (GridW - 1) + c)
        c += 1
      }
      r += 1
    }
    h
  }

  def dhash64(bytes: Array[Byte]): Long = dhashOfGrid(lumaGrid(bytes))
}

/** 64-bit dHash of a binary payload ([[PerceptualKernels]]) — the
  * perceptual near-dup fingerprint; codegen emits one static call per
  * row. Null payload -> null. */
case class DHash64(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    PerceptualKernels.dhash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.PerceptualKernels.dhash64($c)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "dhash64"
}

/** Windowed energy profile of an audio-like payload: the byte stream is
  * read as unsigned 8-bit PCM centered at 128 (the STUB "decode" — swap
  * for a real codec's sample buffer and nothing downstream changes),
  * split into fixed windows, and each window reports its EXACT integer
  * squared-amplitude sum — so silence detection compares integers
  * (sum_sq vs threshold·n), never floats. */
object AudioKernels {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** One struct(win, n, sum_sq) per `window`-byte window (last window
    * may be short); empty payload → empty array. */
  def energyWindows(bytes: Array[Byte], window: Int): GenericArrayData = {
    val n = bytes.length
    val wins = (n + window - 1) / window
    val out = new Array[Any](wins)
    var w = 0
    while (w < wins) {
      val lo = w * window
      val hi = math.min(lo + window, n)
      var s = 0L
      var i = lo
      while (i < hi) {
        val a = (bytes(i) & 0xFF) - 128
        s += a.toLong * a
        i += 1
      }
      out(w) = new GenericInternalRow(Array[Any](w, hi - lo, s))
      w += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-window squared-amplitude sums of a binary payload
  * ([[AudioKernels.energyWindows]]): array<struct<win,n,sum_sq>>.
  * Null payload → null; codegen emits one static call per row. */
case class AudioEnergyWindows(child: Expression, window: Int)
  extends UnaryExpression with ExpectsInputTypes {

  require(window >= 1, s"window must be >= 1, got $window")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("win", IntegerType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("sum_sq", LongType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    AudioKernels.energyWindows(input.asInstanceOf[Array[Byte]], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.AudioKernels.energyWindows($c, $window)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "audio_energy_windows"
}

/** Kernels for Z-order (Morton-curve) clustering keys. Kept as static
  * methods so codegen calls inline into every generated class. */
object ZOrderKernels {

  /** Upper-bound binary search: the number of boundaries `<= x` — the
    * rank bucket id in `[0, bounds.length]`. NaN sorts above every
    * boundary (bucket = bounds.length), matching Spark's NaN-greatest
    * double ordering. */
  def rangeBucket(x: Double, bounds: Array[Double]): Int = {
    if (java.lang.Double.isNaN(x)) return bounds.length
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Upper-bound binary search over UTF8String cut points: the number of
    * boundaries `<= v` in UTF8String (binary) order — the rank bucket id
    * in `[0, bounds.length]` for a string dimension. */
  def stringRangeBucket(v: UTF8String, bounds: Array[UTF8String]): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid).compareTo(v) <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Morton interleave of `k` bucket ids at `bits` bits each: round `i`
    * appends bit `(bits-1-i)` of every id in column order, so the high
    * bits of every dimension lead the key and close ids in ALL
    * dimensions land close on the curve. Requires `k * bits <= 63`. */
  def interleave(ids: ArrayData, bits: Int): Long = {
    val k = ids.numElements()
    // arity is only known per-row (the array child need not be a literal
    // CreateArray), so the overflow guard lives here: silently shifting a
    // dimension's high bits off the top of the long would produce keys
    // with NO locality in that dimension — data clustered on them looks
    // fine and prunes nothing
    if (k * bits > 63) throw new IllegalArgumentException(
      s"interleave_bits: $k dims at $bits bits = ${k * bits} key bits; max 63")
    var out = 0L
    var i = 0
    while (i < bits) {
      var j = 0
      while (j < k) {
        out = (out << 1) | ((ids.getInt(j) >>> (bits - 1 - i)) & 1L)
        j += 1
      }
      i += 1
    }
    out
  }
}

/** Rank bucket id of a double against precomputed sorted cut points
  * (binary search, codegen'd) — the per-dimension quantile-bucket step of
  * a Z-order key. Null input → null (callers coalesce to bucket 0). */
case class RangeBucketId(child: Expression, boundaries: Seq[Double])
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = IntegerType

  private lazy val bounds: Array[Double] = boundaries.toArray

  override def nullSafeEval(input: Any): Any =
    ZOrderKernels.rangeBucket(input.asInstanceOf[Double], bounds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bounds", bounds, "double[]")
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.ZOrderKernels.rangeBucket($c, $ref)")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "range_bucket_id"
}

/** Fused hashing-trick linear-model sigmoid score — the corpus-scale
  * serving kernel of `graft.operators.Classifier`: one byte-scan per row,
  * per-token xxhash64 bucket lookup into the model weights, sigmoid of
  * the accumulated margin. Replaces an interpreted higher-order
  * `aggregate` lambda (HOFs never enter whole-stage codegen) with a
  * single static call that does; the weight vector rides the generated
  * class as a reference object, not stamped-out code. */
case class HashedBagSigmoid(child: Expression, weights: Seq[Double],
    bias: Double)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType

  private lazy val w: Array[Double] = weights.toArray

  override def nullSafeEval(input: Any): Any =
    HashKernels.hashedBagSigmoid(input.asInstanceOf[UTF8String], w, bias)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("weights", w, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.HashKernels.hashedBagSigmoid($c, $ref, $bias)")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "hashed_bag_sigmoid"
}

/** Rank bucket id of a string against precomputed sorted cut points
  * (binary search over UTF8String binary order — the order Spark sorts
  * strings by, so fitted ranks and parquet min/max stats agree). The
  * dictionary-rank-bucket step of a Z-order key on a categorical
  * dimension; unseen values still land order-preservingly between their
  * neighbors. Null input → null (callers coalesce to bucket 0). */
case class StringRangeBucketId(child: Expression, boundaries: Seq[String])
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType

  private lazy val bounds: Array[UTF8String] =
    boundaries.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    ZOrderKernels.stringRangeBucket(input.asInstanceOf[UTF8String], bounds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bounds", bounds,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.ZOrderKernels.stringRangeBucket($c, $ref)")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "string_range_bucket_id"
}

/** Morton bit-interleave of an `array<int>` of bucket ids into one long
  * Z-order key ([[ZOrderKernels.interleave]]). */
case class InterleaveBits(child: Expression, bits: Int)
  extends UnaryExpression with ExpectsInputTypes {

  require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType, containsNull = false))
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    ZOrderKernels.interleave(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.ZOrderKernels.interleave($c, $bits)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "interleave_bits"
}

/** Bridge to the session's package-private state (catalog manager,
  * `Dataset.ofRows`) for catalog-aware helpers like max_pt, and to
  * Spark's package-private listing filter. */
object Catalogs {
  /** True for a file name Spark's own file index lists (it skips
    * `_`/`.`-prefixed names other than parquet summaries, and in-flight
    * `._COPYING_` copies) — so a recorded file manifest holds exactly
    * what a listing would have returned. */
  def listedByFileIndex(name: String): Boolean =
    !org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The one cast to the classic session that exposes `sessionState`. */
  def classic(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def plugin(spark: org.apache.spark.sql.SparkSession,
      name: String): org.apache.spark.sql.connector.catalog.CatalogPlugin =
    classic(spark).sessionState.catalogManager.catalog(name)

  /** DataFrame over an analyzed logical plan (private[sql] Dataset.ofRows) —
    * used by the strategy-planned write path. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark), plan)

  /** The session's current (catalog name, namespace) — the context a view
    * definition must be resolved in, captured at CREATE VIEW time. */
  def currentContext(spark: org.apache.spark.sql.SparkSession): (String, Array[String]) = {
    val cm = classic(spark).sessionState.catalogManager
    (cm.currentCatalog.name(), cm.currentNamespace)
  }

  /** Run `f` with the session's current catalog/namespace switched to the
    * given context, restoring the previous context afterwards — view SQL
    * must resolve unqualified names in the catalog/namespace where the
    * view was DEFINED, not where the reader happens to be. */
  def withCurrentContext[A](spark: org.apache.spark.sql.SparkSession,
      catalog: String, namespace: Array[String])(f: => A): A = {
    val cm = classic(spark).sessionState.catalogManager
    val (prevCat, prevNs) = (cm.currentCatalog.name(), cm.currentNamespace)
    try {
      cm.setCurrentCatalog(catalog)
      if (namespace.nonEmpty) cm.setCurrentNamespace(namespace)
      f
    } finally {
      cm.setCurrentCatalog(prevCat)
      cm.setCurrentNamespace(prevNs)
    }
  }
}

/** Column-level entry points for the native expressions. */
/** Kernels for the foreign-warehouse bucket hash (the optional interop
  * pack of SURVEY §7.3): a Jenkins one-at-a-time hash over UTF-8 bytes
  * for strings/binary, a 64→32-bit avalanche mix for integral/floating
  * types, boolean sentinel constants, null → 0, and per-row combination
  * `sum ^ (sum >> 8)`. This is the bucket function a MaxCompute-style
  * warehouse applies to clustered tables (behavior defined by reference
  * `spark-connector/common/.../bucket/OdpsDefaultHasher.java:37-178` and
  * `catalyst/expressions/hash.scala:38-104`; re-implemented from that
  * public definition — both pieces are textbook Jenkins constructions).
  * Bit-compatibility is what lets a bucketed write co-locate with
  * warehouse-hashed buckets so a cross-system bucket join needs no
  * shuffle on either side. Static kernels keep generated code to one
  * call per column (see [[HashKernels]]). */
object ForeignHashKernels {
  def mixLong(v: Long): Int = {
    var l = v
    l = (~l) + (l << 18)
    l ^= (l >> 31)
    l *= 21
    l ^= (l >> 11)
    l += (l << 6)
    l ^= (l >> 22)
    l.toInt
  }

  def hashBytes(bytes: Array[Byte]): Int = {
    var h = 0
    var i = 0
    while (i < bytes.length) {
      h += bytes(i) // signed byte — the widening the foreign hash specifies
      h += h << 10
      h ^= h >> 6
      i += 1
    }
    h += h << 3
    h ^= h >> 11
    h += h << 15
    h
  }

  def hashUtf8(s: UTF8String): Int = hashBytes(s.getBytes)

  /** Boolean sentinels of the foreign hash (fixed constants, not mixes). */
  val TrueHash: Int = 0x172ba9c7
  val FalseHash: Int = -0x3a59cb12
}

/** Row hash of the foreign warehouse's default clustered-table hasher —
  * `pmod(foreign_bucket_hash(keys), numBuckets)` reproduces the
  * warehouse's bucket assignment bit-for-bit, so data written with that
  * layout co-locates with warehouse-written buckets. Never nullable:
  * null columns contribute 0, exactly as the foreign hasher defines.
  * Supported inputs mirror the foreign surface (bool / integral / float /
  * double / string / binary); timestamps and decimals are rejected at
  * analysis time like the reference connector rejects them. */
case class ForeignBucketHash(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    // NullType: a bare NULL literal contributes 0 like any null value —
    // rejecting it would make `foreign_bucket_hash(k, NULL)` an analysis
    // error while the same null arriving as a typed column hashes fine.
    val bad = children.map(_.dataType).filterNot {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType | BinaryType | NullType => true
      case _ => false
    }
    if (children.isEmpty)
      TypeCheckResult.TypeCheckFailure("foreign_bucket_hash needs >= 1 argument")
    else if (bad.nonEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"foreign_bucket_hash does not support: ${bad.mkString(", ")}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    var sum = 0
    var i = 0
    while (i < children.length) {
      val c = children(i)
      val v = c.eval(input)
      if (v != null) sum += hashOne(v, c.dataType)
      i += 1
    }
    sum ^ (sum >> 8)
  }

  private def hashOne(v: Any, dt: DataType): Int = dt match {
    case BooleanType =>
      if (v.asInstanceOf[Boolean]) ForeignHashKernels.TrueHash
      else ForeignHashKernels.FalseHash
    case ByteType => ForeignHashKernels.mixLong(v.asInstanceOf[Byte].toLong)
    case ShortType => ForeignHashKernels.mixLong(v.asInstanceOf[Short].toLong)
    case IntegerType => ForeignHashKernels.mixLong(v.asInstanceOf[Int].toLong)
    case LongType => ForeignHashKernels.mixLong(v.asInstanceOf[Long])
    case FloatType => ForeignHashKernels.mixLong(
      java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong)
    case DoubleType => ForeignHashKernels.mixLong(
      java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
    case StringType => ForeignHashKernels.hashUtf8(v.asInstanceOf[UTF8String])
    case BinaryType => ForeignHashKernels.hashBytes(v.asInstanceOf[Array[Byte]])
    case other => throw new UnsupportedOperationException(other.toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val k = "org.apache.spark.sql.graft.ForeignHashKernels"
    val sum = ctx.freshName("sum")
    val pieces = children.map { c =>
      if (c.dataType == org.apache.spark.sql.types.NullType) "" else {
      val g = c.genCode(ctx)
      val call = c.dataType match {
        case BooleanType => s"(${g.value} ? 0x172ba9c7 : -0x3a59cb12)"
        case ByteType | ShortType | IntegerType => s"$k.mixLong((long) ${g.value})"
        case LongType => s"$k.mixLong(${g.value})"
        case FloatType => s"$k.mixLong((long) Float.floatToIntBits(${g.value}))"
        case DoubleType => s"$k.mixLong(Double.doubleToLongBits(${g.value}))"
        case StringType => s"$k.hashUtf8(${g.value})"
        case BinaryType => s"$k.hashBytes(${g.value})"
        case other => throw new UnsupportedOperationException(other.toString)
      }
      val add = if (c.nullable)
        s"if (!${g.isNull}) { $sum += $call; }"
      else s"$sum += $call;"
      s"""
         |${g.code}
         |$add
       """.stripMargin
      }
    }
    ev.copy(isNull = FalseLiteral, code =
      code"""
         |int $sum = 0;
         |${pieces.mkString("\n")}
         |int ${ev.value} = $sum ^ ($sum >> 8);
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ForeignBucketHash =
    copy(children = newChildren)
  override def prettyName: String = "foreign_bucket_hash"
}

object NativeFunctions {
  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def simhash64(c: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(c)))

  def minhashSignature(c: Column, shingleK: Int, numHashes: Int): Column =
    ExpressionUtils.column(MinHashSignature(
      ExpressionUtils.expression(c), shingleK, numHashes))

  def shingleHashes(c: Column, shingleK: Int): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(c), shingleK))

  def minhashBands(c: Column, shingleK: Int, numHashes: Int, bands: Int): Column =
    ExpressionUtils.column(MinHashBands(
      ExpressionUtils.expression(c), shingleK, numHashes, bands))

  def tokenChunks(c: Column, chunkSize: Int, overlap: Int): Column =
    ExpressionUtils.column(TokenChunks(
      ExpressionUtils.expression(c), chunkSize, overlap))

  def tokenCount(c: Column): Column =
    ExpressionUtils.column(TokenCount(ExpressionUtils.expression(c)))

  def componentLosers(c: Column): Column =
    ExpressionUtils.column(ComponentLosers(ExpressionUtils.expression(c)))

  def hashedBagSigmoid(c: Column, weights: Seq[Double], bias: Double): Column =
    ExpressionUtils.column(HashedBagSigmoid(
      ExpressionUtils.expression(c), weights, bias))

  def shingleDistinctCount(c: Column, shingleK: Int): Column =
    ExpressionUtils.column(ShingleDistinctCount(
      ExpressionUtils.expression(c), shingleK))

  def tokenSetHits(c: Column, sets: Seq[Seq[String]]): Column =
    ExpressionUtils.column(TokenSetHits(ExpressionUtils.expression(c), sets))

  def subwordCount(c: Column): Column =
    ExpressionUtils.column(SubwordCount(ExpressionUtils.expression(c)))

  def tokenFingerprint(c: Column): Column =
    ExpressionUtils.column(TokenFingerprint(ExpressionUtils.expression(c)))

  def compressionRatio(c: Column, level: Int = 6): Column =
    ExpressionUtils.column(CompressionRatio(ExpressionUtils.expression(c), level))

  def unicodeNormalize(c: Column, form: String = "NFC"): Column =
    ExpressionUtils.column(UnicodeNormalize(ExpressionUtils.expression(c), form))

  def redactCardNumbers(c: Column): Column =
    ExpressionUtils.column(RedactCardNumbers(ExpressionUtils.expression(c)))

  /** Foreign-warehouse row hash ([[ForeignBucketHash]]); compose with
    * `pmod(_, lit(n))` for the warehouse's bucket id. */
  def foreignBucketHash(cols: Column*): Column =
    ExpressionUtils.column(ForeignBucketHash(
      cols.map(ExpressionUtils.expression)))

  /** The foreign warehouse's bucket assignment for `numBuckets` clustered
    * buckets — bit-compatible co-location key for cross-system bucket
    * joins. */
  def foreignBucketId(numBuckets: Int, cols: Column*): Column = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    org.apache.spark.sql.functions.pmod(foreignBucketHash(cols: _*),
      org.apache.spark.sql.functions.lit(numBuckets))
  }

  /** Rank bucket id against sorted cut points ([[RangeBucketId]]). */
  def rangeBucketId(c: Column, boundaries: Seq[Double]): Column =
    ExpressionUtils.column(RangeBucketId(
      ExpressionUtils.expression(c), boundaries))

  /** Rank bucket id of a string against sorted cut points
    * ([[StringRangeBucketId]]). */
  def stringRangeBucketId(c: Column, boundaries: Seq[String]): Column =
    ExpressionUtils.column(StringRangeBucketId(
      ExpressionUtils.expression(c), boundaries))

  /** Morton interleave of an `array<int>` of bucket ids ([[InterleaveBits]]). */
  def interleaveBits(c: Column, bits: Int): Column =
    ExpressionUtils.column(InterleaveBits(
      ExpressionUtils.expression(c), bits))

  /** Bloom-filter aggregate over `xxhash64(value)` — the same pair Spark's
    * own runtime-filter injection uses (`BloomFilterAggregate` fed by
    * `XxHash64`), exposed so an operator can build a filter on one
    * DataFrame and apply it to another. Returns one binary row (the
    * serialized sketch). */
  def bloomAggregate(value: Column, expectedItems: Long): Column =
    ExpressionUtils.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        new org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(ExpressionUtils.expression(value))),
        expectedItems).toAggregateExpression())

  /** Codegen'd membership probe against a serialized bloom filter built by
    * [[bloomAggregate]]; hashes `value` with the matching XxHash64. */
  def bloomMightContain(bloom: Array[Byte], value: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bloom, BinaryType),
        new org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(ExpressionUtils.expression(value)))))

  /** 64-bit perceptual dHash of a binary payload ([[DHash64]]). */
  def dhash64(c: Column): Column =
    ExpressionUtils.column(DHash64(ExpressionUtils.expression(c)))

  /** Per-window exact energy sums of a binary payload
    * ([[AudioEnergyWindows]]). */
  def audioEnergyWindows(c: Column, window: Int): Column =
    ExpressionUtils.column(
      AudioEnergyWindows(ExpressionUtils.expression(c), window))

  /** Content-defined chunk list of a binary payload ([[ContentChunks]]). */
  def contentChunks(c: Column, minSize: Int, avgBits: Int,
      maxSize: Int): Column =
    ExpressionUtils.column(ContentChunks(
      ExpressionUtils.expression(c), minSize, avgBits, maxSize))

  /** Mergeable KLL quantile-sketch aggregate ([[KllSketchAgg]]): reduces a
    * double column to a serialized sketch (binary) that answers any
    * rank/quantile query and merges associatively — persist per-slice,
    * fold later with [[kllMergeAgg]]. */
  def kllSketchAgg(value: Column, k: Int = 200): Column =
    ExpressionUtils.column(KllSketchAgg(
      ExpressionUtils.expression(value), k).toAggregateExpression())

  /** Fold persisted KLL sketches (binary) into one ([[KllMergeAgg]]). */
  def kllMergeAgg(sketch: Column, k: Int = 200): Column =
    ExpressionUtils.column(KllMergeAgg(
      ExpressionUtils.expression(sketch), k).toAggregateExpression())

  /** Quantile at `rank` from a serialized KLL sketch ([[KllQuantile]]). */
  def kllQuantile(sketch: Column, rank: Double): Column =
    ExpressionUtils.column(KllQuantile(
      ExpressionUtils.expression(sketch), rank))

  /** Exact value count a serialized KLL sketch absorbed ([[KllCount]]). */
  def kllCount(sketch: Column): Column =
    ExpressionUtils.column(KllCount(ExpressionUtils.expression(sketch)))

  /** Theta distinct-set sketch aggregate ([[ThetaSketchAgg]]): the
    * set-operation sketch — estimates compose under union / intersect /
    * difference via [[thetaCombine]], so snapshot overlap questions
    * never join the snapshots. */
  def thetaSketchAgg(value: Column): Column =
    ExpressionUtils.column(ThetaSketchAgg(
      ExpressionUtils.expression(value)).toAggregateExpression())

  /** Fold persisted theta sketches (binary) into one ([[ThetaUnionAgg]]). */
  def thetaUnionAgg(sketch: Column): Column =
    ExpressionUtils.column(ThetaUnionAgg(
      ExpressionUtils.expression(sketch)).toAggregateExpression())

  /** Set algebra on two serialized theta sketches ([[ThetaCombine]]):
    * op ∈ union | intersect | a_not_b. */
  def thetaCombine(a: Column, b: Column, op: String): Column =
    ExpressionUtils.column(ThetaCombine(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b), op))

  /** Distinct estimate of a serialized theta sketch ([[ThetaEstimate]]). */
  def thetaEstimate(sketch: Column): Column =
    ExpressionUtils.column(ThetaEstimate(ExpressionUtils.expression(sketch)))

  /** Per-script codepoint counts of a string ([[ScriptCounts]]):
    * struct(latin, cyrillic, greek, arabic, hebrew, devanagari, cjk,
    * hangul). */
  def scriptCounts(c: Column): Column =
    ExpressionUtils.column(ScriptCounts(ExpressionUtils.expression(c)))

  /** Mergeable exact bottom-k sampler ([[BottomKIdsAgg]]): the k ids with
    * the smallest (key, id) pairs per group, as `array<bigint>` ascending —
    * deterministic k-per-group sampling without sorting whole groups. */
  def bottomKIdsAgg(key: Column, id: Column, k: Int): Column =
    ExpressionUtils.column(BottomKIdsAgg(
      ExpressionUtils.expression(key), ExpressionUtils.expression(id),
      k).toAggregateExpression())

  /** Order-preserving double → long bits ([[SortableDoubleBits]]);
    * NaN above +Inf, matching Spark's sort order. */
  def sortableDoubleBits(c: Column): Column =
    ExpressionUtils.column(SortableDoubleBits(ExpressionUtils.expression(c)))

  /** Mergeable count-min frequency sketch over a string column
    * ([[CmsSketchAgg]]): fixed-size table answering per-item frequency
    * for ANY item, merge = cell-wise addition (bit-deterministic). */
  def cmsSketchAgg(value: Column, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42): Column =
    ExpressionUtils.column(CmsSketchAgg(
      ExpressionUtils.expression(value), eps, confidence,
      seed).toAggregateExpression())

  /** Fold persisted CMS sketches (binary) into one ([[CmsMergeAgg]]);
    * same (eps, confidence, seed) as the sketches being folded. */
  def cmsMergeAgg(sketch: Column, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42): Column =
    ExpressionUtils.column(CmsMergeAgg(
      ExpressionUtils.expression(sketch), eps, confidence,
      seed).toAggregateExpression())

  /** Point-frequency estimate of `item` from a serialized CMS sketch
    * ([[CmsEstimate]]); overcounts only, ≤ ε·N with the sketch's
    * confidence. */
  def cmsEstimate(sketch: Column, item: Column): Column =
    ExpressionUtils.column(CmsEstimate(
      ExpressionUtils.expression(sketch), ExpressionUtils.expression(item)))

  private def intLit(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => sys.error(s"expected integer literal, got $other")
  }

  private def fn(name: String)(build: Seq[Expression] => Expression) =
    name -> build

  /** The SQL function table: every native expression's SQL name and
    * builder. `graft.GraftExtensions` injects it into sessions built with
    * the extension; [[register]] installs it on a live session. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    fn("cosine_sim")(e => CosineSimilarity(e(0), e(1))),
    fn("dot_product")(e => DotProduct(e(0), e(1))),
    fn("simhash64")(e => SimHash64(e.head)),
    fn("token_count")(e => TokenCount(e.head)),
    fn("shingle_hashes")(e => ShingleHashes(e(0), intLit(e(1)))),
    fn("minhash_signature")(e =>
      MinHashSignature(e(0), intLit(e(1)), intLit(e(2)))),
    fn("minhash_bands")(e =>
      MinHashBands(e(0), intLit(e(1)), intLit(e(2)), intLit(e(3)))),
    fn("subword_count")(e => SubwordCount(e.head)),
    fn("token_fingerprint")(e => TokenFingerprint(e.head)),
    fn("compression_ratio")(e =>
      CompressionRatio(e(0), if (e.length > 1) intLit(e(1)) else 6)),
    fn("unicode_normalize")(e => UnicodeNormalize(e(0), e.lift(1).map {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, StringType) =>
        v.toString
      case other => sys.error(s"expected string literal form, got $other")
    }.getOrElse("NFC"))),
    fn("redact_card_numbers")(e => RedactCardNumbers(e.head)),
    fn("shingle_distinct_count")(e =>
      ShingleDistinctCount(e(0), intLit(e(1)))),
    fn("interleave_bits")(e => InterleaveBits(e(0), intLit(e(1)))),
    fn("foreign_bucket_hash")(e => ForeignBucketHash(e)),
    fn("script_counts")(e => ScriptCounts(e.head)))

  /** Register the native expressions for SQL use in an existing session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}

/** Unicode script-mix profiling kernel — the curation signal ABOVE
  * language-ID: a document whose characters straddle scripts (Latin body
  * with Cyrillic look-alikes, CJK spam inside an English crawl, mixed
  * RTL fragments) is a classic junk/adversarial marker that n-gram
  * language-ID misses because it answers "which one language" rather
  * than "how many scripts".
  *
  * Classes are defined as CODEPOINT RANGES (not `Character.UnicodeScript`)
  * so an external engine can reproduce the counts with plain regex
  * character classes — the exact ranges below are mirrored 1:1 in the
  * t151 oracle. One pass over the string, counting CODEPOINTS (not UTF-16
  * units — supplementary-plane input must not double-count), eight
  * counters, zero allocation beyond the result row.
  */
object ScriptKernels {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  // field order is the tie-break priority for "dominant script"
  val FieldNames: Seq[String] = Seq("latin", "cyrillic", "greek", "arabic",
    "hebrew", "devanagari", "cjk", "hangul")

  def scriptCounts(s: UTF8String): InternalRow = {
    val str = s.toString
    val n = str.length
    var latin = 0L; var cyr = 0L; var greek = 0L; var arab = 0L
    var heb = 0L; var dev = 0L; var cjk = 0L; var hang = 0L
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
          (cp >= 0xC0 && cp <= 0x24F)) latin += 1
      else if (cp >= 0x400 && cp <= 0x4FF) cyr += 1
      else if (cp >= 0x370 && cp <= 0x3FF) greek += 1
      else if (cp >= 0x600 && cp <= 0x6FF) arab += 1
      else if (cp >= 0x590 && cp <= 0x5FF) heb += 1
      else if (cp >= 0x900 && cp <= 0x97F) dev += 1
      else if ((cp >= 0x2E80 && cp <= 0x9FFF) ||
               (cp >= 0xF900 && cp <= 0xFAFF)) cjk += 1
      else if (cp >= 0xAC00 && cp <= 0xD7AF) hang += 1
    }
    new GenericInternalRow(Array[Any](latin, cyr, greek, arab, heb, dev,
      cjk, hang))
  }
}

/** [[ScriptKernels.scriptCounts]] as a codegen'd expression returning
  * `struct<latin,cyrillic,greek,arabic,hebrew,devanagari,cjk,hangul:
  * bigint>`. */
case class ScriptCounts(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    StructType(ScriptKernels.FieldNames.map(f =>
      StructField(f, LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    ScriptKernels.scriptCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.ScriptKernels.scriptCounts($c)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "script_counts"
}

/** Order-preserving IEEE-754 double → signed long mapping (the classic
  * sortable-bits trick: flip the sign bit for positives, flip ALL bits
  * for negatives): `a < b  ⇔  sortableBits(a) < sortableBits(b)` for all
  * non-NaN doubles, and NaN (canonical bits) lands ABOVE +Infinity —
  * the same total order Spark's own sort uses. Lets score-typed columns
  * ride long-keyed machinery (the bottom-k sampler) without loss. */
object SortKernels {
  def sortableBits(d: Double): Long = {
    // Lucene's doubleToSortableLong: negatives flip their magnitude bits
    // (sign bit stays 1 → they remain the SMALLER signed-long half, in
    // reversed-magnitude = ascending-value order); non-negatives pass
    // through (sign bit 0 → the larger half, already ascending)
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & 0x7fffffffffffffffL)
  }
}

/** [[SortKernels.sortableBits]] as a codegen'd expression. */
case class SortableDoubleBits(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SortKernels.sortableBits(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.SortKernels.sortableBits($c)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "sortable_double_bits"
}
