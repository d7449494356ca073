package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{BloomJoin, Dedup, TextAnalysis}

/** Round-3 curation operators: span dedup, quality gate, stratified
  * sampling, bloom-pruned join, int8 quantization, HLL sketches. */
class CurationOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("spanDedup drops repeated spans, keeps first occurrence, and " +
      "removes fully-duplicate documents") {
    val a = "w1 w2 w3 w4 unique1 unique2 unique3 unique4"      // spans A1 A2
    val docs = Seq(
      (1L, a),
      (2L, "w1 w2 w3 w4 fresh1 fresh2 fresh3 fresh4"),         // A1 + fresh
      (3L, a),                                                 // full dup: gone
      (4L, "solo1 solo2 solo3 solo4")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", spanTokens = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == (a, 2L))
    assert(out(2L) == ("fresh1 fresh2 fresh3 fresh4", 1L)) // shared span dropped
    assert(!out.contains(3L))
    assert(out(4L) == ("solo1 solo2 solo3 solo4", 1L))
  }

  test("spanDedup hash-first path equals the naive span-string window") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val k = 8
    val spans = docs.select(col("doc_id").as("id"),
        posexplode(org.apache.spark.sql.graft.NativeFunctions
          .tokenChunks(col("text"), k, 0)))
      .withColumnsRenamed(Map("col" -> "span"))
    val naive = spans
      .withColumn("rn", row_number().over(
        Window.partitionBy("span").orderBy("id", "pos")))
      .filter(col("rn") === 1)
      .groupBy("id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("span")))),
        x => x.getField("span")), " ").as("text"))
    val fast = Dedup.spanDedup(docs, "doc_id", "text", k)
      .select(col("id"), col("text"))
    assert(fast.except(naive).isEmpty && naive.except(fast).isEmpty)
  }

  test("spanDedup: raw span text only shuffles for the candidate sliver " +
      "and the reassembly") {
    import graft.plans.PlanNodes
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val docs = Tables.documents(spark, sf)
    val out = Dedup.spanDedup(docs, "doc_id", "text", 8)
    out.count()
    val shuffles = PlanNodes(out.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.nonEmpty)
    // a shuffle carrying the raw span column must be the candidate-sliver
    // window (downstream of the broadcast join with the colliding-hash
    // set); the corpus-wide repeated-span detection shuffles only
    // (xxhash64, partial count)
    shuffles.filter(_.output.exists(_.name == "span")).foreach { s =>
      assert(PlanNodes(s.child).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"span-width shuffle not under the candidate join:\n$s")
    }
  }

  test("gopherKeep applies each quality rule independently") {
    val pass = "the quick brown fox jumps over a lazy dog near the old mill " +
      "and runs far away to find some food in the deep dark woods tonight ok"
    val tooShort = "just a few words here"
    val noStops = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "alpha2 beta2 gamma2 delta2 epsilon2 zeta2"
    val repetitive = ("spam ham " * 20).trim
    val df = Seq(pass, tooShort, noStops, repetitive).toDF("text")
      .select(col("text"), TextAnalysis.gopherKeep(col("text"),
        minWords = 25, maxWords = 1000, minMeanLen = 2.0, maxMeanLen = 8.0,
        minStopRatio = 0.02, maxRepetition = 0.5).as("keep"))
    val keep = df.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(keep(pass))
    assert(!keep(tooShort))      // word-count rule
    assert(!keep(noStops))       // stopword-ratio rule
    assert(!keep(repetitive))    // repetition rule
  }

  test("stratifiedSample honors per-stratum rates and is repartition-invariant") {
    val df = (0L until 4000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    val sampled = Dedup.stratifiedSample(df, "id", "src",
      rates = Map("a" -> 0.5), defaultRate = 0.125)
    val counts = sampled.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // hash buckets are uniform-ish; 2000 rows/stratum → loose 3-sigma bounds
    assert(counts("a") > 850 && counts("a") < 1150)
    assert(counts("b") > 160 && counts("b") < 340)
    val repart = Dedup.stratifiedSample(df.repartition(17), "id", "src",
      rates = Map("a" -> 0.5), defaultRate = 0.125)
    assert(sampled.select("id").except(repart.select("id")).isEmpty &&
      repart.select("id").except(sampled.select("id")).isEmpty)
  }

  test("bloomPrunedJoin equals the plain join and probes before the join") {
    val orders = Tables.orders(spark, sf)
    val dim = Tables.customer(spark, sf).filter(col("c_acctbal") > 0)
    val pruned = BloomJoin.bloomPrunedJoin(orders, dim,
      "o_custkey", "c_custkey", expectedDimRows = 10000)
    val plain = orders.join(dim, orders("o_custkey") === dim("c_custkey"))
    assert(pruned.except(plain).isEmpty && plain.except(pruned).isEmpty)
    // the probe must sit on the fact side BEFORE the join
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"))
  }

  test("quantizeInt8 round-trips within scale/2 per element") {
    val emb = Tables.embeddings(spark, sf)
      .withColumn("scale", VectorFunctions.int8Scale(col("embedding")))
      .withColumn("qv", VectorFunctions.quantizeInt8(col("embedding"), col("scale")))
    val bad = emb.select(
        max(abs(col("qv").getItem(0))).as("m"),
        max(aggregate(
          zip_with(
            VectorFunctions.dequantizeInt8(col("qv"), col("scale")),
            transform(col("embedding"), x => x.cast("double")),
            (dq, v) => abs(dq - v) - col("scale") / 2.0 - lit(1e-12)),
          lit(0.0), (acc, e) => greatest(acc, e))).as("worst"))
      .head()
    assert(bad.getAs[Int]("m") <= 127)
    assert(bad.getAs[Double]("worst") <= 0.0) // every element within scale/2
  }

  test("quantizeInt8 maps the zero vector to zeros") {
    val z = Seq((1L, Array(0f, 0f, 0f))).toDF("id", "embedding")
      .withColumn("scale", VectorFunctions.int8Scale(col("embedding")))
      .withColumn("qv", VectorFunctions.quantizeInt8(col("embedding"), col("scale")))
      .select("qv").head().getSeq[Int](0)
    assert(z == Seq(0, 0, 0))
  }

  test("hll sketch estimate is near-exact and per-partition sketches merge " +
      "to the global estimate") {
    val docs = Tables.documents(spark, sf)
    val exact = docs.select(countDistinct("doc_id")).head().getLong(0)
    val est = docs.select(
      hll_sketch_estimate(hll_sketch_agg(col("doc_id"))).as("e"))
      .head().getLong(0)
    assert(math.abs(est - exact).toDouble / exact < 0.05)
    // mergeability: union of per-partition sketches == global sketch
    val merged = docs.repartition(7)
      .groupBy(spark_partition_id().as("p"))
      .agg(hll_sketch_agg(col("doc_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e"))
      .head().getLong(0)
    assert(merged == est)
  }

  test("kll sketch: exact mode equals order statistics; nulls skipped; " +
      "empty sketch yields null quantile") {
    import org.apache.spark.sql.graft.NativeFunctions._
    import spark.implicits._
    val vals = Seq(5.0, 1.0, 4.0, 2.0, 3.0, 2.0) // sorted: 1 2 2 3 4 5
    val df = (vals.map(Option(_)) :+ Option.empty[Double]).toDF("x")
    val row = df.agg(kllSketchAgg(col("x"), k = 200).as("sk"))
      .select(kllCount(col("sk")).as("n"),
        kllQuantile(col("sk"), 0.5).as("p50"),
        kllQuantile(col("sk"), 0.0).as("p0"),
        kllQuantile(col("sk"), 1.0).as("p100")).head()
    assert(row.getLong(0) == 6L) // null skipped, duplicates counted
    // inclusive rank: smallest v with rank >= q -> ceil(0.5*6)=3rd value
    assert(row.getDouble(1) == 2.0)
    assert(row.getDouble(2) == 1.0 && row.getDouble(3) == 5.0)
    // an all-null group produces an EMPTY sketch, not a crash or a number
    val empty = Seq(Option.empty[Double]).toDF("x")
      .agg(kllSketchAgg(col("x")).as("sk"))
      .select(kllQuantile(col("sk"), 0.5)).head()
    assert(empty.isNullAt(0))
  }

  test("theta sketch: exact-mode set algebra; null sketches null-safe") {
    import org.apache.spark.sql.graft.NativeFunctions._
    import spark.implicits._
    val a = (1 to 100).map(i => s"doc$i").toDF("x")
      .agg(thetaSketchAgg(col("x")).as("sk"))
    val b = (51 to 160).map(i => s"doc$i").toDF("x")
      .agg(thetaSketchAgg(col("x")).as("sk"))
    val r = a.crossJoin(b.select(col("sk").as("sk2")))
      .select(
        thetaEstimate(col("sk")).as("na"),
        thetaEstimate(thetaCombine(col("sk"), col("sk2"), "intersect")).as("ni"),
        thetaEstimate(thetaCombine(col("sk"), col("sk2"), "a_not_b")).as("nd"),
        thetaEstimate(thetaCombine(col("sk"), col("sk2"), "union")).as("nu"))
      .head()
    assert(r.getDouble(0) == 100.0 && r.getDouble(1) == 50.0)
    assert(r.getDouble(2) == 50.0 && r.getDouble(3) == 160.0)
    // nulls are skipped by the aggregate, not sketched as a value
    val withNull = (Seq("a", "b").map(Option(_)) :+ None).toDF("x")
      .agg(thetaEstimate(thetaSketchAgg(col("x")))).head().getDouble(0)
    assert(withNull == 2.0)
  }

  test("theta sketch: sampling regime bounds error; persisted sketches fold") {
    import org.apache.spark.sql.graft.NativeFunctions._
    // 100k distinct >> 4096 retained: estimate within 5% (k=4096 gives
    // ~1.6% RSE; 5% is > 3 sigma)
    val df = spark.range(100000)
      .select(col("id"), concat(lit("v"), col("id")).as("x"))
    val est = df.agg(thetaEstimate(thetaSketchAgg(col("x"))))
      .head().getDouble(0)
    assert(math.abs(est - 100000.0) / 100000.0 < 0.05, s"est=$est")
    // per-slice sketches persisted then folded: same error envelope
    val folded = df.groupBy((col("id") % 13).as("slice"))
      .agg(thetaSketchAgg(col("x")).as("sk"))
      .agg(thetaEstimate(thetaUnionAgg(col("sk")))).head().getDouble(0)
    assert(math.abs(folded - 100000.0) / 100000.0 < 0.05, s"folded=$folded")
  }

  test("kll sketch: approximate regime bounds rank error; partial sketches " +
      "merge to the corpus answer") {
    import org.apache.spark.sql.graft.NativeFunctions._
    // 100k uniform values with k=200 -> deep compaction; normalized rank
    // error for k=200 is ~1.65% at 99% confidence. Assert 3%.
    val df = spark.range(100000).select((col("id") % 10000).cast("double").as("x"))
    val q = df.agg(kllSketchAgg(col("x"), k = 200).as("sk"))
      .select(kllQuantile(col("sk"), 0.5).as("p50"),
        kllCount(col("sk")).as("n")).head()
    assert(q.getLong(1) == 100000L) // n is exact even when compacted
    assert(math.abs(q.getDouble(0) - 5000.0) / 10000.0 < 0.03,
      s"p50=${q.getDouble(0)}")
    // merge path: per-slice sketches folded == same error envelope, same n
    val merged = df.groupBy((col("x") % 7).as("slice"))
      .agg(kllSketchAgg(col("x"), k = 200).as("sk"))
      .agg(kllMergeAgg(col("sk"), k = 200).as("sk"))
      .select(kllQuantile(col("sk"), 0.5).as("p50"),
        kllCount(col("sk")).as("n")).head()
    assert(merged.getLong(1) == 100000L)
    assert(math.abs(merged.getDouble(0) - 5000.0) / 10000.0 < 0.03)
  }

  test("cms sketch: exact in the uncrowded regime, never undercounts, " +
      "persisted sketches fold bit-identically") {
    import org.apache.spark.sql.graft.NativeFunctions._
    import spark.implicits._
    // 37 distinct items vs width ~2/eps = 20000: estimates are exact
    val df = (1 to 500).map(i => s"tok${i % 37}").toDF("x")
    val probe = df.agg(cmsSketchAgg(col("x"), eps = 0.0001).as("sk"))
      .select(cmsEstimate(col("sk"), lit("tok1")).as("a"),
        cmsEstimate(col("sk"), lit("absent")).as("z")).head()
    assert(probe.getLong(0) === 14L)   // i % 37 == 1 for 14 of 1..500
    assert(probe.getLong(1) === 0L)

    // cell-wise-addition merge: per-slice sketches fold to the EXACT
    // bytes of the one-pass sketch, independent of partitioning
    val whole = df.agg(cmsSketchAgg(col("x")).as("sk"))
      .head().getAs[Array[Byte]](0)
    val folded = df.repartition(7)
      .withColumn("s", pmod(xxhash64(col("x")), lit(5)))
      .groupBy(col("s")).agg(cmsSketchAgg(col("x")).as("sk"))
      .agg(cmsMergeAgg(col("sk")).as("sk"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(whole, folded))

    // crowded regime (5000 distinct vs width 200): overcount only,
    // bounded by eps*N with headroom
    val big = spark.range(20000)
      .select(concat(lit("w"), col("id") % 5000).as("x"))
    val est = big.agg(cmsSketchAgg(col("x"), eps = 0.01).as("sk"))
      .select(cmsEstimate(col("sk"), lit("w1")).as("e")).head().getLong(0)
    assert(est >= 4L, s"CMS must never undercount, got $est")
    assert(est <= 4L + (3 * 0.01 * 20000).toLong, s"overcount blew up: $est")
  }

  private def messageChain(e: Throwable): String = {
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
  }

  test("kll fold: mixed-k persisted sketches are refused loudly, not " +
      "silently degraded to the smaller k") {
    import org.apache.spark.sql.graft.NativeFunctions._
    val df = spark.range(1000).select(col("id").cast("double").as("v"))
    val k200 = df.agg(kllSketchAgg(col("v"), k = 200).as("sk"))
    val k400 = df.agg(kllSketchAgg(col("v"), k = 400).as("sk"))
    val mixed = k200.union(k400)

    // same-k folds stay lawful at both sizes
    for (k <- Seq(200, 400)) {
      val d = if (k == 200) k200 else k400
      val folded = d.union(d).agg(kllMergeAgg(col("sk"), k = k).as("sk"))
        .select(kllQuantile(col("sk"), 0.5).as("q")).head().getDouble(0)
      assert(math.abs(folded - 499.5) < 50.0, s"k=$k median drifted: $folded")
    }

    // mixed-k fold fails with the declared and offending k in the message
    val e = intercept[Exception] {
      mixed.agg(kllMergeAgg(col("sk"), k = 200).as("sk")).collect()
    }
    val chain = messageChain(e)
    assert(chain.contains("kll_merge_agg(k=200)") && chain.contains("k=400"),
      s"expected a loud mixed-k refusal, got: $chain")
  }

  test("cms fold: sketches with different geometry (eps/seed) are refused " +
      "with the declared parameters in the error") {
    import org.apache.spark.sql.graft.NativeFunctions._
    val df = (1 to 100).map(i => s"tok$i").toDF("x")
    val a = df.agg(cmsSketchAgg(col("x"), eps = 0.01).as("sk"))
    val b = df.agg(cmsSketchAgg(col("x"), eps = 0.001).as("sk"))
    val e = intercept[Exception] {
      a.union(b).agg(cmsMergeAgg(col("sk"), eps = 0.01).as("sk")).collect()
    }
    val chain = messageChain(e)
    assert(chain.contains("cms_merge_agg(eps=0.01"),
      s"expected a loud geometry refusal naming the declared eps, got: $chain")
  }

  test("theta fold: mixed exact-mode and sampling-mode sketches union " +
      "lawfully (theta composes across retained-set sizes by design)") {
    import org.apache.spark.sql.graft.NativeFunctions._
    // small corpus: exact-mode sketch; large corpus: sampling mode.
    // Disjoint ids, so truth = 500 + 100000.
    val small = spark.range(500)
      .select(concat(lit("s"), col("id")).as("x"))
      .agg(thetaSketchAgg(col("x")).as("sk"))
    val large = spark.range(100000)
      .select(concat(lit("l"), col("id")).as("x"))
      .agg(thetaSketchAgg(col("x")).as("sk"))
    val est = small.union(large)
      .agg(thetaUnionAgg(col("sk")).as("sk"))
      .select(thetaEstimate(col("sk")).as("e")).head().getDouble(0)
    assert(math.abs(est - 100500.0) / 100500.0 < 0.05,
      s"mixed-regime theta union drifted: $est")
  }

  test("hll fold: mixed-lgConfigK unions throw by default and require the " +
      "explicit allowDifferentLgConfigK opt-in") {
    val df = spark.range(1000).toDF("id")
    val sk12 = df.agg(hll_sketch_agg(col("id"), lit(12)).as("sk"))
    val sk14 = df.agg(hll_sketch_agg(col("id"), lit(14)).as("sk"))
    val mixed = sk12.union(sk14)
    intercept[Exception] {
      mixed.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e")).collect()
    }
    val est = mixed
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(true))).as("e"))
      .head().getLong(0)
    assert(math.abs(est - 1000.0) / 1000.0 < 0.05, s"opt-in union drifted: $est")
  }
}
