package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Physical-plan quality gates — the ".explain and iterate" discipline from
  * the build brief, pinned as tests so regressions fail loudly:
  * filter pushdown reaches the parquet scan, projections prune ReadSchema,
  * small dims broadcast, bucketed joins avoid shuffles, count(*) scans no
  * columns. */
class PlansSpec extends SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan (q01)") {
    val p = plan(SparkEntry.queries("q01_scan_filter")(spark, sf))
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"), p.take(2000))
  }

  test("column pruning: unused columns never reach the scan (q22)") {
    val p = plan(SparkEntry.queries("q22_lookup_join")(spark, sf))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_tax"), "q22 does not use l_tax; scan must prune it")
    assert(!p.contains("l_shipdate"))
  }

  test("string-prefix filters push down (extended filter IR)") {
    val df = Tables.part(spark, sf)
      .filter(col("p_name").startsWith("gold"))
      .select("p_partkey", "p_name")
    val p = plan(df)
    assert(p.contains("StringStartsWith(p_name,gold)"), p.take(1500))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort (q10)") {
    val p = plan(SparkEntry.queries("q10_topk")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("small dimensions broadcast (q04)") {
    val p = plan(SparkEntry.queries("q04_join_dims")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("scans are vectorized (columnar batch read)") {
    val p = plan(SparkEntry.queries("q01_scan_filter")(spark, sf))
    assert(p.contains("Batched: true"), p.take(800))
  }

  test("count(*) over parquet scans zero columns") {
    val p = plan(Tables.lineitem(spark, sf).groupBy().count())
    assert(p.contains("ReadSchema: struct<>"), p.take(800))
  }

  test("partial aggregation before the shuffle (q02)") {
    val p = plan(SparkEntry.queries("q02_agg_pricing")(spark, sf))
    // two HashAggregate levels (partial + final) around one Exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("bucketed join avoids shuffle exchanges") {
    val wh = Files.createTempDirectory("graft_buckets").toString
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    o.write.mode("overwrite")
      .option("path", s"$wh/o_b").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")
    li.write.mode("overwrite")
      .option("path", s"$wh/li_b").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("o_bucketed")
        .join(spark.table("li_bucketed"),
          col("o_orderkey") === col("l_orderkey"))
      val p = plan(joined)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
      assert(!p.contains("Exchange hashpartitioning"),
        "bucketed tables must co-locate without a shuffle:\n" + p.take(1500))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
    }
  }

  test("bucket pruning: a point filter on the bucket column reads 1/n " +
      "buckets") {
    // the reference lets a reader request specific buckets
    // (cupid-table-api/.../reader/PartitionSpecWithBucketFilter.java:36-47);
    // Spark's bucket pruning is the delegated equivalent — pinned here so
    // a layout/config regression (pruning silently off => full scan)
    // fails loudly
    val wh = Files.createTempDirectory("graft_bucket_prune").toString
    Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .write.mode("overwrite")
      .option("path", s"$wh/o_bp").bucketBy(8, "o_orderkey")
      .saveAsTable("o_bucket_prune")
    // DisableUnnecessaryBucketedScan only reasons about output
    // partitioning (joins/aggs), not bucket-filter pruning, so for a
    // filter-only query it flips the scan to "Bucketed: false" and the
    // pruning with it — reading with autoBucketedScan off is how a
    // point-lookup job keeps the 1/n-bucket scan
    val prev = spark.conf
      .get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf
      .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val p = spark.table("o_bucket_prune")
        .filter(col("o_orderkey") === 42L)
        .queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of 8"),
        "point filter on the bucket column must prune to one bucket:\n" +
          p.take(1500))
    } finally {
      spark.conf
        .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
      spark.sql("DROP TABLE IF EXISTS o_bucket_prune")
    }
  }

  test("dynamic partition pruning fires for fact join with filtered dim") {
    // the reference hand-implements DPP (OdpsTableScanExec.scala:125-167);
    // here Catalyst injects the dynamicpruning subquery on the fact scan —
    // pinned so a layout/config regression fails loudly
    val dir = Files.createTempDirectory("graft_dpp").toString
    val o = Tables.orders(spark, sf)
      .withColumn("yr", year(col("o_orderdate")))
    graft.sources.PartitionedWrite.writePartitioned(o, dir, Seq("yr"))
    val fact = spark.read.parquet(dir)
    val dim = spark.range(1990, 2000)
      .select(col("id").cast("int").as("yr"), (col("id") % 7).as("flag"))
    val joined = fact.join(dim, Seq("yr")).filter(col("flag") === 2)
      .groupBy("yr").agg(count(lit(1)).as("n"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), p.take(2500))
  }

  test("near-dup plans stay at two wide exchanges (no self-join blowup)") {
    // the in-bucket pair expansion keeps the whole pipeline at: one window
    // shuffle on the bucket keys + one shuffle for pair-dedup/verify — a
    // reintroduced bucket self-join or count-join-back would add exchanges
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    Seq(
      graft.operators.Dedup.minhashNearDups(docs, "doc_id", "text"),
      graft.operators.Dedup.ngramJaccardNearDups(docs, "doc_id", "text")
    ).foreach { df =>
      val n = WideSmoke.hashExchanges(df.queryExecution.executedPlan).size
      assert(n <= 3, s"plan grew to $n wide exchanges:\n" + plan(df).take(1500))
    }
  }

  test("simhash/minhash generate real code, not interpreted fallback") {
    import org.apache.spark.sql.execution.debug._
    val df = Tables.documents(spark, sf).select(
      org.apache.spark.sql.graft.NativeFunctions.simhash64(col("text")).as("s"),
      org.apache.spark.sql.graft.NativeFunctions
        .minhashSignature(col("text"), 5, 16).as("m"))
    val code = df.queryExecution.debug.codegenToSeq().map(_._2).mkString
    assert(code.contains("HashKernels.simhash64"), "simhash64 fell back")
    assert(code.contains("HashKernels.minhashSignature"), "minhash fell back")
  }

  test("native expressions stay inside whole-stage codegen") {
    val df = Tables.embeddings(spark, sf).select(
      graft.functions.VectorFunctions.cosine(col("embedding"), col("embedding")).as("c"))
    val p = plan(df)
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(p.contains("*(1) Project"), p.take(500))
  }

  test("catalog scans keep filter pushdown and column pruning through GraftStatsScan") {
    import org.apache.spark.sql.functions.{col => c}
    val wh = Files.createTempDirectory("graft_pd_wh").toString
    spark.conf.set("spark.sql.catalog.gpd", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpd.root", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gpd.db")
    spark.sql("CREATE TABLE gpd.db.t (k BIGINT, v DOUBLE, s STRING)")
    spark.range(1000)
      .select(c("id").as("k"), rand(1).as("v"), c("id").cast("string").as("s"))
      .writeTo("gpd.db.t").append()
    val q = spark.table("gpd.db.t").filter(c("k") > 500).select("k")
    val p = plan(q)
    // the stats-carrying scan subclass must not lose the stock behaviors
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(k,500"),
      p.take(1500))
    assert(!p.contains("ReadSchema: struct<k:bigint,v:double"),
      "projection must prune v/s from the scan:\n" + p.take(1500))
  }

  test("catalog scans push COUNT/MIN/MAX into parquet footers") {
    import org.apache.spark.sql.functions.{col => c}
    val wh = Files.createTempDirectory("graft_aggpd_wh").toString
    spark.conf.set("spark.sql.catalog.gagg", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gagg.root", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gagg.db")
    spark.sql("CREATE TABLE gagg.db.t (k BIGINT, v BIGINT)")
    spark.range(10000).select(c("id").as("k"), (c("id") * 3).as("v"))
      .writeTo("gagg.db.t").append()
    val agg = spark.sql("SELECT count(*) AS n, min(v) AS mn, max(v) AS mx " +
      "FROM gagg.db.t")
    val p = plan(agg)
    assert(p.contains("PushedAggregation"), p.take(1500))
    val row = agg.head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
      (10000L, 0L, 29997L))
  }

  test("catalog (DSv2) fact scan gets dynamic partition pruning") {
    import org.apache.spark.sql.functions.{col => c}
    val wh = Files.createTempDirectory("graft_dpp_wh").toString
    spark.conf.set("spark.sql.catalog.gdpp", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdpp.root", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdpp.db")
    spark.sql("CREATE TABLE gdpp.db.fact (k BIGINT, v DOUBLE, yr INT) " +
      "PARTITIONED BY (yr)")
    spark.range(20000)
      .select(c("id").as("k"), rand(7).as("v"),
        (lit(1990) + (c("id") % 10)).cast("int").as("yr"))
      .writeTo("gdpp.db.fact").append()
    val dim = spark.range(1990, 2000)
      .select(c("id").cast("int").as("yr"), (c("id") % 7).as("flag"))
    val joined = spark.table("gdpp.db.fact").join(dim, Seq("yr"))
      .filter(c("flag") === 2)
      .groupBy("yr").agg(count(lit(1)).as("n"))
    // the stock DSv2 FileScan silently loses DPP (no runtime filtering);
    // GraftStatsScan implements SupportsRuntimeFiltering, so the planner
    // injects the dynamicpruning subquery on the catalog fact scan
    val p = plan(joined)
    assert(p.contains("dynamicpruning"), p.take(2500))
    // and the result is still correct
    assert(joined.collect().map(_.getLong(1)).sum == 20000 / 10 * 2)
  }

  test("stats-fed planning: pruned-partition stats drive broadcast vs SMJ") {
    import org.apache.spark.sql.functions.{col => c}
    val wh = Files.createTempDirectory("graft_stats_wh").toString
    spark.conf.set("spark.sql.catalog.gstat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gstat.root", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gstat.db")
    spark.sql("CREATE TABLE gstat.db.dim (k BIGINT, pad STRING, dt STRING) " +
      "PARTITIONED BY (dt)")
    // 10 equal partitions; write commit collects row/byte stats per partition
    spark.range(2000)
      .select(c("id").as("k"), lpad(c("id").cast("string"), 60, "x").as("pad"),
        concat(lit("p"), (c("id") % 10).cast("string")).as("dt"))
      .writeTo("gstat.db.dim").append()
    val statsOf = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.optimizedPlan.collectLeaves().head.stats
    val sAll = statsOf(spark.table("gstat.db.dim"))
    val one = spark.table("gstat.db.dim").filter(c("dt") === "p3")
    val sOne = statsOf(one)
    // commit-collected rows, scaled by the pruned byte fraction
    assert(sAll.rowCount.contains(BigInt(2000)), sAll.toString)
    assert(sOne.rowCount.exists(rc => rc >= 180 && rc <= 220), sOne.toString)
    assert(sOne.sizeInBytes * 5 < sAll.sizeInBytes)
    // a threshold BETWEEN pruned and total size discriminates: the join
    // broadcasts the dim only because the planner sees the PRUNED size
    val fact = spark.range(500000).select((c("id") % 2000).as("k"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((sOne.sizeInBytes + sAll.sizeInBytes) / 2).toString)
      val pruned = fact.join(
        spark.table("gstat.db.dim").filter(c("dt") === "p3"), "k")
      assert(plan(pruned).contains("BroadcastHashJoin"), plan(pruned).take(2000))
      val unpruned = fact.join(spark.table("gstat.db.dim"), "k")
      assert(plan(unpruned).contains("SortMergeJoin"), plan(unpruned).take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("classifier scoring is zero-shuffle (literal weights, no join)") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val model = graft.operators.Classifier.LinearModel(
      Array.fill(1 << 10)(0.01), 0.0, 1 << 10)
    val p = plan(graft.operators.Classifier.classify(docs, "text", model)
      .filter(col("keep")))
    assert(!p.contains("Exchange"),
      s"scoring must be a pure per-row expression, got:\n${p.take(2000)}")
    assert(!p.contains("Join"), p.take(2000))
  }

  test("lineDedup counting shuffle carries line hashes, not line text") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val out = graft.operators.Dedup.lineDedup(docs, "doc_id", "text", 5)
    out.count()
    val p = plan(out)
    // pass-1 aggregation exchanges on the 64-bit line hash column
    assert(p.contains("hashpartitioning(__lh"),
      s"count pass must partition on the hash:\n${p.take(3000)}")
    // the boilerplate set reaches the reassembly side as a broadcast —
    // the corpus spine never shuffles for the anti/flag join
    assert(p.contains("BroadcastExchange"), p.take(3000))
  }

  test("prototypicality centroid fit aggregates before its exchange") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label"))
    val scored = graft.operators.Similarity.prototypicality(
      emb, "vec_id", "embedding", "label")
    scored.count()
    val p = plan(scored)
    // partial HashAggregate below the (domain, dim) exchange: the shuffle
    // carries partial sums, not raw vector elements
    val idx = p.indexOf("Exchange hashpartitioning(__dom")
    assert(idx > 0, p.take(3000))
    assert(p.substring(idx).contains("HashAggregate"), p.take(3000))
    // centroids reach the scoring join as a broadcast
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("URL normalization and HTML extraction are zero-shuffle expressions") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val p = plan(docs.select(col("doc_id"),
      graft.operators.UrlOps.normalizeUrl(col("text")).as("u"),
      graft.operators.TextAnalysis.htmlToText(col("text")).as("h")))
    assert(!p.contains("Exchange"),
      s"regex chains must stay per-row:\n${p.take(2000)}")
    // "*(n)" is the whole-stage-codegen marker in executedPlan.toString
    assert(p.startsWith("*("), p.take(2000))
  }

  test("softDedupWeights corpus-wide aggregate partitions on the key hash") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val out = graft.operators.Dedup.softDedupWeights(docs, "doc_id", Seq("text"))
    out.count()
    val p = plan(out)
    // the full-corpus count shuffles 16 B/row (id, xxhash64), never text
    assert(p.contains("hashpartitioning(__kh"),
      s"candidate pass must partition on the hash:\n${p.take(3000)}")
    // the colliding-candidate weights reach the spine join as a broadcast
    // (tiny for natural corpora; AQE may fold it either way at fixture SF)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      p.take(3000))
  }

  test("substringDedup never goes all-pairs and shuffles on the gram key") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val out = graft.operators.Dedup.substringDedup(docs, "doc_id", "text")
    out.count()
    val p = plan(out)
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // gram canonicalization exchanges on the 8-byte gram hash with a
    // partial (map-side) aggregate below it — hot boilerplate grams are
    // absorbed before the shuffle
    assert(p.contains("hashpartitioning(__g"),
      s"canonical agg must partition on the gram key:\n${p.take(3000)}")
    assert(p.contains("partial_min") || p.contains("partial_"), p.take(3000))
  }

  test("calibrateScoresApprox avoids the per-group sort window") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val out = graft.operators.TextAnalysis.calibrateScoresApprox(
      docs, "n_chars", "lang")
    out.count()
    val p = plan(out)
    assert(!p.contains("Window"),
      s"approx path must not sort per group:\n${p.take(2000)}")
    // cut table reaches every row as a broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("ngram counting partially aggregates map-side (t107)") {
    val q = SparkEntry.queries("t107_bigram_counts")(spark, sf)
    q.count()
    val p = plan(q)
    // map-side partial agg before the exchange on (ctx, word)
    val ex = p.indexOf("Exchange hashpartitioning(ctx")
    assert(ex > 0, p.take(3000))
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      p.take(3000))
    // top-200 never globally sorts
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("rollingDistinct folds sketches with a map-side partial aggregate " +
      "and broadcasts the buckets-sized anchor table") {
    import graft.operators.TimeSeries
    val q = TimeSeries.rollingDistinct(Tables.events(spark, sf),
      "event_type", "ts", "user_id", window = 7)
    q.count()
    val p = plan(q)
    // the rolling union combines sketches BEFORE its exchange — the
    // shuffle carries partially-folded KB sketches, not per-day rows
    assert(p.contains("partial_theta_union_agg"), p.take(3000))
    // the anchors side of the range join is buckets-sized → broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("coOccurrence counts pairs map-side before the pair exchange") {
    import graft.operators.Affinity
    val q = Affinity.coOccurrence(
      spark.read.parquet(s"$sf/lineitem.parquet"), "l_orderkey", "l_partkey")
    q.count()
    val p = plan(q)
    // the quadratic pair stream is partially counted before it shuffles
    // on (item_a, item_b) — the exchange carries counts, not raw pairs
    val ex = p.indexOf("Exchange hashpartitioning(__i")
    assert(ex > 0, p.take(4000))
    assert(p.substring(0, ex).contains("partial_count") ||
      p.substring(ex).contains("partial_count"), p.take(4000))
  }

  test("the plan walker counts every hash exchange, also under a " +
      "non-last child") {
    import spark.implicits._
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // sort-merge join of two aggregates, then a regroup: one exchange
      // per aggregate (the left one sits under the join's first child,
      // a `:`-prefixed line in the plan string) plus the regroup's
      val a = spark.range(1000).select(($"id" % 50).as("k"), $"id".as("v"))
        .groupBy("k").agg(sum("v").as("sa"))
      val b = spark.range(1000).select(($"id" % 70).as("k"), $"id".as("w"))
        .groupBy("k").agg(max("w").as("mb"))
      val q = a.join(b, "k").groupBy(($"k" % 7).as("g")).agg(sum("sa"))
      assert(WideSmoke.hashExchanges(q.queryExecution.executedPlan).size === 3)
      assert(q.collect().length === 7)
      // after execution: the final AQE plan, exchanges inside query stages
      val executed = q.queryExecution.executedPlan
      val shuffles = graft.plans.PlanNodes(executed)
        .collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.size === 3, executed)
      assert(WideSmoke.hashExchanges(executed).size === 3, executed)
    }
  }
}
