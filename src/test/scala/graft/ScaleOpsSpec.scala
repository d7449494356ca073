package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, Skew}
import graft.sources.OffsetMarks

class ScaleOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("salted join equals plain join") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey", "l_quantity")
    val p = Tables.part(spark, sf).select("p_partkey", "p_brand")
    val plain = li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy("p_brand").agg(sum("l_quantity").as("q"))
    val salted = Skew.saltedJoin(
        li.withColumnRenamed("l_partkey", "p_partkey"), p, "p_partkey",
        salts = 7, disambiguator = col("l_orderkey"))
      .groupBy("p_brand").agg(sum("l_quantity").as("q"))
    assert(plain.except(salted).isEmpty && salted.except(plain).isEmpty)
  }

  test("salted join refuses right/full outer (dim replicas would duplicate)") {
    val f = Seq((1L, "x")).toDF("k", "v")
    val d = Seq((2L, "unmatched")).toDF("k", "w")
    val e = intercept[IllegalArgumentException](
      Skew.saltedJoin(f, d, "k", salts = 4,
        disambiguator = col("v"), joinType = "right"))
    assert(e.getMessage.contains("salt"))
  }

  test("two-phase agg equals single-phase") {
    val ev = Tables.events(spark, sf)
    val direct = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val twoPhase = Skew.twoPhaseAgg(ev, "event_type", salts = 5,
      disambiguator = col("event_id"),
      partial = Seq(count(lit(1)).as("pn")),
      finalAgg = Seq(sum("pn").as("n")))
    assert(direct.except(twoPhase).isEmpty && twoPhase.except(direct).isEmpty)
  }

  test("checkpoints advance atomically and drive incremental reads") {
    val dir = Files.createTempDirectory("graft_ckpt").toString
    val ck = new OffsetMarks(dir)
    assert(ck.load("job1").isEmpty)
    val ev = Tables.events(spark, sf)
    var firstBatch = 0L
    ck.advance("job1", "-1") { last =>
      val batch = ev.filter(col("event_id") > last.toLong)
      firstBatch = batch.count()
      batch.agg(max("event_id")).head().getLong(0).toString
    }
    assert(firstBatch == ev.count())
    // second cycle: nothing new
    ck.advance("job1", "-1") { last =>
      assert(ev.filter(col("event_id") > last.toLong).count() == 0)
      last
    }
    assert(ck.load("job1").get.toLong == ev.agg(max("event_id")).head().getLong(0))
  }

  test("prebucketed lsh ann equals the inline form") {
    val emb = Tables.embeddings(spark, sf).filter($"vec_id" =!= 0)
    val q = Tables.embeddings(spark, sf).filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble)
    val inline = Similarity.lshTopK(emb, "vec_id", "embedding", 64, q, 10,
        numPlanes = 12, probeHamming = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val bucketed = Similarity.bucketize(emb, "vec_id", "embedding", 64, 12)
    val pre = Similarity.lshTopKPrebucketed(bucketed, q, 10, 64,
        numPlanes = 12, probeHamming = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(inline == pre, s"$inline vs $pre")
  }

  test("ivf-pq on a cell-partitioned store partition-prunes and matches inline") {
    val emb = Tables.embeddings(spark, sf).filter($"vec_id" =!= 0)
    val q = Tables.embeddings(spark, sf).filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble)
    val centers = Similarity.ivfFit(emb, "embedding", nlist = 8)
    val books = Similarity.pqFit(emb, "embedding", m = 8, codebookSize = 16)
    val assigned = Similarity.ivfPqAssign(emb, "vec_id", "embedding",
      centers, books)
    val inline = Similarity.ivfPqTopK(assigned, centers, books, q, 10,
      nprobe = 3).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val dir = Files.createTempDirectory("graft_ivfpq").toString + "/store"
    assigned.write.partitionBy("cell").parquet(dir)
    val store = spark.read.parquet(dir)
    val served = Similarity.ivfPqTopK(store, centers, books, q, 10, nprobe = 3)
    val got = served.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == inline, s"$got vs $inline")

    // the cell IN (...) probe must reach the scan as a PARTITION filter on
    // the cell-partitioned store — that is the nprobe/nlist read claim
    val scan = served.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(scan).isDefined,
      s"cell probe did not partition-prune:\n$scan")
  }

  test("knn graph: 2×cap dense cluster stays connected with near-neighbor quality") {
    val rnd = new scala.util.Random(7)
    val dim = 8
    val cap = 8
    val k = 5
    val base = Array.tabulate(dim)(_ => rnd.nextGaussian())
    // 16 = 2×cap near-identical vectors — the exact shape that used to be
    // dropped wholesale by the bucket cap — plus background noise (some of
    // which lands in singleton buckets and exercises multi-probe)
    val cluster = (0 until 16).map { j =>
      (1000L + j, base.map(v => (v + rnd.nextGaussian() * 0.02).toFloat))
    }
    val noise = (0 until 30).map { j =>
      (2000L + j, Array.tabulate(dim)(_ => rnd.nextGaussian().toFloat))
    }
    val df = (cluster ++ noise).toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(df, "vec_id", "embedding", dim, k = k,
      numPlanes = 6, maxBucketSize = cap).collect()
    val ids = cluster.map(_._1).toSet
    // every planted node keeps at least one neighbor
    val byNode = g.groupBy(_.getLong(0))
    assert(ids.subsetOf(byNode.keySet), s"dropped: ${ids -- byNode.keySet}")
    // recall@k against brute force, cosine-quality form (standard for ANN
    // when near-ties dominate): a retrieved neighbor counts iff its cosine
    // reaches the node's true k-th-neighbor cosine minus 1e-3. In-cluster
    // cosines sit ≈1 and out-of-cluster ≈ random, so a node connected to
    // anything but its genuine near-dups scores 0.
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val vecs = (cluster ++ noise).toMap
    val recalls = ids.toSeq.map { i =>
      val kth = ids.filter(_ != i).toSeq
        .map(j => cos(vecs(i), vecs(j))).sorted.reverse.apply(k - 1)
      val retrieved = byNode(i).map(r => r.getLong(1))
      retrieved.count(j => cos(vecs(i), vecs(j)) >= kth - 1e-3).toDouble / k
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.9, s"recall@$k = $recall")
  }

  test("ivf ann has decent recall vs brute force") {
    val emb = Tables.embeddings(spark, sf).filter($"vec_id" =!= 0)
    val q = Tables.embeddings(spark, sf).filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .select("id").collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", q, 10,
        nlist = 8, nprobe = 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ivf.intersect(brute).size >= 5, s"recall too low: $ivf vs $brute")
  }

  test("joinExplosionAudit: exact per-key and total output counts " +
      "equal the realized join size; NULL keys excluded; top-k order") {
    val l = Seq("a", "a", "a", "b", "b", "c", null)
      .map(k => (Option(k), 1)).toDF("k", "x")
    val r = Seq("a", "a", "b", "d", null)
      .map(k => (Option(k), 1)).toDF("k", "x")
    val got = Skew.joinExplosionAudit(l, r, col("k"), col("k"), topK = 10)
      .collect().map(row => (row.getString(0), row.getLong(1),
        row.getLong(2), row.getLong(3), row.getLong(4),
        row.getDouble(5)))
    // a: 3·2 = 6, b: 2·1 = 2; c and d never match; NULLs never match
    assert(got.toSeq === Seq(
      ("a", 3L, 2L, 6L, 8L, 6.0 / 8.0),
      ("b", 2L, 1L, 2L, 8L, 2.0 / 8.0)))
    // the prediction equals the realized inner-join row count
    val realized = l.filter(col("k").isNotNull)
      .join(r.filter(col("k").isNotNull), Seq("k")).count()
    assert(realized === got.head._5)
    val re = Skew.joinExplosionAudit(l.repartition(5), r.repartition(3),
        col("k"), col("k"), topK = 10)
      .collect().map(row => (row.getString(0), row.getLong(3)))
    assert(re.toSeq === got.map(t => (t._1, t._4)).toSeq)
  }

  test("kmeansFit: two well-separated blobs converge to their exact " +
      "means; the profile covers the corpus; bit-identical across " +
      "partitionings") {
    import graft.operators.Similarity
    // 20 points at (0,0)+jitter and 20 at (10,10)+jitter, micro-exact
    val pts = (0 until 40).map { i =>
      val basePt = if (i < 20) 0.0 else 10.0
      val j1 = ((i * 7) % 5).toDouble * 0.01
      val j2 = ((i * 11) % 5).toDouble * 0.01
      (i.toLong, Seq(basePt + j1, basePt + j2))
    }.toDF("id", "emb")
    val centers = Similarity.kmeansFit(pts, "id", "emb", k = 2,
      iters = 3)
    assert(centers.length == 2)
    val sorted = centers.sortBy(_.head)
    // exact cluster means of the jitter grid
    def meanOf(lo: Int, hi: Int, f: Int => Double): Double =
      (lo until hi).map(f).sum / 20.0
    assert(math.abs(sorted(0)(0) -
      meanOf(0, 20, i => ((i * 7) % 5) * 0.01)) < 1e-9)
    assert(math.abs(sorted(1)(0) -
      (10.0 + meanOf(20, 40, i => ((i * 7) % 5) * 0.01))) < 1e-9)
    val profile = Similarity.kmeansProfile(pts, "id", "emb", k = 2,
      iters = 3).collect()
    assert(profile.map(_.getLong(1)).sum == 40)
    assert(profile.forall(_.getDouble(3) < 1.0), "tight clusters")
    val re = Similarity.kmeansFit(pts.repartition(7), "id", "emb",
      k = 2, iters = 3)
    assert(re == centers, "Lloyd refinement must be deterministic")
  }

  test("silhouetteSimplified: boundary point scores 0, center point " +
      "scores 1, hand mean; partitioning-invariant") {
    val centers = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0))
    // (0,0): a=0,b=10 → 1; (1,0): a=1,b=9 → 8/9; (5,0): a=b → 0
    val pts = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(5.0f, 0.0f)), (4L, Array(10.0f, 0.0f)))
      .toDF("id", "emb")
    val got = Similarity.silhouetteSimplified(pts, "emb", centers)
      .collect()
    assert(got.length == 2)
    val c0 = got(0)
    assert(c0.getInt(0) == 0 && c0.getLong(1) == 3)
    val mean0 = (1.0 + 8.0 / 9.0 + 0.0) / 3.0
    assert(math.abs(c0.getDouble(2) - mean0) < 1e-5,
      s"mean=${c0.getDouble(2)}")
    assert(c0.getDouble(3) == 0.0)
    val c1 = got(1)
    assert(c1.getInt(0) == 1 && c1.getLong(1) == 1 &&
      c1.getDouble(2) == 1.0)
    val re = Similarity.silhouetteSimplified(pts.repartition(3), "emb",
      centers).collect()
    assert(re.map(_.getDouble(2)).toSeq == got.map(_.getDouble(2)).toSeq)
  }

  test("dbscanGrid: core/border/noise labels on a hand fixture; " +
      "two separated clusters stay separate; partitioning-invariant") {
    // chain (0,0)-(0.4,0)-(0.8,0): with eps=0.5, minPts=3 only the
    // middle point is core; ends are border; (10,10) is noise;
    // second chain at (5,*) forms its own cluster
    val df = Seq(
      (1L, 0.0, 0.0), (2L, 0.4, 0.0), (3L, 0.8, 0.0),
      (4L, 10.0, 10.0),
      (5L, 5.0, 5.0), (6L, 5.4, 5.0), (7L, 5.8, 5.0))
      .toDF("id", "x", "y")
    val got = Similarity.dbscanGrid(df, "id", $"x", $"y",
      eps = 0.5, minPts = 3).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(got.size == 7)
    assert(got(2L) == ((true, 2L)) && got(6L) == ((true, 6L)))
    assert(got(1L) == ((false, 2L)) && got(3L) == ((false, 2L)))
    assert(got(5L) == ((false, 6L)) && got(7L) == ((false, 6L)))
    assert(got(4L) == ((false, -1L)))
    val rep = Similarity.dbscanGrid(df.repartition(5), "id", $"x",
      $"y", eps = 0.5, minPts = 3).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(rep == got)
  }

  test("dbscanGrid: adjacent-cell pairs across negative coordinates " +
      "are found; the density guard refuses a pathological cell") {
    // (−0.2,−0.2) and (0.2,0.2) sit in different cells across the
    // origin; dist ≈ 0.566 ≤ 0.6 must pair them (floor-div, not
    // truncation, places negative cells)
    val df = Seq((1L, -0.2, -0.2), (2L, 0.2, 0.2)).toDF("id", "x", "y")
    val got = Similarity.dbscanGrid(df, "id", $"x", $"y",
      eps = 0.6, minPts = 2).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2))))
      .toMap
    assert(got(1L) == ((true, 1L)) && got(2L) == ((true, 1L)))
    val dense = Seq((1L, 0.0, 0.0), (2L, 0.0, 0.0), (3L, 0.0, 0.0))
      .toDF("id", "x", "y")
    val ex = intercept[Exception] {
      Similarity.dbscanGrid(dense, "id", $"x", $"y", eps = 0.5,
        minPts = 2, maxCellPoints = 2).collect()
    }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage))
      .mkString("\n")
    assert(chain.contains("maxCellPoints"), s"unexpected: $chain")
  }
}
