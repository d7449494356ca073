package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  test("minhash finds a planted near-duplicate") {
    val base = Tables.documents(spark, sf).select("doc_id", "text")
    val donor = base.filter($"doc_id" === 7).select($"text").head().getString(0)
    // Mutate one token near the end — jaccard stays high.
    val mutated = donor.split(" ").dropRight(1).mkString(" ") + " zzz"
    val planted = base.unionByName(Seq((100007L, mutated)).toDF("doc_id", "text"))
    val pairs = Dedup.minhashNearDups(planted, "doc_id", "text", threshold = 0.6)
    assert(pairs.filter($"id_a" === 7 && $"id_b" === 100007).count() == 1)
  }

  test("identical texts have simhash hamming 0 and jaccard 1") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val sh = df.select(Dedup.simhash64($"text").as("s")).collect().map(_.getLong(0))
    assert(sh(0) == sh(1))
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
      shingleK = 3, threshold = 0.99)
    assert(pairs.count() == 1)
    assert(pairs.head().getDouble(2) == 1.0)
  }

  test("simhash near-dup distances are within radius and symmetric-free") {
    val out = Dedup.simhashNearDups(Tables.documents(spark, sf), "doc_id", "text",
      radius = 8).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getInt(2) <= 8))
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("lsh ann has decent recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" === 0).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    val brute = Similarity.bruteForceTopK(emb.filter($"vec_id" =!= 0),
      "vec_id", "embedding", q, 10).select("id").collect().map(_.getLong(0)).toSet
    val lsh = Similarity.lshTopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding",
      64, q, 10, numPlanes = 12, probeHamming = 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(lsh.intersect(brute).size >= 5, s"recall too low: $lsh vs $brute")
  }

  test("embedding near-dups verified by exact cosine") {
    val out = Dedup.embeddingNearDups(Tables.embeddings(spark, sf),
      "vec_id", "embedding", dim = 64, threshold = 0.3, numPlanes = 8).collect()
    assert(out.forall(_.getDouble(2) >= 0.3))
  }

  test("exactDupGroups matches full group-by on planted duplicates") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val planted = docs.unionByName(
      docs.select(($"doc_id" + 100000L).as("doc_id"), $"text"))
    val got = Dedup.exactDupGroups(planted, "doc_id", Seq("text"))
      .select("survivor_id", "dup_count")
    val want = planted.groupBy("text")
      .agg(min($"doc_id").as("survivor_id"), count(lit(1)).as("dup_count"))
      .filter($"dup_count" > 1)
      .select("survivor_id", "dup_count")
    assert(got.count() == docs.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("exactLosers complements exact(): anti-join equals survivor semi-join") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val planted = docs.unionByName(
      docs.limit(50).select(($"doc_id" + 100000L).as("doc_id"), $"text"))
    val viaLosers = planted.join(
      Dedup.exactLosers(planted, "doc_id", Seq("text")),
      Seq("doc_id"), "left_anti")
    val viaSurvivors = planted.join(
      Dedup.exact(planted, "doc_id", Seq("text"))
        .select($"survivor_id".as("doc_id")), "doc_id")
    assert(viaLosers.except(viaSurvivors).isEmpty &&
      viaSurvivors.except(viaLosers).isEmpty)
  }

  test("decontaminate removes near-matches of benchmark docs, keeps the rest") {
    val base = Tables.documents(spark, sf).select("doc_id", "text")
    val donor = base.filter($"doc_id" === 7).select($"text").head().getString(0)
    val mutated = donor.split(" ").dropRight(1).mkString(" ") + " zzz"
    // benchmark holds a slightly-mutated copy of doc 7 — still leaked
    val bench = Seq((900001L, mutated)).toDF("doc_id", "text")
    val clean = Dedup.decontaminate(base, bench, "doc_id", "text",
      threshold = 0.6)
    assert(clean.filter($"doc_id" === 7).count() == 0, "leaked doc survived")
    assert(clean.count() == base.count() - 1, "over-removal")
  }

  test("mass contamination: 100 verbatim copies all removed despite tight caps") {
    val base = Tables.documents(spark, sf).select("doc_id", "text")
    val donor = base.filter($"doc_id" === 7).select($"text").head().getString(0)
    val copies = spark.range(100).select(($"id" + 500000L).as("doc_id"),
      lit(donor).as("text"))
    val corpus = base.unionByName(copies)
    val bench = Seq((900001L, donor)).toDF("doc_id", "text")
    val clean = Dedup.decontaminate(corpus, bench, "doc_id", "text",
      threshold = 0.9, maxMatchesPerShingle = 4)
    // the exact-hash pass is uncapped: every copy (and doc 7 itself) goes
    assert(clean.filter($"doc_id" >= 500000L || $"doc_id" === 7).count() == 0)
    assert(clean.count() == base.count() - 1)
  }

  test("exactDupGroups works when the id column is literally named 'id'") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "text")
    val got = Dedup.exactDupGroups(df, "id", Seq("text")).collect()
    assert(got.length == 1 && got(0).getLong(1) == 1L && got(0).getLong(2) == 2L)
  }

  test("bucketPairs equals the bucket self-join formulation") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 400).map(i => (i.toLong, rnd.nextInt(40).toLong))
      .toDF("id", "bucket")
    val pruned = Dedup.capBuckets(df, Seq("bucket"), 20)
    val viaPairs = Dedup.bucketPairs(pruned, Seq("bucket"))
      .select($"a.id".as("id_a"), $"b.id".as("id_b")).distinct()
    val viaJoin = pruned.select($"bucket", $"id".as("id_a"))
      .join(pruned.select($"bucket", $"id".as("id_b")), Seq("bucket"))
      .filter($"id_a" < $"id_b").select("id_a", "id_b").distinct()
    assert(viaPairs.count() > 0)
    assert(viaPairs.except(viaJoin).isEmpty && viaJoin.except(viaPairs).isEmpty)
  }

  test("dupClusters resolves chains and stars to the min id") {
    // chain 1-2-3-4 and star 10-(11,12,13): all collapse to component min
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (10L, 13L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L), got.toString)
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L), got.toString)
  }

  test("spark.graft.checkpointDir switches iterative loops to reliable " +
      "checkpoints with identical results") {
    import graft.operators.{Classifier, Graph}
    import org.apache.spark.sql.graft.CheckpointOps
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val docs = (0 until 200).map(i =>
      (i.toLong, if (i % 3 == 0) "join the spam club now" else
        s"plain document number $i about suppliers", i % 3 min 1))
      .toDF("doc_id", "text", "label")
    val base = Tables.documents(spark, sf).select("doc_id", "text")
    val donor = base.filter($"doc_id" === 7).select($"text").head()
      .getString(0)
    val corpus = base.unionByName(Seq((100007L,
      donor.split(" ").dropRight(1).mkString(" ") + " zzz"))
      .toDF("doc_id", "text"))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().toSeq
    // a graph loop, the min-label loop, and a former raw single-pass
    // truncation on the curation path
    val runs: Seq[() => Seq[org.apache.spark.sql.Row]] = Seq(
      () => sorted(Dedup.dupClusters(pairs)),
      () => sorted(Graph.connectedComponents(pairs, "id_a", "id_b")),
      () => sorted(Dedup.minhashNearDups(corpus, "doc_id", "text",
        threshold = 0.6)))
    val local = runs.map(_())
    assert(local(2).nonEmpty, "the planted near-dup pair must be found")
    val mLocal = Classifier.train(docs, "text", "label",
      dim = 256, epochs = 4, maxTrainRows = 200)
    // each input under its own directory, so each must write state
    def reliably[A](run: () => A): A = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ckconf")
      val out = withConf(CheckpointOps.ConfKey -> dir.toString)(run())
      val wrote = java.nio.file.Files.walk(dir)
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      assert(wrote > 0, s"no reliable checkpoint state under $dir")
      out
    }
    assert(runs.map(reliably(_)) === local)
    val mRel = reliably(() => Classifier.train(docs, "text", "label",
      dim = 256, epochs = 4, maxTrainRows = 200))
    assert(mRel.weights.toSeq === mLocal.weights.toSeq &&
      mRel.bias === mLocal.bias)
    // conf unset: back to localCheckpoint (still correct)
    assert(runs.map(_()) === local)
  }

  test("hashSample is deterministic and close to the target fraction") {
    val o = Tables.orders(spark, sf)
    val a = Dedup.hashSample(o, "o_orderkey", 0.25)
    val b = Dedup.hashSample(o, "o_orderkey", 0.25)
    val (na, nb, n) = (a.count(), b.count(), o.count())
    assert(na == nb)
    val frac = na.toDouble / n
    assert(frac > 0.2 && frac < 0.3, s"fraction $frac")
    // sampling is a pushed-down codegen filter, no shuffle
    val plan = a.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("ngram jaccard finds a planted near-duplicate via hashed postings") {
    val base = Tables.documents(spark, sf).select("doc_id", "text")
    val donor = base.filter($"doc_id" === 7).select($"text").head().getString(0)
    val mutated = donor.split(" ").dropRight(1).mkString(" ") + " zzz"
    val planted = base.unionByName(Seq((100007L, mutated)).toDF("doc_id", "text"))
    val pairs = Dedup.ngramJaccardNearDups(planted, "doc_id", "text", threshold = 0.6)
    assert(pairs.filter($"id_a" === 7 && $"id_b" === 100007).count() == 1)
  }

  test("embedding near-dup bucket cap drops a degenerate bucket") {
    // 40 identical embeddings all land in one LSH bucket: capped out at
    // maxBucketSize=30 (zero pairs), all-pairs when the cap is raised.
    val vec = Array.tabulate(8)(i => (i + 1).toFloat)
    val clones = spark.range(40).select($"id".as("vec_id"),
      typedLit(vec).as("embedding"))
    val capped = Dedup.embeddingNearDups(clones, "vec_id", "embedding",
      dim = 8, threshold = 0.9, numPlanes = 8, maxBucketSize = 30)
    assert(capped.count() == 0)
    val uncapped = Dedup.embeddingNearDups(clones, "vec_id", "embedding",
      dim = 8, threshold = 0.9, numPlanes = 8, maxBucketSize = 64)
    assert(uncapped.count() == 40L * 39 / 2)
  }

  test("temperature mix: alpha<1 upweights small domains, caps at 1x, deterministic") {
    val df = ((1 to 1000).map(i => (i.toLong, "big")) ++
      (1001 to 1100).map(i => (i.toLong, "mid")) ++
      (1101 to 1110).map(i => (i.toLong, "tiny"))).toDF("id", "dom")
    val out = Dedup.temperatureMix(df, "id", "dom", alpha = 0.5, targetRows = 500)
    val got = out.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // tiny domain's budgeted share exceeds its size -> rate caps at 1, all kept
    assert(got("tiny") == 10L)
    // expected rates: w = sqrt(n) -> p = w/sum(w); realized = hash sample,
    // allow sampling noise around p * 500
    val wsum = math.sqrt(1000) + math.sqrt(100) + math.sqrt(10)
    def expected(n: Int) = math.min(n.toDouble, math.sqrt(n) / wsum * 500)
    assert(math.abs(got("big") - expected(1000)) < 60, s"big=${got("big")}")
    assert(math.abs(got("mid") - expected(100)) < 40, s"mid=${got("mid")}")
    // smoothing direction: small domains gain share vs their natural share
    val total = got.values.sum.toDouble
    assert(got("mid") / total > 100.0 / 1110)
    // deterministic: identical realized sample on re-run
    val again = Dedup.temperatureMix(df, "id", "dom", alpha = 0.5, targetRows = 500)
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
  }

  test("temperature mix by weight column budgets tokens, not rows") {
    // domain A: many short docs (400 docs x 1 token = 400 tokens);
    // domain B: few long docs (40 docs x 100 tokens = 4000 tokens)
    val df = ((1 to 400).map(i => (i.toLong, "short", 1L)) ++
      (401 to 440).map(i => (i.toLong, "long", 100L)))
      .toDF("id", "dom", "n_tokens")
    // alpha=1 keeps natural TOKEN proportions: a 2200-token budget is half
    // the 4400-token corpus -> both domains keep rate 0.5 by token mass
    val out = Dedup.temperatureMix(df, "id", "dom", alpha = 1.0,
      targetRows = 2200, weightCol = Some("n_tokens"))
    val tok = out.groupBy("dom").agg(sum($"n_tokens")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(tok("short") - 200) < 60, s"short=${tok("short")}")
    assert(math.abs(tok("long") - 2000) < 600, s"long=${tok("long")}")
    // row-budgeted mix at the same alpha keeps ~10x more SHORT docs than
    // LONG docs (440-row corpus, 220-row budget -> both rates 0.5 by ROWS)
    val rows = Dedup.temperatureMix(df, "id", "dom", alpha = 1.0,
      targetRows = 220)
    val byRows = rows.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRows("short") > 5 * byRows("long"),
      s"row budget keeps doc counts, not token mass: $byRows")
    // weight-budgeted: deterministic on re-run
    val again = Dedup.temperatureMix(df, "id", "dom", alpha = 1.0,
      targetRows = 2200, weightCol = Some("n_tokens"))
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
  }

  test("temperature mix handles high-cardinality domain columns " +
      "— rates travel by join, never a driver map or a when-chain plan") {
    val df = (1 to 5000).map(i => (i.toLong, s"d${i % 2500}"))
      .toDF("id", "dom")
    // every domain has 2 rows; target = corpus size -> every rate caps
    // at 1 and nothing drops, across 2500 domains in one bounded plan
    val out = Dedup.temperatureMix(df, "id", "dom", alpha = 1.0,
      targetRows = 5000)
    assert(out.count() === 5000)
  }

  test("temperature mix keeps null-domain rows as their own domain") {
    val df = ((1 to 90).map(i => (i.toLong, Some("web"))) ++
      (91 to 100).map(i => (i.toLong, None: Option[String])))
      .toDF("id", "dom")
    // target >= input: every rate caps at 1 -> NOTHING may be dropped,
    // including the null-domain rows a raw when-chain would silently lose
    val out = Dedup.temperatureMix(df, "id", "dom", alpha = 0.5,
      targetRows = 1000)
    assert(out.count() == 100)
    assert(out.filter($"dom".isNull).count() == 10)
    assert(out.columns.toSeq == Seq("id", "dom"), "shadow column must not leak")
  }

  test("semantic decontamination drops planted benchmark copies, keeps the rest") {
    val rnd = new scala.util.Random(11)
    def v() = Array.fill(16)(rnd.nextGaussian().toFloat).toSeq
    val corpusVecs = (0 until 50).map(i => (i.toLong, v()))
    val corpus = corpusVecs.toDF("id", "emb")
    // benchmark = exact copies of corpus ids 3, 17, 41 plus unrelated rows
    val bench = (Seq(3, 17, 41).map(i => corpusVecs(i)._2) ++
      (0 until 5).map(_ => v())).toDF("emb")
    val surv = Dedup.semanticDecontaminate(corpus, "id", "emb", bench,
        "emb", dim = 16, threshold = 0.999, numPlanes = 8)
      .select("id").collect().map(_.getLong(0)).toSet
    // identical vectors share every hyperplane sign -> always same bucket
    assert(!surv.contains(3L) && !surv.contains(17L) && !surv.contains(41L))
    // random 16-dim gaussians essentially never hit cosine 0.999
    assert(surv.size == 47, s"expected 47 survivors, got ${surv.size}")
  }

  test("pq: codes are m small ints; adc+rerank top-k has decent recall") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" === 0).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    val corpus = emb.filter($"vec_id" =!= 0)
    val books = Similarity.pqFit(corpus, "embedding", m = 8, codebookSize = 16)
    assert(books.size == 8 && books.forall(_.size == 16) &&
      books.forall(_.forall(_.size == 8))) // 64-dim / 8 subspaces
    val encoded = Similarity.pqEncode(corpus, "vec_id", "embedding", books)
    val codes = encoded.select($"codes").head().getSeq[Int](0)
    assert(codes.size == 8 && codes.forall(c => c >= 0 && c < 16))

    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      q, 10).select("id").collect().map(_.getLong(0)).toSet
    val pq = Similarity.pqTopK(encoded, books, q, k = 10, rerankFactor = 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(pq.intersect(brute).size >= 5, s"recall too low: $pq vs $brute")
  }

  test("ivf-pq: cell pruning scans a corpus subset yet keeps pq-level recall") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" === 0).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    val corpus = emb.filter($"vec_id" =!= 0)
    val centers = Similarity.ivfFit(corpus, "embedding", nlist = 16)
    val books = Similarity.pqFit(corpus, "embedding", m = 8, codebookSize = 16)
    val assigned = Similarity.ivfPqAssign(corpus, "vec_id", "embedding",
      centers, books)
    // the build carries cell + codes + emb for every corpus row
    assert(assigned.columns.toSet == Set("id", "emb", "codes", "cell"))
    val cells = assigned.select($"cell").distinct().count()
    assert(cells > 1, "corpus must spread over multiple cells")

    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      q, 10).select("id").collect().map(_.getLong(0)).toSet
    // random 64-dim gaussians are the worst case for coarse cells (neighbors
    // barely concentrate), so probe generously: recall here measures the
    // composition's correctness, selectivity is asserted separately below
    val got = Similarity.ivfPqTopK(assigned, centers, books, q, k = 10,
        nprobe = 14, rerankFactor = 8).select("id").collect().map(_.getLong(0)).toSet
    assert(got.intersect(brute).size >= 5, s"recall too low: $got vs $brute")

    // pruning is real: with nprobe << nlist the ADC stage sees only the
    // probed cells' rows, strictly fewer than the corpus
    val probedOnly = Similarity.ivfPqTopK(assigned, centers, books, q,
      k = 10, nprobe = 2)
    assert(probedOnly.count() == 10)
    val corpusN = corpus.count()
    val probeCellRows = assigned.filter($"cell".isin(
      centers.zipWithIndex.map { case (c, i) =>
        (c.map(x => x * x).sum - 2.0 * c.zip(q).map(p => p._1 * p._2).sum, i)
      }.sortBy(_._1).take(2).map(_._2): _*)).count()
    assert(probeCellRows < corpusN, "nprobe=2 must scan a strict subset")
  }

  test("ivfPqFit one-pass build produces the same models as the " +
      "separate ivfFit + pqFit calls — pass-count only, never results") {
    val corpus = Tables.embeddings(spark, sf).filter($"vec_id" =!= 0)
    val (centers1, books1) =
      Similarity.ivfPqFit(corpus, "embedding", nlist = 16, m = 8,
        codebookSize = 16)
    val centers2 = Similarity.ivfFit(corpus, "embedding", nlist = 16)
    val books2 = Similarity.pqFit(corpus, "embedding", m = 8,
      codebookSize = 16)
    assert(centers1 === centers2)
    assert(books1 === books2)
  }

  test("pq self-query: an indexed vector finds itself at cosine 1") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" === 7).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    val books = Similarity.pqFit(emb, "embedding", m = 8, codebookSize = 16)
    val top = Similarity.pqTopK(
      Similarity.pqEncode(emb, "vec_id", "embedding", books), books, q, k = 1)
      .head()
    assert(top.getLong(0) == 7L && top.getDouble(1) > 0.9999)
  }

  test("semantic dedup collapses planted duplicate vectors to the min id") {
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map(_ => Array.fill(16)(rnd.nextGaussian().toFloat))
    // three copies of each base vector: ids i, i+1000, i+2000
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      Seq(i.toLong, (i + 1000).toLong, (i + 2000).toLong).map((_, v.toSeq)) }
    val df = rows.toDF("vec_id", "embedding")
    val surv = Dedup.semanticDedup(df, "vec_id", "embedding",
        nlist = 4, threshold = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // exact copies share a k-means cell by construction (identical argmin),
    // so every clone pairs with its original and the min id survives
    assert(surv == (0 until 40).map(_.toLong).toSet)
    // and the survivor set is exactly the input minus the distinct losers
    val losers = Dedup.semanticNearDups(df, "vec_id", "embedding",
        nlist = 4, threshold = 0.999)
      .select("id_b").distinct().count()
    assert(surv.size == rows.size - losers)
  }

  test("semantic near-dup pairs are exact-cosine verified, within-cell only") {
    val out = Dedup.semanticNearDups(Tables.embeddings(spark, sf),
      "vec_id", "embedding", nlist = 8, threshold = 0.3).collect()
    assert(out.forall(_.getDouble(2) >= 0.3), "below-threshold pair leaked")
    assert(out.forall(r => r.getLong(0) < r.getLong(1)), "pair order broken")
  }

  // ---- exact all-pairs oracles for the LSH pair operators (the driver's
  // DuckDB gate cannot express seeded xxhash64 LSH, so the subset/recall
  // bounds are pinned here instead, against brute-force ground truth) ----

  /** Deterministic ~1/5 sample of documents plus planted near-duplicates
    * (last word replaced) — keeps the all-pairs oracle small and the
    * positive set nonempty. */
  private def sampledWithPlants(nPlants: Int): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(pmod(xxhash64($"doc_id"), lit(5)) === 0)
    val plants = docs.orderBy("doc_id").limit(nPlants)
      .select(($"doc_id" + 800000L).as("doc_id"),
        concat(regexp_replace($"text", "\\s+\\S+$", ""), lit(" zzz")).as("text"))
    docs.unionByName(plants)
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash pairs: subset of exact-Jaccard pairs, recall >= 0.8") {
    val planted = sampledWithPlants(15)
    val t = 0.7
    val got = pairSet(Dedup.minhashNearDups(planted, "doc_id", "text",
      shingleK = 5, threshold = t))
    val sh = planted.select($"doc_id", Dedup.shingles($"text", 5).as("sh"))
    val exact = pairSet(sh.toDF("id_a", "sh_a")
      .crossJoin(sh.toDF("id_b", "sh_b"))
      .filter($"id_a" < $"id_b")
      .filter(Dedup.jaccard($"sh_a", $"sh_b") >= t))
    assert(exact.nonEmpty)
    assert(got.subsetOf(exact), s"false positives: ${got -- exact}")
    assert(got.size >= exact.size * 0.8, s"recall ${got.size}/${exact.size}")
  }

  test("simhash pairs: exactly the Hamming-radius pairs (banding recall)") {
    val planted = sampledWithPlants(15)
    val radius = 3
    val got = pairSet(Dedup.simhashNearDups(planted, "doc_id", "text",
      radius = radius))
    val sigs = Dedup.simhashSignatures(planted, "doc_id", "text")
    val exact = pairSet(sigs.toDF("id_a", "sig_a")
      .crossJoin(sigs.toDF("id_b", "sig_b"))
      .filter($"id_a" < $"id_b")
      .filter(bit_count($"sig_a".bitwiseXOR($"sig_b")) <= radius))
    // 16-bit chunk banding is pigeonhole-complete for radius <= 3, and no
    // bucket tops the cap at this scale: the pair set must be EXACT
    assert(exact.nonEmpty)
    assert(got == exact, s"missing: ${exact -- got}; extra: ${got -- exact}")
  }

  test("ngram pairs: subset of exact-Jaccard pairs, recall >= 0.8") {
    val planted = sampledWithPlants(15)
    val t = 0.5
    val got = pairSet(Dedup.ngramJaccardNearDups(planted, "doc_id", "text",
      shingleK = 3, threshold = t))
    val sh = planted.select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
    val exact = pairSet(sh.toDF("id_a", "sh_a")
      .crossJoin(sh.toDF("id_b", "sh_b"))
      .filter($"id_a" < $"id_b")
      .filter(Dedup.jaccard($"sh_a", $"sh_b") >= t))
    assert(exact.nonEmpty)
    assert(got.subsetOf(exact), s"false positives: ${got -- exact}")
    assert(got.size >= exact.size * 0.8, s"recall ${got.size}/${exact.size}")
  }

  test("incremental exact dedup: intra-batch + cross-base, equals naive anti-join") {
    val base = Seq((0L, "a"), (2L, "b"), (4L, "c")).toDF("doc_id", "text")
    val inc = Seq((1L, "a"), (3L, "d"), (5L, "d"), (7L, "e")).toDF("doc_id", "text")
    val surv = Dedup.exactIncrement(inc, base, "doc_id", Seq("text"))
      .select("doc_id").as[Long].collect().toSet
    // 1 duplicates base "a"; 5 loses intra-batch to 3; 3 and 7 are new
    assert(surv == Set(3L, 7L), s"got $surv")

    // property on the real corpus: hash-screened result == naive full
    // anti-join on the actual keys (the hash path must change nothing)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val b = docs.filter($"doc_id" % 2 === 0)
    val i = docs.filter($"doc_id" % 2 === 1)
      .unionByName(docs.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 500000L).as("doc_id"), $"text"))
    val got = Dedup.exactIncrement(i, b, "doc_id", Seq("text"))
      .select("doc_id").as[Long].collect().toSet
    val naive = i
      .join(Dedup.exactLosers(i, "doc_id", Seq("text")), Seq("doc_id"), "left_anti")
      .join(b.select("text"), Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(got == naive, s"missing: ${naive -- got}; extra: ${got -- naive}")
    assert(got.nonEmpty)
  }

  test("incremental exact dedup treats null keys as equal, like exactLosers") {
    val base = Seq((0L, Option("a")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val inc = Seq((1L, Option.empty[String]), (5L, Option.empty[String]),
      (3L, Option("x"))).toDF("doc_id", "text")
    // 1 and 5 both carry a null key: 5 loses intra-batch to 1 (exactLosers
    // groups nulls), then 1 is a duplicate of base row 2 — the verify join
    // must use null-safe equality or both would resurrect as "new"
    val surv = Dedup.exactIncrement(inc, base, "doc_id", Seq("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(surv == Set(3L), s"null-keyed rows must dedup against base: $surv")
  }

  test("incremental near-dup dedup: perturbed base copies drop, new docs survive") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val base = docs.filter($"doc_id" % 2 === 0)
    val idx = Dedup.minhashIndex(base, "doc_id", "text")
    // planted: near-copies of base docs (last word replaced) under new ids
    val plants = base.orderBy("doc_id").limit(10)
      .select(($"doc_id" + 700000L).as("doc_id"),
        concat(regexp_replace($"text", "\\s+\\S+$", ""), lit(" zzz")).as("text"))
    val fresh = docs.filter($"doc_id" % 2 === 1)
    val inc = fresh.unionByName(plants)
    val surv = Dedup.nearDupIncrement(inc, idx, "doc_id", "text",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // every planted near-copy is gone
    assert(surv.forall(_ < 700000L), s"plants survived: ${surv.filter(_ >= 700000L)}")
    // fresh odd docs survive unless they near-dup base/increment content;
    // the corpus has planted exact-dup families, so allow a small loss but
    // require the vast majority through
    val freshIds = fresh.select("doc_id").as[Long].collect().toSet
    assert(surv.size >= freshIds.size * 0.8, s"${surv.size} of ${freshIds.size}")
    // determinism: identical result on re-run
    val again = Dedup.nearDupIncrement(inc, idx, "doc_id", "text",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(surv == again)
    // scale shape: the base index reaches the cap window only through a
    // BROADCAST semi-join against the increment's bucket keys — the
    // corpus-scale index must never hash-shuffle in full
    val plan = Dedup.nearDupIncrement(inc, idx, "doc_id", "text",
      threshold = 0.5).queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") && plan.contains("BroadcastHashJoin"),
      "base index must shrink via a broadcast semi-join before any exchange")
  }

  /** Deterministic ~1/3 sample of embeddings plus planted near-duplicates:
    * half exact copies (cosine 1, co-location guaranteed), half first-
    * element-perturbed (cosine ≈ 0.9999) — the semantic analogue of
    * [[sampledWithPlants]]. */
  private def embeddingsWithPlants(nPlants: Int): org.apache.spark.sql.DataFrame = {
    val base = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .filter(pmod(xxhash64($"vec_id"), lit(3)) === 0)
    val picked = base.orderBy("vec_id").limit(nPlants)
    val exactCopies = picked.limit(nPlants / 2)
      .select(($"vec_id" + 800000L).as("vec_id"), $"embedding")
    val perturbed = picked.orderBy($"vec_id".desc).limit(nPlants - nPlants / 2)
      .select(($"vec_id" + 900000L).as("vec_id"),
        transform($"embedding",
          (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
    base.unionByName(exactCopies).unionByName(perturbed)
  }

  test("semantic near-dup pairs: subset of exact-cosine pairs, recall >= 0.8") {
    val planted = embeddingsWithPlants(12)
    val t = 0.97
    val got = pairSet(Dedup.semanticNearDups(planted, "vec_id", "embedding",
      nlist = 8, threshold = t))
    val e = planted.select($"vec_id", $"embedding")
    val exact = pairSet(e.toDF("id_a", "emb_a")
      .crossJoin(e.toDF("id_b", "emb_b"))
      .filter($"id_a" < $"id_b")
      .filter(graft.functions.VectorFunctions.cosine($"emb_a", $"emb_b") >= t))
    assert(exact.size >= 12, s"plants must be in the exact set: $exact")
    // the operator verifies candidates with the same exact cosine, so any
    // reported pair must be in the all-pairs truth (zero false positives);
    // recall < 1 can only come from cell splits on perturbed plants
    assert(got.subsetOf(exact), s"false positives: ${got -- exact}")
    assert(got.size >= exact.size * 0.8, s"recall ${got.size}/${exact.size}")
  }

  test("cross-embedding matches: subset of exact cross-pairs, recall >= 0.8") {
    val corpus = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .filter(pmod(xxhash64($"vec_id"), lit(3)) === 0)
    // benchmark: copies of corpus rows (half exact, half perturbed) plus
    // unrelated corpus-disjoint rows
    val picked = corpus.orderBy("vec_id").limit(10)
    val benchDup = picked.limit(5)
      .select(($"vec_id" + 800000L).as("bid"), $"embedding")
      .unionByName(picked.orderBy($"vec_id".desc).limit(5)
        .select(($"vec_id" + 900000L).as("bid"),
          transform($"embedding",
            (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding")))
    val benchOther = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .filter(pmod(xxhash64($"vec_id"), lit(3)) === 1).limit(5)
      .select(($"vec_id" + 950000L).as("bid"), $"embedding")
    val bench = benchDup.unionByName(benchOther)

    val t = 0.97
    val got = Dedup.crossEmbeddingMatches(corpus, "vec_id", "embedding",
        bench, "bid", "embedding", dim = 64, threshold = t, numPlanes = 8)
      .select("corpus_id", "bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = corpus.toDF("cid", "c_emb").crossJoin(bench.toDF("bid", "b_emb"))
      .filter(graft.functions.VectorFunctions.cosine($"c_emb", $"b_emb") >= t)
      .select("cid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 10, s"plants must be in the exact set: $exact")
    assert(got.subsetOf(exact), s"false positives: ${got -- exact}")
    assert(got.size >= exact.size * 0.8, s"recall ${got.size}/${exact.size}")

    // and the end-to-end decontaminate drops exactly the matched corpus ids
    val surv = Dedup.semanticDecontaminate(corpus, "vec_id", "embedding",
        bench.select("embedding"), "embedding", dim = 64, threshold = t,
        numPlanes = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val matchedCorpus = got.map(_._1)
    assert(surv.intersect(matchedCorpus).isEmpty,
      "matched corpus rows must not survive decontamination")
  }

  test("knn graph caps pairs in a degenerate bucket but keeps every node") {
    val vec = Array.tabulate(8)(i => (i + 1).toFloat)
    val clones = spark.range(40).select($"id".as("vec_id"),
      typedLit(vec).as("embedding"))
    // over-cap bucket: the candidate side is hash-sampled to maxBucketSize
    // (pairs O(N·cap), not O(N²)) while every node still probes — so all
    // 40 nodes keep their k neighbors instead of being dropped
    val capped = Similarity.knnGraph(clones, "vec_id", "embedding",
      dim = 8, k = 3, numPlanes = 8, maxBucketSize = 30)
    assert(capped.count() == 40 * 3)
    assert(capped.select("id").distinct().count() == 40)
    val uncapped = Similarity.knnGraph(clones, "vec_id", "embedding",
      dim = 8, k = 3, numPlanes = 8, maxBucketSize = 64)
    assert(uncapped.count() == 40 * 3)
  }

  // Two disjoint-vocabulary doc families for the DSIR tests: family A is
  // what the target distribution looks like, family B is off-distribution.
  private def dsirDocs: (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val vocabA = Seq("solar", "flux", "photon", "lattice", "quark", "spin")
    val vocabB = Seq("gravel", "asphalt", "cement", "mortar", "brick", "tile")
    def doc(vocab: Seq[String], rot: Int): String =
      (0 until 8).map(j => vocab((rot + j) % vocab.size)).mkString(" ")
    val corpus = ((1 to 30).map(i => (i.toLong, doc(vocabA, i))) ++
      (31 to 60).map(i => (i.toLong, doc(vocabB, i)))).toDF("doc_id", "text")
    val target = (1 to 10).map(i => (i.toLong, doc(vocabA, i * 7)))
      .toDF("tid", "text")
    (corpus, target)
  }

  test("dsir weights: dense table, target vocab outweighs off-target vocab") {
    val (corpus, target) = dsirDocs
    val buckets = 1 << 10
    val w = Dedup.importanceWeights(corpus, target, "text", buckets = buckets)
    assert(w.count() == buckets)
    def bucketOf(tok: String): Long = corpus.sparkSession.range(1)
      .select(pmod(xxhash64(lit("graft_dsir"), lit(tok)), lit(buckets.toLong)))
      .head().getLong(0)
    val wByBucket = w.select("bucket", "log_w").collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).doubleValue()).toMap
    assert(wByBucket(bucketOf("solar")) > 0,
      "target-vocab bucket must have positive log ratio")
    assert(wByBucket(bucketOf("gravel")) < 0,
      "off-target bucket must have negative log ratio")
  }

  test("dsir sampled raw fit preserves the weight structure") {
    val vocabA = Seq("solar", "flux", "photon", "lattice", "quark", "spin")
    val vocabB = Seq("gravel", "asphalt", "cement", "mortar", "brick", "tile")
    def doc(vocab: Seq[String], rot: Int): String =
      (0 until 8).map(j => vocab((rot + j) % vocab.size)).mkString(" ")
    // distinct text per doc (unique suffix): the fit sample hashes TEXT, so
    // it must thin vocab-bucket counts rather than zero 1-of-12 clone groups
    val corpus = ((1 to 30).map(i => (i.toLong, doc(vocabA, i) + s" ua$i")) ++
      (31 to 60).map(i => (i.toLong, doc(vocabB, i) + s" ub$i")))
      .toDF("doc_id", "text")
    val target = (1 to 10).map(i => (i.toLong, doc(vocabA, i * 7)))
      .toDF("tid", "text")
    val full = Dedup.importanceWeights(corpus, target, "text",
      buckets = 1 << 10)
    val sampled = Dedup.importanceWeights(corpus, target, "text",
      buckets = 1 << 10, rawFitFraction = 0.5)
    // structurally-weighted buckets (vocab words seen across many docs)
    // keep their sign under the sampled fit; singleton unique-suffix
    // buckets legitimately lose their smoothing-floor sign when the sample
    // drops their only occurrence
    val signFlips = full
      .select(col("bucket"), col("log_w").as("w_full"),
        col("n_raw").as("n_full"))
      .join(sampled.select(col("bucket"), col("log_w").as("w_samp")),
        Seq("bucket"))
      .filter(col("n_full") >= 5)
      .filter((col("w_full") > 0) =!= (col("w_samp") > 0))
      .count()
    assert(signFlips == 0, s"$signFlips structural sign flips")
    // and the sampled raw totals actually shrank
    val nFull = full.agg(sum("n_raw")).head().getLong(0)
    val nSamp = sampled.agg(sum("n_raw")).head().getLong(0)
    assert(nSamp < nFull, s"sampled fit must see fewer postings: $nSamp vs $nFull")
  }

  test("dsir resample keeps the target-distribution half of the corpus") {
    val (corpus, target) = dsirDocs
    val kept = Dedup.importanceResample(corpus, "doc_id", "text", target,
        keepFraction = 0.5, buckets = 1 << 10, gumbel = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.size >= 25 && kept.size <= 35, s"kept ${kept.size} of 60")
    assert(kept.forall(_ <= 30L),
      s"only family-A docs should survive, got off-target ids ${kept.filter(_ > 30L)}")
  }

  test("dsir scoring broadcasts the weight table; idCol may be 'bucket'") {
    val (corpus, target) = dsirDocs
    val w = Dedup.importanceWeights(corpus, target, "text", buckets = 1 << 10)
    val scored = Dedup.importanceScores(corpus, "doc_id", "text", w,
      buckets = 1 << 10)
    // the scale guarantee: the ≤buckets-row weight table joins by
    // broadcast — the corpus posting side never shuffles for the join
    assert(scored.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "weight join must broadcast")
    // public column names must not collide with the internal bucket key
    val renamed = corpus.withColumnRenamed("doc_id", "bucket")
    val scored2 = Dedup.importanceScores(renamed, "bucket", "text", w,
      buckets = 1 << 10)
    val a = scored.select(col("doc_id"), col("score")).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val b = scored2.select(col("bucket"), col("score")).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(a == b, "scores must be identical under the renamed id column")
  }

  test("dsir resample keeps featureless docs with a null score") {
    val (corpus, target) = dsirDocs
    // no alphanumeric runs → zero n-gram postings → no importance score
    val weird = Seq((900L, "?!?! ... !!"), (901L, "")).toDF("doc_id", "text")
    val all = corpus.unionByName(weird)
    val kept = Dedup.importanceResample(all, "doc_id", "text", target,
        keepFraction = 0.5, buckets = 1 << 10, gumbel = false)
      .select(col("doc_id"), col("score").isNull.as("unscored"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(kept.contains(900L) && kept.contains(901L),
      s"unscoreable docs must survive, not vanish: ${kept.keySet}")
    assert(kept(900L) && kept(901L), "unscoreable docs carry a null score")
    assert(kept.filter(_._1 < 900L).forall(!_._2),
      "scoreable docs keep a real score")
    // and at keepFraction = 1.0 the output is the whole corpus
    val full = Dedup.importanceResample(all, "doc_id", "text", target,
      keepFraction = 1.0, buckets = 1 << 10, gumbel = false)
    assert(full.count() == all.count(), "keepFraction=1.0 keeps every row")
  }

  test("dsir gumbel resample is reproducible and spans both families") {
    val (corpus, target) = dsirDocs
    def run() = Dedup.importanceResample(corpus, "doc_id", "text", target,
        keepFraction = 0.5, buckets = 1 << 10, gumbel = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = run()
    assert(a == run(), "seeded gumbel selection must be deterministic")
    // noise samples proportionally instead of hard-truncating; with this
    // fixture's wide score gap family A must still dominate the draw
    assert(a.count(_ <= 30L) > a.count(_ > 30L),
      s"family A must dominate the sample: $a")
  }

  test("simhashChunks: pairs within radius always share a chunk; chunks cover 64 bits") {
    val rnd = new scala.util.Random(7)
    for (radius <- Seq(0, 3, 5, 8, 15)) {
      // random signature pairs at Hamming distance <= radius (flip <= r bits)
      val pairs = Seq.fill(50) {
        val a = rnd.nextLong()
        val flips = rnd.shuffle((0 until 64).toList)
          .take(rnd.nextInt(radius + 1))
        (a, flips.foldLeft(a)((s, b) => s ^ (1L << b)))
      }
      val df = pairs.toDF("a", "b")
        .select(array(Dedup.simhashChunks(col("a"), radius): _*).as("ca"),
          array(Dedup.simhashChunks(col("b"), radius): _*).as("cb"),
          col("a"))
      // pigeonhole: some chunk index holds the same value on both sides
      val shared = df.select(exists(
        zip_with(col("ca"), col("cb"), (x, y) => x === y), p => p).as("s"),
        col("ca"), col("a"))
      assert(shared.filter(!col("s")).isEmpty,
        s"radius $radius: a within-radius pair shared no chunk")
      // chunks are a partition of the 64 bits: total width is 64 and the
      // popcount of the signature equals the summed chunk popcounts
      val pops = shared.select((aggregate(col("ca"), lit(0),
        (acc, c) => acc + bit_count(c)) === bit_count(col("a"))).as("ok"))
      assert(pops.filter(!col("ok")).isEmpty, s"radius $radius: chunk bits lost")
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashChunks(col("x"), 16)
    }
  }

  test("dupClusters fails loudly instead of returning partial labels") {
    // a 12-node chain has diameter 11; min-label propagation advances one
    // hop per iteration, so maxIter = 3 cannot converge
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.dupClusters(chain, maxIter = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // and with enough iterations the same chain resolves to one cluster
    val ok = Dedup.dupClusters(chain, maxIter = 15)
      .select("cluster_id").distinct().collect()
    assert(ok.map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("componentLosers: on random pair graphs, the losers are the " +
      "members dupClusters maps to another id") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val id = Gen.chooseNum(0L, 15L)
    val edge = Gen.zip(id, id).suchThat { case (a, b) => a != b }
      .map(Seq(_))
    val path = Gen.chooseNum(2, 8).flatMap(n => Gen.pick(n, 0L to 15L))
      .map(_.toSeq.sliding(2).map { case Seq(a, b) => (a, b) }.toSeq)
    val star = Gen.zip(id, Gen.listOfN(4, id))
      .map { case (c, xs) => xs.filter(_ != c).map(c -> _) }
    // chains, stars and random edges over one small id range, so the
    // parts merge into larger components
    val graph = Gen.chooseNum(0, 4)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(edge, path, star)))
      .map(_.flatten)
    (0 until 24).flatMap(i =>
        graph.apply(Gen.Parameters.default, Seed(i.toLong)))
      .foreach { edges =>
        val pairs = edges.toDF("id_a", "id_b")
        val got = Dedup.componentLosers(pairs).as[Long].collect().toSet
        val want = Dedup.dupClusters(pairs)
          .filter($"id" =!= $"cluster_id").select("id").as[Long]
          .collect().toSet
        assert(got == want, s"edges $edges")
      }
  }

  /** A near-dup chain of `links + 1` documents: document i replaces the
    * tokens at positions 6, 12, …, 6·i of one 200-token text, so
    * neighbours share 191 of 201 5-shingles (Jaccard 0.95) and documents
    * two links apart 186 of 206 (0.90). */
  private def nearDupChain(links: Int): org.apache.spark.sql.DataFrame = {
    val base = (0 until 200).map(j => s"w$j")
    (0 to links).map { i =>
      val toks = base.zipWithIndex.map { case (w, j) =>
        if (j > 0 && j % 6 == 0 && j / 6 <= i) s"x$j" else w }
      (1000L + i, toks.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("nearDupIncrementIndexed resolves a 30-link intra-batch chain " +
      "that exceeds dupClusters' round bound") {
    val inc = nearDupChain(30)
    val pairs = Dedup.minhashNearDups(inc, "doc_id", "text",
      threshold = 0.93).select("id_a", "id_b")
    assert(pairs.count() == 30, "the verified pair graph is one chain")
    intercept[IllegalStateException] {
      Dedup.dupClusters(pairs, maxIter = 20).collect()
    }
    val idx = Dedup.minhashIndex(
      Seq((1L, (0 until 50).map(j => s"b$j").mkString(" ")))
        .toDF("doc_id", "text"), "doc_id", "text")
    val surv = Dedup.nearDupIncrementIndexed(inc, idx, "doc_id", "text",
        threshold = 0.93)
      .select("doc_id").as[Long].collect().toSeq
    assert(surv == Seq(1000L), s"survivors: $surv")
  }

  test("nearDupIncrementIndexed reads one checkpoint: the sketched " +
      "increment") {
    import org.apache.spark.sql.execution.LogicalRDD
    val inc = nearDupChain(3)
    val idx = Dedup.minhashIndex(
      Tables.documents(spark, sf).select("doc_id", "text")
        .filter($"doc_id" < 50), "doc_id", "text")
    val surv = Dedup.nearDupIncrementIndexed(inc, idx, "doc_id", "text",
      threshold = 0.93)
    val leaves = surv.queryExecution.analyzed
      .collect { case l: LogicalRDD => l.rdd }.distinctBy(_.id)
    assert(leaves.size == 1, s"checkpoints read: ${leaves.size}")
    // the one checkpoint holds every increment row, intra losers too
    assert(leaves.head.count() == inc.count())
    assert(surv.select("doc_id").as[Long].collect().toSeq == Seq(1000L))
  }

  test("exactLosers: a null-id duplicate loses to the real survivor") {
    val df = Seq((Option(1L), "same"), (Option.empty[Long], "same"),
      (Option(7L), "other")).toDF("doc_id", "text")
    val losers = Dedup.exactLosers(df, "doc_id", Seq("text")).collect()
    assert(losers.length == 1 && losers.head.isNullAt(0),
      s"the null-id duplicate must be the loser: ${losers.mkString(",")}")
  }

  test("decontaminateSplits: null-split rows survive in the holdout side") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "train"),
      (2L, "alpha beta gamma delta epsilon zeta", "val"), // train twin -> dropped
      (3L, "totally different words here now ok", null.asInstanceOf[String])
    ).toDF("doc_id", "text", "split")
    val out = Dedup.decontaminateSplits(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(2L, 3L), s"got $out")
  }

  test("nearDupIncrementIndexed: carried sketches equal a fresh " +
      "minhashIndex of the survivors; bands/sh input names rejected") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter($"doc_id" < 200)
    val base = docs.filter($"doc_id" % 2 === 0)
    val idx = Dedup.minhashIndex(base, "doc_id", "text")
    val inc = docs.filter($"doc_id" % 2 === 1)
    val surv = Dedup.nearDupIncrementIndexed(inc, idx, "doc_id", "text",
      threshold = 0.5)
    assert(surv.columns.takeRight(2).toSeq === Seq("bands", "sh"))
    val carried = surv.select($"doc_id".as("id"), $"bands", $"sh")
    val fresh = Dedup.minhashIndex(surv.drop("bands", "sh"),
      "doc_id", "text")
    assert(carried.exceptAll(fresh).isEmpty &&
      fresh.exceptAll(carried).isEmpty,
      "index appends must be able to reuse the dedup's own sketches")
    intercept[IllegalArgumentException] {
      Dedup.nearDupIncrementIndexed(surv, idx, "doc_id", "text")
    }
  }

  test("nearDupIncrement rejects an index built with different bands") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val idx = Dedup.minhashIndex(docs, "doc_id", "text", bands = 16)
    val e = intercept[IllegalArgumentException] {
      Dedup.nearDupIncrement(docs, idx, "doc_id", "text", bands = 32)
    }
    assert(e.getMessage.contains("bands"))
  }

  // two tight far-apart blobs in 4-d: k-means with nlist=2 must recover
  // them exactly (seeded fit, clearly separated)
  private def twoBlobEmbeddings = {
    val blobA = (0L until 30L).map(i =>
      (i, Seq(10.0, 10.0, 0.0, 0.0).map(_ + (i % 3) * 0.01).map(_.toFloat)))
    val blobB = (100L until 110L).map(i =>
      (i, Seq(-10.0, -10.0, 0.0, 0.0).map(_ + (i % 3) * 0.01).map(_.toFloat)))
    (blobA ++ blobB).toDF("vec_id", "embedding")
  }

  test("clusterStats: cells partition the corpus, planted blobs recovered") {
    val emb = twoBlobEmbeddings
    val got = Similarity.clusterStats(emb, "embedding", nlist = 2).collect()
    assert(got.length == 2)
    assert(got.map(_.getAs[Long]("n")).sorted.toSeq == Seq(10L, 30L),
      got.mkString(","))
    got.foreach { r =>
      val (mean, mx) = (r.getAs[Double]("mean_dist"), r.getAs[Double]("max_dist"))
      assert(mean >= 0 && mx >= mean, r.toString)
      assert(mx < 1.0, s"blob dispersion must be tiny, got $r")
    }
    // the real fixture: stats cover every row exactly once
    val fix = Tables.embeddings(spark, sf)
    val stats = Similarity.clusterStats(fix, "embedding", nlist = 8)
    assert(stats.agg(sum($"n")).head().getLong(0) == fix.count())
  }

  test("clusterBalancedSample: per-cell cap, determinism, flattening") {
    val emb = twoBlobEmbeddings
    def run() = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
      perCell = 5, nlist = 2)
    val got = run().collect()
    // both cells flattened to the cap (blob A had 30, blob B 10)
    val perCell = got.groupBy(_.getAs[Int]("cell")).view.mapValues(_.length)
    assert(perCell.values.forall(_ == 5), perCell.toMap.toString)
    // sample is a subset of the input, deterministic across runs
    val ids = got.map(_.getAs[Long]("vec_id")).toSet
    assert(ids.subsetOf((0L until 30L).toSet ++ (100L until 110L).toSet))
    assert(run().collect().map(_.getAs[Long]("vec_id")).toSet == ids)
    // input columns survive alongside the assigned cell
    assert(got.head.schema.fieldNames.toSeq ==
      Seq("vec_id", "embedding", "cell"))
    // the skew-bounded salted two-phase top-k selects the SAME rows as a
    // single per-cell window (salts = 1 degenerates to the plain window)
    val plain = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
        perCell = 5, nlist = 2, salts = 1)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(plain == ids)
  }

  test("contaminationReport: exact vs near split, fractions, clean sets absent") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"),
      (3L, "totally unrelated content nothing shared here at all"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta") // dup of 1
    ).toDF("doc_id", "text")
    val bench = Seq(
      // exact copy of doc 1 (and its dup 4)
      ("bA", 100L, "alpha beta gamma delta epsilon zeta eta theta"),
      // near copy of doc 2: one trailing token changed
      ("bB", 200L, "one two three four five six seven nine"),
      // a set that matches nothing must not appear in the report
      ("bC", 300L, "completely disjoint vocabulary xyzzy quux")
    ).toDF("bset", "doc_id", "text")
    val got = Dedup.contaminationReport(corpus, bench, "doc_id", "text",
        "bset", shingleK = 3, threshold = 0.4)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // bA: docs 1 and 4 exact (near also fires on them — union counts once)
    assert(got("bA")._1 == 2L && got("bA")._2 == 2L)
    assert(got("bA")._4 == 0.5) // 2 of 4 corpus docs
    // bB: doc 2 near only
    assert(got("bB") == ((1L, 0L, 1L, 0.25)))
    assert(!got.contains("bC"))
  }

  test("curriculumShards: IID shards, easy-to-hard seq, injectable hash") {
    val df = (1L to 40L).map(i => (i, (41 - i) * 10)).toDF("id", "hard")
    val out = Dedup.curriculumShards(df, "id", difficulty = col("hard"),
        shards = 4, hash = Some(col("id")))
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
    // shard = id % 4 under the injected hash
    assert(out.forall { case (id, sh, _) => sh == (id % 4).toInt })
    // within a shard, seq follows ascending difficulty = descending id
    out.groupBy(_._2).foreach { case (_, rows) =>
      val bypos = rows.sortBy(_._3).map(_._1)
      assert(bypos.toSeq == bypos.sortBy(id => (41 - id) * 10).toSeq)
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // default hash: same shard sizes properties, deterministic
    val d1 = Dedup.curriculumShards(df, "id", col("hard"), 4).collect()
    val d2 = Dedup.curriculumShards(df, "id", col("hard"), 4).collect()
    assert(d1.map(_.toSeq).toSet == d2.map(_.toSeq).toSet)
  }

  test("pca: planted low-rank structure captured, components orthonormal, " +
      "projection matches the hand formula") {
    // variance lives in dims 0-1 (scaled pattern), dims 2-3 are constant:
    // two components must explain ~all variance
    val rows = (0 until 60).map { i =>
      val a = (i % 7).toDouble; val b = (i % 5).toDouble
      (i.toLong, Seq(3 * a + b, a - 2 * b, 1.0, -2.0).map(_.toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val model = Similarity.pcaFit(df, "embedding", outDim = 2)
    assert(model.explainedVariance.sum > 0.999,
      s"explained=${model.explainedVariance}")
    // orthonormal basis
    val Seq(c0, c1) = model.components
    def d(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    assert(math.abs(d(c0, c0) - 1.0) < 1e-9 && math.abs(d(c1, c1) - 1.0) < 1e-9)
    assert(math.abs(d(c0, c1)) < 1e-9)
    // projection = (x - mean) . c, verified against driver-side math
    val got = Similarity.pcaProject(df, "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.take(5).foreach { case (id, v) =>
      val x = v.map(_.toDouble)
      val centered = x.zip(model.mean).map { case (a, m) => a - m }
      val exp = Seq(d(centered, c0), d(centered, c1))
      got(id).zip(exp).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-6, s"id=$id got=${got(id)} exp=$exp") }
    }
  }

  test("pcaTopK: shortlist + exact rerank has decent recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble)
    val rest = emb.filter($"vec_id" =!= 0)
    val brute = Similarity.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val model = Similarity.pcaFit(emb, "embedding", outDim = 16)
    val pca = Similarity.pcaTopK(rest, "vec_id", "embedding", model, q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(pca.intersect(brute).size >= 5, s"recall too low: $pca vs $brute")
    // the rerank is exact: reported cosines equal brute-force cosines
    val bruteScores = Similarity.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Similarity.pcaTopK(rest, "vec_id", "embedding", model, q, 10)
      .collect().foreach { r =>
        bruteScores.get(r.getLong(0)).foreach(b =>
          assert(math.abs(r.getDouble(1) - b) < 1e-12))
      }
  }

  test("mixturePlan: hand-computed shares/rates, cap at 1x, matches temperatureMix math") {
    val df = ((1 to 1000).map(i => (i.toLong, "big")) ++
      (1001 to 1100).map(i => (i.toLong, "mid")) ++
      (1101 to 1110).map(i => (i.toLong, "tiny"))).toDF("id", "dom")
    val plan = Dedup.mixturePlan(df, "dom", alpha = 0.5, targetRows = 500)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    val wsum = math.sqrt(1000) + math.sqrt(100) + math.sqrt(10)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def rate(n: Int) = math.min(1.0, math.sqrt(n) / wsum * 500 / n)
    assert(plan("big") == ((1000L, r6(math.sqrt(1000) / wsum), r6(rate(1000)),
      math.round(1000 * rate(1000)))))
    assert(plan("mid")._3 == r6(rate(100)))
    // tiny's budgeted share exceeds its size -> rate caps at exactly 1
    assert(plan("tiny")._3 == 1.0 && plan("tiny")._4 == 10L)
    // shares sum to 1 (up to rounding)
    assert(math.abs(plan.values.map(_._2).sum - 1.0) < 1e-5)
  }

  test("mixturePlan: weight column budgets tokens; null domain reports as ''") {
    val df = Seq(
      (1L, "a", 100.0), (2L, "a", 100.0), // a: weight 200
      (3L, null.asInstanceOf[String], 50.0)) // null dom: weight 50
      .toDF("id", "dom", "tok")
    val plan = Dedup.mixturePlan(df, "dom", alpha = 1.0, targetRows = 100,
        weightCol = Some("tok"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    // alpha=1: shares proportional to weight; target 100 of 250 total
    assert(plan.keySet == Set("a", ""))
    assert(plan("a")._1 == 200L && plan("")._1 == 50L)
    assert(plan("a")._2 == 0.4 && plan("")._2 == 0.4) // 100/250 each
  }

  test("domainCap: cap binds per domain, preference desc, ties by id") {
    val df = Seq(
      (1L, "a", 10), (2L, "a", 30), (3L, "a", 20), (4L, "a", 30),
      (5L, "b", 5)).toDF("id", "dom", "q")
    val got = Dedup.domainCap(df, "id", "dom", cap = 2,
        preference = col("q"))
      .collect().map(_.getLong(0)).toSet
    // a keeps its two best by (q desc, id asc): ids 2 and 4 (both q=30);
    // b is under the cap and passes whole
    assert(got == Set(2L, 4L, 5L))
    // input columns pass through unchanged, no helper column leaks
    val cols = Dedup.domainCap(df, "id", "dom", 2, col("q")).columns.toSeq
    assert(cols == Seq("id", "dom", "q"))
  }

  test("dedupReport: histogram + totals, exact under forced hash regrouping") {
    // 3 keys: x appears 3x, y 2x, z 1x -> sizes {3:1 group, 2:1, 1:1};
    // totals: 3 groups, 6 rows
    val df = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "y"), (5L, "y"),
      (6L, "z")).toDF("id", "k")
    val got = Dedup.dedupReport(df, "id", Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("all", 0L, 3L, 6L),
      ("size", 1L, 1L, 1L), ("size", 2L, 1L, 1L * 2), ("size", 3L, 1L, 3L)))
    // multi-key grouping: (k, v) pairs distinct even when k collides
    val two = Seq((1L, "x", 1), (2L, "x", 1), (3L, "x", 2)).toDF("id", "k", "v")
    val g2 = Dedup.dedupReport(two, "id", Seq("k", "v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(g2.toSeq == Seq(
      ("all", 0L, 2L, 3L), ("size", 1L, 1L, 1L), ("size", 2L, 1L, 2L)))
  }

  test("lshRecallReport: full-strength banding finds every planted " +
      "pair (recall 1, precision 1); a starved configuration misses " +
      "and the report says so") {
    // ten near-identical pairs (one token changed) + unrelated filler
    val docs = (0 until 10).flatMap { i =>
      val base = (1 to 30).map(j => s"tok${i}_$j").mkString(" ")
      Seq((i * 2L, base), (i * 2L + 1L, base.replace(s"tok${i}_30", "zz")))
    } ++ (100L to 119L).map(i =>
      (i, (1 to 30).map(j => s"u${i}_$j").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val strong = Dedup.lshRecallReport(df, "doc_id", "text",
      shingleK = 3, threshold = 0.5, numHashes = 128, bands = 32).head
    assert(strong.getLong(0) === 10L && strong.getDouble(3) === 1.0 &&
      strong.getDouble(4) === 1.0)
    // 8 hashes / 2 bands (r = 4): band-collision odds collapse for
    // jaccard ~0.87 pairs often enough that SOME pair is missed ⇒
    // recall < 1 is representable and reported, never silently padded
    val weak = Dedup.lshRecallReport(df, "doc_id", "text",
      shingleK = 3, threshold = 0.5, numHashes = 8, bands = 1).head
    assert(weak.getLong(0) === 10L)
    assert(weak.getLong(2) <= weak.getLong(0))
    assert(weak.getDouble(3) <= 1.0)
    // subset law: LSH pairs verify the same exact jaccard, so whatever
    // it finds is in the ground truth
    assert(weak.getLong(2) === weak.getLong(1),
      "every LSH pair must be an exact pair (precision 1)")
  }

  test("templateMine: digit/word-substituted form letters share a " +
      "shape; unique shapes fall under the threshold") {
    val docs = Seq(
      (1L, "Order 123 for alice ships May 4"),
      (2L, "Order 456 for bob ships June 7"),   // same skeleton as 1
      (3L, "Order 789 for carol ships July 9"), // same skeleton
      (4L, "completely different text with no numbers at all here ok"))
      .toDF("doc_id", "text")
    val got = Dedup.templateMine(docs, "doc_id", "text", minDocs = 3L)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((3L, 1L)),
      "the three form letters collapse to one shape, doc 4 is unique")
    // partitioning-invariant replay
    val again = Dedup.templateMine(docs.repartition(5), "doc_id",
      "text", minDocs = 3L).collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(again.toSeq === got.toSeq)
  }

  test("containmentJoin: a short doc embedded in a long one scores " +
      "containment 1.0 in the short->long direction only — the pair " +
      "Jaccard misses") {
    val long =
      "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    val short = "delta echo foxtrot golf hotel india juliet kilo"
    val docs = Seq((1L, long), (2L, short),
      (3L, "whiskey xray yankee zulu uniform victor whiskey xray"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentJoin(docs, "doc_id", "text",
        shingleK = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(got.toSeq === Seq((2L, 1L, 1.0)),
      s"expected only short->long at 1.0, got ${got.toSeq}")
    // the symmetric Jaccard form never fires at any useful threshold:
    // the union is dominated by the long doc's shingles
    val jac = Dedup.ngramJaccardNearDups(docs, "doc_id", "text",
      shingleK = 3, threshold = 0.5).count()
    assert(jac === 0L)
    // partitioning-invariant replay
    val again = Dedup.containmentJoin(docs.repartition(5), "doc_id",
        "text", shingleK = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(again.toSeq === got.toSeq)
  }
}
