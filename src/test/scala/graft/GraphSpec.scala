package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps
import graft.operators.Graph

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("pageRank: hand-computed 4-node graph with a dangling sink") {
    // 1→2, 1→3, 2→3, 3→4; node 4 is a sink whose mass redistributes.
    // Expected ranks from the reference iteration (d=0.85, 10 iters),
    // computed independently of this implementation.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val got = Graph.pageRank(edges, "src", "dst")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === Seq(
      (1L, 0.120574), (2L, 0.17177), (3L, 0.317502), (4L, 0.390154)))
  }

  test("pageRank: mass conserves (ranks sum to 1) and parallel edges " +
      "collapse") {
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L),
      (3L, 1L)).toDF("src", "dst")
    val ranks = Graph.pageRank(edges, "src", "dst", iterations = 15,
      roundTo = 9)
    val total = ranks.agg(sum("rank")).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-6, s"mass leaked: $total")
    // duplicate 1→2 edges must not triple 2's share: with collapse the
    // graph is the symmetric-ish cycle, so no node triples another
    val m = ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(2L) < 2 * m(3L), s"parallel edges over-weighted: $m")
  }

  test("pageRank: partitioning-invariant and deterministic on re-run") {
    val edges = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + 1000000L).as("dst"))
      .limit(5000)
    val a = Graph.pageRank(edges.repartition(1), "src", "dst",
      iterations = 5).orderBy("id").collect().toSeq
    val b = Graph.pageRank(edges.repartition(13), "src", "dst",
      iterations = 5).orderBy("id").collect().toSeq
    assert(a === b, "rank must be a function of the graph, not layout")
  }

  test("hits: hand-computed bipartite graph (golden-ratio shares), " +
      "sides stay disjoint") {
    // hubs {1,2} → authorities {3,4}; 4 is cited by both hubs.
    // Expected L1-normalized fixpoint shares computed independently.
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 4L)).toDF("src", "dst")
    val got = Graph.hits(edges, "src", "dst")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.toSeq === Seq(
      (1L, 0.0, 0.618034), (2L, 0.0, 0.381966),
      (3L, 0.381966, 0.0), (4L, 0.618034, 0.0)))
  }

  test("hits: scores are L1-normalized shares and partitioning-invariant") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val r1 = Graph.hits(edges.repartition(1), "src", "dst", roundTo = 9)
    val r7 = Graph.hits(edges.repartition(7), "src", "dst", roundTo = 9)
    assert(r1.orderBy("id").collect().toSeq ===
      r7.orderBy("id").collect().toSeq)
    val sums = r1.agg(sum("auth"), sum("hub")).head()
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-6)
    assert(math.abs(sums.getDouble(1) - 1.0) < 1e-6)
  }

  test("pageRankWeighted: mass follows edge weight, parallel edges sum") {
    // hub 1 links 2 and 3; weight 9:1 -> 2 must far outrank 3
    val w = Seq((1L, 2L, 9.0), (1L, 3L, 1.0), (2L, 1L, 1.0),
      (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val ranks = Graph.pageRankWeighted(w, "src", "dst", "w")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks(2L) > 3 * ranks(3L),
      s"weight 9:1 must dominate: $ranks")
    // the same graph expressed as 9 parallel unit edges is identical
    val dup = ((1 to 9).map(_ => (1L, 2L, 1.0)) ++
      Seq((1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0)))
      .toDF("src", "dst", "w")
    val ranks2 = Graph.pageRankWeighted(dup, "src", "dst", "w")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks === ranks2, "parallel edges must merge additively")
    // zero/null weights carry no mass
    val z = Seq((1L, 2L, 1.0), (1L, 3L, 0.0)).toDF("src", "dst", "w")
    val rz = Graph.pageRankWeighted(z, "src", "dst", "w")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!rz.contains(3L), "a zero-weight-only node is not in the graph")
  }

  test("pageRankPersonalized: rank concentrates around the seed set " +
      "and unknown seeds still get their teleport share") {
    // two disconnected 2-cycles; seeding {1} must leave {3,4} at 0
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val r = Graph.pageRankPersonalized(edges, "src", "dst", seeds)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) > r(2L) && r(2L) > 0.0, s"seed side must hold mass: $r")
    assert(r(3L) === 0.0 && r(4L) === 0.0,
      s"unreachable-from-seed nodes must score 0: $r")
    assert(math.abs(r.values.sum - 1.0) < 1e-5)
    // a seed outside the edge list appears with its teleport share
    val outside = Seq(Tuple1(99L)).toDF("id")
    val r2 = Graph.pageRankPersonalized(edges, "src", "dst", outside)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r2(99L) > 0.0, s"unknown seed must still receive teleport: $r2")
  }

  test("kCore: peeling cascades (a pendant chain unravels), self-loops " +
      "and parallel edges don't inflate degree") {
    // triangle {1,2,3} + chain 1–4–5 + noise: self-loop on 1, dup edge
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (4L, 5L),
      (1L, 1L), (2L, 1L)).toDF("src", "dst")
    val got = Graph.kCore(edges, "src", "dst", k = 2)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // round 1 peels 5 (deg 1); that drops 4 to deg 1 — round 2 peels it:
    // the cascade, not just a one-shot degree filter
    assert(got.toSeq === Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // k above the clique degree empties the core
    assert(Graph.kCore(edges, "src", "dst", k = 3).isEmpty)
  }

  test("kCore: throws loudly when maxRounds is exhausted before the " +
      "fixpoint instead of returning a partially-peeled edge set") {
    // 1–4–5 chain cascades: round 1 peels 5, round 2 peels 4 — with
    // maxRounds = 1 the loop ends mid-peel and must NOT pretend the
    // leftover superset is the 2-core
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      Graph.kCore(edges, "src", "dst", k = 2, maxRounds = 1).collect()
    }
    assert(ex.getMessage.contains("maxRounds"))
    // the same graph peels in 2 rounds + 1 confirming no-op round
    assert(Graph.kCore(edges, "src", "dst", k = 2, maxRounds = 3)
      .count() == 3L)
  }

  test("reliable checkpointDir: every iterative operator returns results " +
      "identical to the localCheckpoint path and writes durable state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gck").toString
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L),
      (5L, 6L), (6L, 5L)).toDF("src", "dst")
    val runs: Seq[() => DataFrame] = Seq(
      () => Graph.pageRank(edges, "src", "dst"),
      () => Graph.hits(edges, "src", "dst"),
      () => Graph.kCore(edges, "src", "dst", k = 2),
      () => Graph.labelPropagation(edges, "src", "dst"))
    def rows(run: () => DataFrame) = run().orderBy("id").collect().toSeq
    val local = runs.map(rows)
    val reliable = withConf(CheckpointOps.ConfKey -> dir)(runs.map(rows))
    assert(reliable === local)
    // the reliable path actually wrote RDD checkpoint state to the dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
    assert(wrote > 0, s"no reliable checkpoint state written under $dir")
  }

  test("pageRank: zero iterations returns the uniform prior") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, "src", "dst", iterations = 0)
      .collect().map(_.getDouble(1)).toSet
    assert(got === Set(0.333333))
  }

  test("labelPropagation: two cliques joined by a bridge settle into two " +
      "min-labeled communities; deterministic and partitioning-invariant") {
    // clique {1,2,3,4} — bridge 4–10 — clique {10,11,12,13}
    val cliqueA = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val cliqueB = for (a <- 10L to 13L; b <- 10L to 13L if a < b) yield (a, b)
    val edges = (cliqueA ++ cliqueB :+ (4L, 10L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, "src", "dst", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // community labels are the smallest member id on each side
    assert((1L to 4L).forall(got(_) == 1L), s"clique A: $got")
    assert((10L to 13L).forall(n => got(n) == 1L || got(n) == 10L),
      s"clique B: $got")
    assert(got.values.toSet.size <= 2)
    // determinism under different partitioning
    val again = Graph.labelPropagation(edges.repartition(7), "src", "dst",
      iterations = 5).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("labelPropagation equals a literal synchronous simulation on " +
      "pseudo-random graphs") {
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 4) {
      val nNodes = 12 + rng.nextInt(10)
      val raw = Seq.fill(40)(
        (rng.nextInt(nNodes).toLong, rng.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      val got = Graph.labelPropagation(raw.toDF("src", "dst"),
          "src", "dst", iterations = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: adjacency sets, 3 synchronous rounds of
      // most-frequent-neighbor-label with ties to the smallest label
      val adj = (raw ++ raw.map(_.swap)).distinct
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var labels = adj.keys.map(n => n -> n).toMap
      for (_ <- 1 to 3) {
        labels = adj.map { case (n, nbrs) =>
          val counts = nbrs.toSeq.map(labels).groupBy(identity)
            .view.mapValues(_.size).toSeq
          n -> counts.minBy { case (l, c) => (-c, l) }._1
        }
      }
      assert(got === labels, s"trial $trial diverged")
    }
  }

  test("labelPropagation: an isolated edge pair keeps its own label and " +
      "one round adopts the smaller endpoint") {
    val edges = Seq((7L, 8L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, "src", "dst", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: 7 adopts 8's label (its only neighbor) and vice versa;
    // round 2: both see the swapped labels — the pair converges to {7}
    // only on odd/even parity, so the DEFINED semantics is "k rounds"
    assert(got === Map(7L -> 7L, 8L -> 8L))
  }

  test("triangles: hand-computed counts on a triangle + pendant + " +
      "isolated pair; direction, parallel and self edges collapse") {
    // triangle {1,2,3} (one edge given twice, one reversed), pendant
    // 3–4, isolated pair 5–6, plus a self loop that must not count
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 4L),
      (5L, 6L), (4L, 4L)).toDF("src", "dst")
    val got = Graph.triangles(edges, "src", "dst").orderBy("id")
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got === Map(
      1L -> ((2L, 1L, 1.0)), 2L -> ((2L, 1L, 1.0)),
      3L -> ((3L, 1L, 0.333333)), 4L -> ((1L, 0L, 0.0)),
      5L -> ((1L, 0L, 0.0)), 6L -> ((1L, 0L, 0.0))))
  }

  test("triangles: K4 is fully clustered and the count is " +
      "partitioning-invariant") {
    val k4 = (for {
      a <- 1L to 4L; b <- 1L to 4L if a < b
    } yield (a, b)).toDF("src", "dst")
    val one = Graph.triangles(k4, "src", "dst").orderBy("id").collect()
    // every node: degree 3, C(3,2)=3 triangles, lcc 2*3/(3*2)=1
    assert(one.forall(r => r.getLong(1) == 3L && r.getLong(2) == 3L &&
      r.getDouble(3) == 1.0))
    val re = Graph.triangles(k4.repartition(7), "src", "dst")
      .orderBy("id").collect()
    assert(one.toSeq === re.toSeq)
  }

  test("bfsHops: directed vs undirected chain, maxHops bound") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(3L).toDF("id")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m(Graph.bfsHops(chain, "src", "dst", seeds, maxHops = 5))
      === Map(3L -> 0, 4L -> 1))
    assert(m(Graph.bfsHops(chain, "src", "dst", seeds, maxHops = 5,
      directed = false)) === Map(3L -> 0, 2L -> 1, 4L -> 1, 1L -> 2))
    assert(m(Graph.bfsHops(chain, "src", "dst", seeds, maxHops = 1,
      directed = false)) === Map(3L -> 0, 2L -> 1, 4L -> 1))
  }

  test("linkPredict: star+chord — adjacent pairs excluded, scores are " +
      "1/ln(deg) and 1/deg of the shared center; maxDegree drops hub " +
      "centers") {
    // center 1 ~ {2,3,4}, chord (2,3): only (2,4) and (3,4) are
    // non-adjacent with a shared neighbor (center 1, degree 3)
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.linkPredict(e, "src", "dst", minCommon = 1L)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq === Seq(
      (2L, 4L, 1L, 1.0 / math.log(3.0), 1.0 / 3.0),
      (3L, 4L, 1L, 1.0 / math.log(3.0), 1.0 / 3.0)))
    assert(Graph.linkPredict(e, "src", "dst", minCommon = 1L,
      maxDegree = 2).count() === 0L)
  }

  test("shortestPaths: cheap 2-hop beats expensive direct edge; " +
      "maxHops bound restores the direct edge; undirected reverses; " +
      "parallel edges collapse to their min") {
    val e = Seq((1L, 2L, 1L), (1L, 2L, 9L), (2L, 3L, 1L), (1L, 3L, 5L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(Graph.shortestPaths(e, "src", "dst", "w", seeds,
      maxHops = 3)) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(m(Graph.shortestPaths(e, "src", "dst", "w", seeds,
      maxHops = 1)) === Map(1L -> 0L, 2L -> 1L, 3L -> 5L))
    assert(m(Graph.shortestPaths(e, "src", "dst", "w",
      Seq(3L).toDF("id"), maxHops = 3, directed = false))
      === Map(3L -> 0L, 2L -> 1L, 1L -> 2L))
  }

  test("connectedComponents: path + pair + triangle get their " +
      "smallest-member labels; direction and self loops are ignored") {
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), // path 1..5
      (10L, 11L),                                           // pair
      (20L, 21L), (21L, 22L), (22L, 20L), (20L, 20L))       // triangle
      .toDF("src", "dst")
    val got = Graph.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents: a 60-node chain converges within the " +
      "default 20 rounds (O(log n), not O(diameter)) and matches " +
      "dupClusters' min-propagation labels") {
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    val cc = Graph.connectedComponents(chain, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size === 60 && cc.values.forall(_ == 1L))
    // cross-algorithm agreement on a random-ish pair set
    val pairs = (0L until 200L).map(i =>
      ((i * 7) % 50, (i * 13) % 50)).filter(p => p._1 != p._2)
      .toDF("src", "dst")
    val a = Graph.connectedComponents(pairs, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = graft.operators.Dedup.dupClusters(
        pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("connectedComponents: star-check early stop (r16) yields labels " +
      "identical to min-propagation on graphs whose pair count " +
      "stabilizes before content (trees, shuffled chains, merged stars)") {
    // the early stop fires on count-stable rounds; these shapes spend
    // several tail rounds re-orienting a stable-sized pair set, which
    // is exactly where a wrong star test would stop early with wrong
    // labels — cross-check every one against the independent
    // min-propagation loop
    val treeIds = new scala.util.Random(7).shuffle((0L until 127L).toVector)
    val shapes = Seq(
      // binary tree of depth 6 (children 2i+1, 2i+2), relabelled
      // through a fixed permutation so ids do not follow depth
      (0 until 63).flatMap(i => Seq(2 * i + 1, 2 * i + 2)
        .map(c => (treeIds(i), treeIds(c)))),
      // two chains joined at one end through a high id (combined
      // diameter kept under dupClusters' 20-hop propagation bound)
      (1L until 9L).map(i => (i * 3, (i + 1) * 3)) ++
        (1L until 9L).map(i => (i * 3 + 1, (i + 1) * 3 + 1)) ++
        Seq((27L, 28L)),
      // star of stars: hubs 100/200/300 bridged by leaves
      (1L to 30L).flatMap(i => Seq((100L, 100L + i), (200L, 200L + i),
        (300L, 300L + i))) ++ Seq((105L, 205L), (210L, 310L)))
    shapes.foreach { pairs =>
      val df = pairs.filter(p => p._1 != p._2).toDF("src", "dst")
      val a = Graph.connectedComponents(df, "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = graft.operators.Dedup.dupClusters(
          df.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a === b)
    }
  }

  test("connectedComponents: throws when maxRounds is exhausted and is " +
      "partitioning-invariant") {
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Graph.connectedComponents(chain, "src", "dst", maxRounds = 1)
    }
    val a = Graph.connectedComponents(chain, "src", "dst")
      .orderBy("id").collect().toSeq
    val b = Graph.connectedComponents(chain.repartition(7), "src", "dst")
      .orderBy("id").collect().toSeq
    assert(a === b)
  }

  test("connectedComponentsIncrement: a delta merges two base " +
      "components and introduces new nodes, matching full-graph CC") {
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val delta = Seq((3L, 10L),            // merges {1,2,3} with {10,11}
      (20L, 21L)).toDF("src", "dst")      // brand-new component
    val labels = Graph.connectedComponents(base, "src", "dst")
    val inc = Graph.connectedComponentsIncrement(labels, delta,
        "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Graph.connectedComponents(
        base.unionByName(delta), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full)
    assert(inc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L,
      11L -> 1L, 20L -> 20L, 21L -> 20L))
  }

  test("assortativity: a star is perfectly disassortative (−1), a " +
      "regular graph has no degree variance (null)") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val r1 = Graph.assortativity(star, "src", "dst").head
    assert(r1.getLong(0) === 6L && r1.getDouble(1) === -1.0)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val r2 = Graph.assortativity(cycle, "src", "dst").head
    assert(r2.getLong(0) === 8L && r2.isNullAt(1))
  }

  test("bfsHops: multi-source takes the minimum hop; seeds outside the " +
      "graph stay at hop 0; saturation exits early") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 4L, 99L).toDF("id")
    val got = Graph.bfsHops(chain, "src", "dst", seeds, maxHops = 50)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 4L -> 0, 99L -> 0, 2L -> 1, 5L -> 1,
      3L -> 2))
  }

  test("harmonicCentrality: hand-computed path graph — horizon cuts, " +
      "landmarks excluded from their own score, unreached nodes absent") {
    // path 1—2—3—4—5, landmarks {1, 5}, horizon 3:
    //   node 2: d(1)=1, d(5)=3 → 1 + 1/3;  node 3: 1/2 + 1/2 = 1
    //   node 4: d(1)=3, d(5)=1 → 1/3 + 1
    //   nodes 1 and 5: the other landmark is 4 hops away → absent
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("id")
    val got = Graph.harmonicCentrality(path, "src", "dst", seeds,
        maxHops = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val third = 1.0 / 3.0
    assert(got.map(_._1).toSeq === Seq(2L, 3L, 4L))
    assert(got.map(_._2).toSeq === Seq(2L, 2L, 2L))
    assert(math.abs(got(0)._3 - (1.0 + third)) < 1e-12)
    assert(got(1)._3 === 1.0)
    assert(math.abs(got(2)._3 - (1.0 + third)) < 1e-12)
    // partitioning-invariant replay
    val again = Graph.harmonicCentrality(path.repartition(5), "src",
        "dst", seeds, maxHops = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === again.toSeq)
  }

  test("modularity: two disjoint triangles under perfect labels score " +
      "0.5; one community scores 0; a mixed labeling scores lower") {
    import spark.implicits._
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("src", "dst")
    def lab(pairs: (Long, Long)*) = pairs.toDF("id", "label")
    val perfect = lab(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 2L, 5L -> 2L, 6L -> 2L)
    val got = Graph.modularity(tri, "src", "dst", perfect).head
    assert(got.getLong(0) === 6L)    // n_nodes
    assert(got.getLong(1) === 6L)    // n_edges
    assert(got.getLong(2) === 2L)    // n_communities
    assert(got.getLong(3) === 6L)    // intra_edges
    // Q = (4·6·6 − (6² + 6²)) / (2·6)² = 72/144
    assert(got.getDouble(4) === 0.5)
    val one = lab((1L to 6L).map(_ -> 9L): _*)
    assert(Graph.modularity(tri, "src", "dst", one)
      .head.getDouble(4) === 0.0)
    val mixed = lab(1L -> 1L, 2L -> 1L, 3L -> 2L,
      4L -> 2L, 5L -> 2L, 6L -> 1L)
    assert(Graph.modularity(tri, "src", "dst", mixed)
      .head.getDouble(4) < 0.5)
    // symmetrize+distinct: duplicate and reversed edges change nothing
    val noisy = tri.unionAll(tri.select(col("dst").as("src"),
      col("src").as("dst"))).unionAll(tri)
    assert(Graph.modularity(noisy, "src", "dst", perfect)
      .head.getDouble(4) === 0.5)
  }

  test("reciprocity: hand graph — one mutual dyad over four directed " +
      "edges; self-loops and duplicates never count") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L),
      (5L, 5L), (1L, 2L)).toDF("src", "dst")
    val got = Graph.reciprocity(e, "src", "dst").head
    assert(got.getLong(0) === 4L)   // distinct non-loop edges
    assert(got.getLong(1) === 2L)   // 1→2 and 2→1
    assert(got.getLong(2) === 1L)   // one mutual dyad
    assert(got.getDouble(3) === 0.5)
  }

  test("degreePowerLaw: a star counts one hub in the tail; " +
      "all-at-dmin tails report NULL alpha; partitioning-invariant") {
    import spark.implicits._
    // star: hub 0 with 8 leaves → deg(hub)=8, deg(leaf)=1
    val star = (1L to 8L).map(i => (0L, i)).toDF("src", "dst")
    val got = Graph.degreePowerLaw(star, "src", "dst", dmin = 2L).head
    assert(got.getLong(0) === 9L && got.getLong(1) === 1L)
    assert(got.getLong(3) === 8L)
    // alpha = 1 + 1 / ln(8/2), via the nano-quantized sum
    val expected = 1.0 + 1.0 / (math.floor(
      math.log(8.0 / 2.0) * 1e9 + 0.5) / 1e9)
    assert(got.getDouble(4) === expected)
    // triangle: every degree = dmin → ln sum 0 → NULL alpha
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(Graph.degreePowerLaw(tri, "src", "dst", dmin = 2L)
      .head.isNullAt(4))
    val again = Graph.degreePowerLaw(star.repartition(5), "src", "dst",
      dmin = 2L).head
    assert(again.getDouble(4) === got.getDouble(4))
  }

  test("keyed checkpoint declares its layout only in the wide regime: " +
      "narrow data falls back to the plain checkpoint, wide data still " +
      "declares") {
    val e = (1L to 5000L).map(i => (i % 97, i)).toDF("src", "dst")
    def declares(ck: DataFrame): Boolean =
      ck.queryExecution.analyzed.asInstanceOf[LogicalRDD]
        .outputPartitioning.isInstanceOf[HashPartitioning]
    // narrow: the data-derived width (1 at 2^20 rows/partition) is below
    // the session parallelism — plain checkpoint, no pinned 1-partition
    // layout throttling every downstream join; sized or not
    for (bound <- Seq(None, Some(5000L))) {
      val narrow = CheckpointOps.keyed(e, Seq("src"), bound)
      assert(!declares(narrow) && narrow.count() === 5000L)
    }
    // wide: one shuffle partition puts the floor at the data width, the
    // cluster regime — the layout IS declared
    withConf("spark.sql.shuffle.partitions" -> "1") {
      for (bound <- Seq(None, Some(5000L))) {
        val wide = CheckpointOps.keyed(e, Seq("src"), bound)
        assert(declares(wide) && wide.count() === 5000L)
      }
    }
  }

  test("keyed checkpoint declares its hash layout: a keyed join plans " +
      "with NO Exchange on the checkpointed side") {
    val e = (1L to 5000L).map(i => (i % 97, i)).toDF("src", "dst")
    val ranks = (0L to 96L).map(i => (i, i * 0.5)).toDF("id", "rank")
    // exchanges keyed on src in the executed plan of a src-keyed join
    // (broadcast off, so both sides must be clustered on the key)
    def srcExchanges(ck: DataFrame): Int = {
      val joined = ck.join(ranks, ck("src") === ranks("id"))
      assert(joined.count() === 5000L)
      WideSmoke.hashExchanges(joined.queryExecution.executedPlan)
        .count(WideSmoke.keyedOn(_, "src"))
    }
    withConf("spark.sql.shuffle.partitions" -> "1",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // wide regime (see above): the LogicalRDD must carry the declared
      // HashPartitioning …
      val ck = CheckpointOps.keyed(e, Seq("src"), None)
      val scan = ck.queryExecution.analyzed.asInstanceOf[LogicalRDD]
      assert(scan.outputPartitioning.isInstanceOf[HashPartitioning],
        s"declared partitioning lost: ${scan.outputPartitioning}")
      // … and a join keyed on it must not re-exchange the checkpointed
      // side: the only Exchange in the plan shuffles the OTHER side
      assert(srcExchanges(ck) === 0)
      // the plain checkpoint really does lose it (the fact this guards):
      // it comes back UnknownPartitioning and re-shuffles on src — the
      // per-iteration edge shuffle the graph loops would pay
      val plain = e.localCheckpoint()
      assert(!plain.queryExecution.analyzed.asInstanceOf[LogicalRDD]
        .outputPartitioning.isInstanceOf[HashPartitioning])
      assert(srcExchanges(plain) === 1)
    }
  }
}
