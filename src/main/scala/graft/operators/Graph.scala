package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

/** Link-graph centrality — the host/domain AUTHORITY signal web-corpus
  * curation ranks sources by (the public Common-Crawl-style recipe:
  * build the host graph, PageRank it, prefer documents from
  * high-centrality hosts). The reference has no graph operators at all
  * (SURVEY §2.3 notes); this is the Spark-first formulation: the graph
  * is an edge DataFrame, each iteration is one keyed aggregation, and
  * nothing node- or edge-scale ever reaches the driver.
  *
  * 100 TB shape: `edges` (with out-degrees joined on) is checkpointed
  * ONCE and re-read per iteration; the rank table is nodes-sized —
  * orders of magnitude smaller than the edge list for real web graphs —
  * and is the only thing that moves per iteration: one shuffle keyed by
  * `dst` for the contribution sum, a 1-row aggregate for the dangling
  * mass, and a nodes-sized checkpoint to truncate lineage (iterative
  * plans otherwise grow exponentially). Node count N is the single
  * driver-side scalar, computed once.
  *
  * Every truncation goes through [[CheckpointOps]], so durability is
  * the session's `spark.graft.checkpointDir` choice. Edge tables that
  * each round joins on a fixed key take a keyed checkpoint, which on a
  * wide (cluster-scale) table declares its hash layout so the edges
  * are not re-shuffled every round.
  */
object Graph {

  /** Standard damped PageRank with uniform dangling-mass redistribution:
    *
    *   rank_0(v)   = 1/N
    *   rank_i+1(v) = (1−d)/N + d·( Σ_{u→v} rank_i(u)/outdeg(u)
    *                               + dangling_i/N )
    *
    * where `dangling_i` is the total rank parked on nodes with no
    * out-edges (sinks would otherwise leak mass and ranks stop summing
    * to 1). Parallel edges are collapsed (the classic unweighted form);
    * self-loops count like any other edge. Ranks sum to 1 after every
    * iteration (pinned by GraphSpec).
    *
    * Returns one row per node: (id, rank) with `rank` rounded to
    * `roundTo` decimals for cross-engine reproducibility.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 10, damping: Double = 0.85,
      roundTo: Int = 6): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iterations, damping, roundTo,
      weightCol = None, teleportIds = None)

  /** Weighted PageRank: parallel (src, dst) edges collapse by SUMMING
    * `weightCol` (a link count, a click volume), and each source
    * distributes its rank proportionally to edge weight instead of
    * uniformly — `contrib(u→v) = rank(u)·w(u→v)/Σ_x w(u→x)`. Rows with
    * null/zero/negative weight are dropped (they carry no mass). Same
    * execution shape and dangling semantics as [[pageRank]]. */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int = 10, damping: Double = 0.85,
      roundTo: Int = 6): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iterations, damping, roundTo,
      weightCol = Some(weightCol), teleportIds = None)

  /** Personalized (topic-sensitive) PageRank: the random surfer
    * teleports UNIFORMLY OVER `seeds` instead of over all nodes, so
    * rank measures authority AS SEEN FROM the seed set — "rank hosts by
    * proximity to these trusted domains", the TrustRank-style curation
    * variant. Dangling mass returns to the seeds too (the standard
    * personalized formulation: every teleport event lands on a seed).
    * Seeds need not appear in the edge list; unknown seeds still
    * receive their teleport share. Scores sum to 1 over nodes ∪ seeds. */
  def pageRankPersonalized(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, iterations: Int = 10,
      damping: Double = 0.85, roundTo: Int = 6): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iterations, damping, roundTo,
      weightCol = None, teleportIds = Some(seeds))

  private def pageRankImpl(edges: DataFrame, srcCol: String,
      dstCol: String, iterations: Int, damping: Double, roundTo: Int,
      weightCol: Option[String], teleportIds: Option[DataFrame])
      : DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(damping >= 0.0 && damping <= 1.0,
      s"damping in [0,1], got $damping")
    // weighted: parallel edges merge additively; unweighted: collapse.
    // A null endpoint is not an edge (joins on null would silently park
    // rank on a phantom node) — dropped up front.
    val valid = edges.filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
    val e = weightCol match {
      case Some(w) =>
        valid.select(col(srcCol).as("src"), col(dstCol).as("dst"),
            col(w).cast("double").as("__w"))
          .filter(col("__w") > 0.0)
          .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("__w"))
      case None =>
        valid.select(col(srcCol).as("src"), col(dstCol).as("dst"))
          .distinct().withColumn("__w", lit(1.0))
    }
    val graphNodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    // lazy checkpoint + count: one job materializes AND counts
    val nodes = teleportIds
      .map(s => graphNodes.union(
        s.select(s.columns.head).toDF("id")).distinct())
      .getOrElse(graphNodes)
      .transform(CheckpointOps(_, eager = false))
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    // teleport share per node: uniform 1/n, or 1/|seeds| on seeds and 0
    // elsewhere (personalized); rides the nodes table as a column so the
    // iteration never special-cases
    val withT = teleportIds match {
      case Some(s) =>
        val seedSet = s.select(s.columns.head).toDF("id").distinct()
          .transform(CheckpointOps(_, eager = false))
        val k = seedSet.count()
        require(k > 0, "personalized pageRank needs at least one seed")
        nodes.join(seedSet.withColumn("__t", lit(1.0 / k)), Seq("id"), "left")
          .select(col("id"), coalesce(col("__t"), lit(0.0)).as("__t"))
      case None => nodes.select(col("id"), lit(1.0 / n).as("__t"))
    }
    // read once, by the final rank join — lazy is strictly cheaper
    val tNodes = withT.transform(CheckpointOps(_, eager = false))
    val outW = e.groupBy(col("src")).agg(sum(col("__w")).as("__deg"))
    // weight share AND the source's teleport share ride WITH each edge
    // so the per-iteration join touches only (edges ⋈ contrib) —
    // checkpointed once, KEYED by src: the declared layout makes every
    // iteration's rank join read the edge table in place, so the only
    // edge-scale shuffle per iteration is the contribution aggregate
    // itself (guide §2.4 — the theoretical minimum). Every e.src is in
    // withT by construction (nodes ⊇ edge endpoints), so the __t join
    // is loss-free.
    val eDeg = e.join(outW, "src")
      .join(withT.select(col("id").as("src"), col("__t")), Seq("src"))
      .transform(CheckpointOps.keyed(_, Seq("src"), None))

    // The iteration state is the CONTRIBUTION table (in-degree-holders
    // only), not the nodes-wide rank table: rank(u) is recomputed
    // per-edge from (__t(u), contrib(u), dangling) — the same doubles
    // the former per-node rank row carried, so every product and sum
    // is bit-identical — and the per-iteration nodes-sized left join
    // (+ its two exchanges: tNodes and contrib are both checkpoints
    // with unknown partitioning) is gone; the full rank table is built
    // ONCE at the end (r16, guide §2.4). Nodes with no out-edges never
    // join eDeg, and their rank reaches the next iteration through the
    // dangling-mass conservation scalar exactly as before.
    def rankExpr(c: Column, dang: Column): Column =
      lit(1.0 - damping) * col("__t") + lit(damping) *
        (coalesce(c, lit(0.0)) + dang * col("__t"))
    var state: Option[(DataFrame, DataFrame)] = None // (contrib, dangling)
    for (_ <- 0 until iterations) {
      val withRank = state match {
        // iteration 1: rank_0(u) = __t(u) (uniform 1/n, or the seed
        // share) — no contribution table exists yet
        case None => eDeg.withColumn("rank", col("__t"))
        case Some((c, dang)) =>
          eDeg.join(c.withColumnRenamed("id", "src"), Seq("src"), "left")
            .crossJoin(broadcast(dang)) // one-row scalar join
            .withColumn("rank", rankExpr(col("__c"), col("__dang")))
      }
      // contrib is the iteration's ONE keyed aggregate; checkpointed
      // because the dangling scalar and the next rank join both read it
      // (and to truncate the iterative lineage)
      val contrib = withRank
        .select(col("dst").as("id"),
          (col("rank") * col("__w") / col("__deg")).as("__c"))
        .groupBy(col("id")).agg(sum(col("__c")).as("__c"))
        .transform(CheckpointOps(_, eager = false))
      // dangling mass by conservation: every non-sink distributes its
      // whole rank, so Σ contrib = 1 − (rank parked on sinks) — one
      // scalar over the already-aggregated contrib table instead of a
      // second corpus-of-nodes anti-join + sum per iteration
      val dangling = contrib
        .agg((lit(1.0) - coalesce(sum(col("__c")), lit(0.0)))
          .as("__dang"))
      state = Some((contrib, dangling))
    }
    val ranks = state match {
      case None => tNodes.select(col("id"), col("__t").as("rank"))
      case Some((c, dang)) =>
        tNodes.join(c, Seq("id"), "left")
          .crossJoin(broadcast(dang))
          .select(col("id"), rankExpr(col("__c"), col("__dang")).as("rank"))
    }
    ranks.select(col("id"), round(col("rank"), roundTo).as("rank"))
  }

  /** HITS hubs-and-authorities (Kleinberg) — the BIPARTITE centrality
    * pair PageRank flattens: a hub score ("links to many good
    * authorities" — a crawl seed list, a breadth-heavy curator) and an
    * authority score ("linked by many good hubs" — the source worth
    * preferring), mutually reinforcing:
    *
    *   auth_i+1(v) ∝ Σ_{u→v} hub_i(u)      (then L1-normalized)
    *   hub_i+1(u)  ∝ Σ_{u→v} auth_i+1(v)   (then L1-normalized)
    *
    * L1 normalization (scores sum to 1) instead of the textbook L2 so
    * the per-iteration scalar is a plain `sum` — exact in any engine —
    * and scores read as shares. Same execution shape as [[pageRank]]:
    * edges checkpointed once, per half-iteration one keyed aggregate +
    * a 1-row normalizer, nodes-sized checkpointed score tables.
    * Returns (id, auth, hub) per node, rounded to `roundTo`; nodes with
    * no in-edges have auth 0, nodes with no out-edges hub 0. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 10, roundTo: Int = 6): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // the edge list is read keyed by src (auth step) AND by dst (hub
    // step) every iteration: pin BOTH layouts once so neither step
    // ever re-shuffles edges — only the nodes-sized score table moves
    val eSrc = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().transform(CheckpointOps.keyed(_, Seq("src"), None))
    val eDst = eSrc.transform(CheckpointOps.keyed(_, Seq("dst"), None))
    // read by the two final score joins only — lazy: the first read
    // materializes, the second reads blocks
    val nodes = eSrc.select(col("src").as("id"))
      .union(eSrc.select(col("dst").as("id"))).distinct()
      .transform(CheckpointOps(_, eager = false))
    // The iteration state is the RAW half-step aggregate (score-holding
    // nodes only), not the nodes-wide normalized table: a node absent
    // from aRaw/hRaw has score 0, and 0-valued rows are additive
    // identities of the next half-step's sum (x + 0.0 == x for the
    // non-negative scores here), so joining edges against the raw
    // aggregate directly — normalizing per edge row with the SAME
    // division of the SAME operands — is bit-identical while dropping
    // the per-half-step nodes-sized left join + checkpoint (2 joins, 2
    // checkpoint passes and their exchanges per iteration, r16); the
    // full score tables are built ONCE at the end.
    var aState: Option[(DataFrame, DataFrame)] = None // (aRaw, aNorm)
    var hState: Option[(DataFrame, DataFrame)] = None // (hRaw, hNorm)
    for (_ <- 0 until iterations) {
      // hub_0(u) = 1.0 for every node, so the first auth half-step
      // needs no hub join at all
      val withHub = hState match {
        case None => eSrc.withColumn("hub", lit(1.0))
        case Some((hRaw, hNorm)) =>
          eSrc.join(hRaw.withColumnRenamed("id", "src"), Seq("src"))
            .crossJoin(broadcast(hNorm)) // one-row scalar join
            .withColumn("hub", col("__h") / col("__s"))
      }
      // score-holders only; checkpointed because the normalizer and the
      // next half-step's edge join both read it — without truncation
      // each read re-runs the edge join
      val aRaw = withHub
        .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("__a"))
        .transform(CheckpointOps(_, eager = false))
      val aNorm = aRaw.agg(sum(col("__a")).as("__s"))
      aState = Some((aRaw, aNorm))
      val hRaw = eDst
        .join(aRaw.withColumnRenamed("id", "dst"), Seq("dst"))
        .crossJoin(broadcast(aNorm))
        .withColumn("auth", col("__a") / col("__s"))
        .groupBy(col("src").as("id")).agg(sum(col("auth")).as("__h"))
        .transform(CheckpointOps(_, eager = false))
      val hNorm = hRaw.agg(sum(col("__h")).as("__s"))
      hState = Some((hRaw, hNorm))
    }
    val auth = aState match {
      case None => nodes.select(col("id"), lit(0.0).as("auth"))
      case Some((aRaw, aNorm)) =>
        nodes.join(aRaw, Seq("id"), "left")
          .crossJoin(broadcast(aNorm))
          .select(col("id"),
            (coalesce(col("__a"), lit(0.0)) / col("__s")).as("auth"))
    }
    val hub = hState match {
      case None => nodes.select(col("id"), lit(1.0).as("hub"))
      case Some((hRaw, hNorm)) =>
        nodes.join(hRaw, Seq("id"), "left")
          .crossJoin(broadcast(hNorm))
          .select(col("id"),
            (coalesce(col("__h"), lit(0.0)) / col("__s")).as("hub"))
    }
    auth.join(hub, "id")
      .select(col("id"), round(col("auth"), roundTo).as("auth"),
        round(col("hub"), roundTo).as("hub"))
  }

  /** k-core decomposition (undirected): iteratively peel nodes with
    * degree < k until the fixpoint — the densely-connected core that
    * survives is the classic link-farm/periphery separator (a spam farm
    * inflates degree but collapses once its low-degree shells peel; a
    * genuinely embedded host keeps k mutually-core neighbors). Returns
    * the surviving nodes with their WITHIN-CORE degree (≥ k by
    * construction).
    *
    * Direction is ignored and parallel/self edges collapse (degree =
    * distinct neighbors). Each round is one degree aggregate + one
    * semi-join shrinking the (checkpointed) edge list; the loop's only
    * driver traffic is a row-count convergence check per round, and
    * rounds are bounded by `maxRounds` (the fixpoint is reached when a
    * round removes nothing — further rounds are no-ops, which is what
    * lets a fixed-unroll oracle reproduce the result exactly). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
    // keyed by a: the degree aggregate and the a-side semi-join both
    // read the round's edge set in place — only the b-side semi-join
    // moves edges (1 edge-keyed shuffle per round instead of 3)
    var e = und.union(und.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b")) // self-loops add no core support
      .distinct()
      .transform(CheckpointOps.keyed(_, Seq("a"), None))
    var n = e.count()
    var rounds = 0
    var converged = n == 0L
    while (!converged && rounds < maxRounds) {
      val keep = e.groupBy(col("a").as("id"))
        .agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") >= k)
        .select(col("id"))
      val pruned = e
        .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
        // the surviving set only shrinks: last round's count bounds it
        .transform(CheckpointOps.keyed(_, Seq("a"), Some(n)))
      val m = pruned.count()
      converged = m == n || m == 0 // empty is trivially the fixpoint
      e = pruned; n = m; rounds += 1
    }
    // a partially-peeled edge set is NOT the k-core — surface it loudly
    // instead of returning a silently-wrong superset (a caller wanting
    // the bounded-rounds semantics can catch and retry with a larger
    // bound; any fixed-unroll oracle must unroll to this same bound)
    if (!converged) throw new IllegalStateException(
      s"kCore(k=$k) did not reach the fixpoint within maxRounds=" +
        s"$maxRounds (last round still removed edges); raise maxRounds")
    e.groupBy(col("a").as("id")).agg(count(lit(1)).as("core_degree"))
  }

  /** Per-node triangle count and local clustering coefficient — the
    * classic cohesion signal (a host embedded in a tight community has
    * high LCC; a link farm inflates degree but closes few triangles,
    * LCC ≈ 0). Direction is ignored; parallel and self edges collapse.
    * Returns one row per node: (id, degree, triangles, lcc) with
    * `degree` = distinct neighbors, `lcc = 2·T/(deg·(deg−1))` (0 when
    * degree < 2), rounded to `roundTo`.
    *
    * 100 TB shape — degree-ordered edge orientation (the standard
    * triangle-listing bound): each undirected edge {u,v} is kept once,
    * directed from the (degree, id)-smaller endpoint to the larger, so
    * every node's oriented out-degree is O(√m) and the wedge self-join
    * does Σ outdeg² = O(m^1.5) work — the optimal listing bound —
    * instead of Σ deg² which a hub node makes quadratic. Each triangle
    * is generated exactly once (at its smallest vertex), closed by one
    * equi-semi-join on the oriented edge set, and fanned out to its
    * three corners for the per-node count. Three keyed shuffles total,
    * no broadcast of anything edge-scale, nothing reaches the driver. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String,
      roundTo: Int = 6): DataFrame = {
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
    val e = und.union(und.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = e.groupBy(col("a").as("id")).agg(count(lit(1)).as("degree"))
    // orient lo→hi by (degree, id); the struct fields carry identical
    // names on both sides so the comparison types line up
    val oriented = e
      .join(deg.select(col("id").as("a"), col("degree").as("__da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("__db")), "b")
      .filter(struct(col("__da").as("d"), col("a").as("n")) <
        struct(col("__db").as("d"), col("b").as("n")))
      .select(col("a").as("lo"), col("b").as("hi"),
        struct(col("__db").as("d"), col("b").as("n")).as("__ord"))
    val o1 = oriented.select(col("lo"), col("hi").as("v"),
      col("__ord").as("__ov"))
    val o2 = oriented.select(col("lo"), col("hi").as("w"),
      col("__ord").as("__ow"))
    // wedges at the smallest vertex (ord(v) < ord(w) halves the pairs);
    // a wedge is a triangle iff the oriented closing edge v→w exists
    val tris = o1.join(o2, Seq("lo"))
      .filter(col("__ov") < col("__ow"))
      .select(col("lo").as("u"), col("v"), col("w"))
      .join(oriented.select(col("lo").as("v"), col("hi").as("w")),
        Seq("v", "w"), "left_semi")
    val cnt = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    deg.join(cnt, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(when(col("degree") >= 2,
            lit(2.0) * coalesce(col("triangles"), lit(0L)) /
              (col("degree") * (col("degree") - lit(1L))).cast("double"))
          .otherwise(lit(0.0)), roundTo).as("lcc"))
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * 2014 — the public MapReduce-era recipe): converges in O(log n)
    * ROUNDS instead of the O(diameter) of min-label propagation
    * ([[graft.operators.Dedup.dupClusters]]' loop, which is the right
    * tool for shallow duplicate clusters). On a 100 TB web graph whose
    * components contain long chains, diameter-bound propagation is the
    * difference between ~20 rounds and thousands.
    *
    * Per round: two star steps, each ONE neighbor-min aggregate + one
    * join, rewriting the (checkpointed) pair set; emitted pairs always
    * point at the current minimum, so the set is canonically oriented
    * (big, small) and the exact convergence check is a count + one
    * anti-join. Driver traffic per round: two scalars. Throws if
    * `maxRounds` is exhausted before the fixpoint (a silently partial
    * clustering is worse than a loud failure — same contract as
    * [[kCore]]).
    *
    * Returns (id, component) for every node with at least one edge,
    * `component` = the smallest node id in the component. */
  def connectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
    // lazy: read exactly once, by the final label join — an eager
    // materialization here was one whole extra job for nothing
    val nodes = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id"))).distinct()
      .transform(CheckpointOps(_, eager = false))
    // m(u) = min(Γ(u) ∪ {u}) from the both-directions view
    def gamma(pairs: DataFrame): DataFrame =
      pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
    // the neighbor-min rides the SAME a-keyed pass as the rows it
    // annotates: a whole-partition window min instead of the former
    // groupBy + self-join (one exchange and zero joins per star step
    // instead of two exchanges, an aggregate and a sort-merge join —
    // the exact integer min is the same either way)
    def withMin(pairs: DataFrame): DataFrame =
      gamma(pairs).withColumn("__m",
        least(min(col("b")).over(Window.partitionBy(col("a"))), col("a")))
    // large-star: every strictly-larger neighbor links to the min;
    // small-star: every not-larger neighbor AND u itself link to it
    // no distinct() here: the output is ≤ |pairs| rows by construction
    // (one b>a orientation per undirected pair), duplicates don't
    // change smallStar's window min, and smallStar's own distinct
    // canonicalizes — dropping it removes one Exchange+HashAggregate
    // from EVERY round (guide §2.4 "a distinct on data that is already
    // [set-semantically absorbed]")
    def largeStar(pairs: DataFrame): DataFrame =
      withMin(pairs)
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("__m").as("b"))
        .filter(col("a") =!= col("b"))
    def smallStar(pairs: DataFrame): DataFrame = {
      val wm = withMin(pairs)
      // (v, m) for every not-larger neighbor v, plus (u, m) itself
      // (two selects over wm: the branches share the gamma exchange
      // via ReusedExchange, and measured FASTER than a single-pass
      // explode emission, which pays per-row array allocation)
      wm.filter(col("b") < col("a"))
        .select(col("b").as("a"), col("__m").as("b"))
        .union(wm.select(col("a"), col("__m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    // (an r15 experiment composed TWO star rounds per checkpoint/count
    // cycle to halve the orchestration — the compound plan's windows
    // over the un-deduped 3×-wider intermediates cost ~2× MORE than
    // the two checkpointed rounds they replaced; measured and
    // reverted, guide §1.1's empirical loop)
    // lazy checkpoint + count: the count action materializes the
    // checkpoint's blocks AND returns the row count in ONE job — the
    // former eager checkpoint ran its own materialization job and the
    // count re-scanned the cached blocks as a second one. At the
    // measured tail (rounds moving < 0.1% of pairs) the round wall is
    // pure orchestration, so one job fewer per round is a direct cut.
    var p = und
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .distinct().transform(CheckpointOps(_, eager = false))
    var pCount = p.count()
    var rounds = 0
    var converged = pCount == 0L
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(p))
        .transform(CheckpointOps(_, eager = false))
      val nCount = next.count()
      // Convergence, checked only on count-stable rounds (counts
      // stabilize before content at the tail, so this guard is free):
      // 1. STAR CHECK (r16): the canonical pair set is a disjoint
      //    union of stars ⇔ every a-side node carries exactly one pair
      //    AND no node appears on both sides. A star set is a g-
      //    fixpoint whose centers are the component minima (orientation
      //    a > b makes the center the smallest member), so stopping
      //    here yields labels identical to running the loop on — it
      //    removes the redundant final round (which recomputes the
      //    fixpoint onto itself) plus its anti-join that the old
      //    equality check needed. One tiny aggregate job, exact.
      // 2. Fallback, unchanged: exact set equality (same size, nothing
      //    new) — kept so any non-star fixpoint (none is known to
      //    exist for alternating star, but the stop rule must not
      //    depend on that) still terminates the loop.
      converged = nCount == pCount && {
        val isStar = next
          .select(col("a").as("id"), lit(1L).as("__na"), lit(0L).as("__nb"))
          .union(next.select(col("b").as("id"), lit(0L).as("__na"),
            lit(1L).as("__nb")))
          .groupBy(col("id"))
          .agg(sum(col("__na")).as("__na"), sum(col("__nb")).as("__nb"))
          .filter(col("__na") > 1L ||
            (col("__na") > 0L && col("__nb") > 0L))
          .limit(1).count() == 0L
        isStar ||
          next.join(p, Seq("a", "b"), "left_anti").limit(1).count() == 0L
      }
      p = next; pCount = nCount; rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not reach the fixpoint within " +
        s"maxRounds=$maxRounds; raise maxRounds")
    val lbl = gamma(p).groupBy(col("a").as("id"))
      .agg(min(col("b")).as("__mn"))
      .select(col("id"), least(col("id"), col("__mn")).as("component"))
    nodes.join(lbl, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
  }

  /** Incremental connected components: fold a DELTA edge batch into an
    * already-clustered graph WITHOUT re-reading the base edge list. The
    * base participates only through its STAR EDGES — the
    * (id, component) labels [[connectedComponents]] returned — which
    * are connectivity-EQUIVALENT to the full base graph (every node is
    * connected to its component representative) while being nodes-sized
    * rather than edges-sized. Running the alternating-star loop on
    * (star ∪ delta) therefore yields exactly the components of
    * (base ∪ delta), including merges the delta causes between old
    * components and nodes the delta introduces.
    *
    * This is the 100 TB ingest shape: per batch, the work scales with
    * (nodes + delta edges), never with the accumulated edge history —
    * the same never-reprocess-the-base contract as the incremental
    * dedup family. The returned labels feed the next increment. */
  def connectedComponentsIncrement(labels: DataFrame,
      deltaEdges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 20): DataFrame = {
    require(labels.columns.length >= 2,
      "labels must be the (id, component) table connectedComponents returns")
    val star = labels.select(col(labels.columns.head).as("src"),
      col(labels.columns(1)).as("dst"))
    val delta = deltaEdges.select(col(srcCol).as("src"),
      col(dstCol).as("dst"))
    connectedComponents(star.union(delta), "src", "dst", maxRounds)
  }

  /** Degree assortativity (Newman's r): the Pearson correlation of the
    * endpoint degrees over the symmetrized edge list — positive when
    * hubs attach to hubs (a spam mesh / mutual-promotion ring),
    * negative when hubs attach to leaves (the organic hierarchical
    * web). One number a curation run reads next to [[triangles]]' LCC.
    *
    * Engine-portable by construction: the four sufficient statistics
    * (edge count, Σxy, Σx, Σx²) are EXACT fixed-precision decimals
    * (declared precisions bound the 100 TB case: Σ caps at 10¹⁹), and
    * the only floating-point operation is the single final division —
    * identical IEEE doubles in any engine, then rounded to `roundTo`.
    * Returns one row (edges_directed, assortativity); `assortativity`
    * is null for a degree-regular graph (zero variance). Two keyed
    * shuffles (degree, then the stats reduce). */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String,
      roundTo: Int = 6): DataFrame = {
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
    val e = und.union(und.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = e.groupBy(col("a").as("id")).agg(count(lit(1)).as("degree"))
    val d19 = "decimal(19,0)"
    val j = e
      .join(deg.select(col("id").as("a"), col("degree").as("__x")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("__y")), "b")
      .select(col("__x").cast(d19).as("x"), col("__y").cast(d19).as("y"))
    j.agg(
        count(lit(1)).cast("decimal(18,0)").as("__m"),
        sum(col("x") * col("y")).cast(d19).as("__sxy"),
        sum(col("x")).cast(d19).as("__sx"),
        sum(col("x") * col("x")).cast(d19).as("__sxx"))
      .select(col("__m").cast("bigint").as("edges_directed"),
        round(
          when(col("__m") * col("__sxx") - col("__sx") * col("__sx") === 0,
            lit(null).cast("double"))
          .otherwise(
            (col("__m") * col("__sxy") - col("__sx") * col("__sx"))
              .cast("double") /
            (col("__m") * col("__sxx") - col("__sx") * col("__sx"))
              .cast("double")), roundTo)
          .as("assortativity"))
  }

  /** Multi-source BFS: minimum hop distance from any seed, out to
    * `maxHops` — the "supply-chain / link proximity to a trusted set"
    * reachability signal (TrustRank's discrete cousin: instead of a
    * teleporting surfer, the hard hop count). Returns (id, hops) for
    * every node reachable within `maxHops`; seeds are hop 0 whether or
    * not they appear in the edge list, unreachable nodes are absent.
    * `directed = false` symmetrizes the edges first.
    *
    * Frontier-expansion shape: per hop ONE edges⋈frontier join, a
    * distinct, and an anti-join against the settled set — each keyed by
    * node id; the settled table is nodes-sized and checkpointed per
    * round ([[CheckpointOps]]: local by default, durable under the
    * session conf). The only driver traffic is
    * the per-round frontier count for early exit, so a saturated graph
    * stops paying for the remaining hops. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int, directed: Boolean = true)
      : DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val valid = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val sym = if (directed) valid
      else valid.union(valid.select(col("dst").as("src"),
        col("src").as("dst")))
    // keyed by src: every hop's frontier join reads the edge table in
    // place; only the (tiny) frontier is exchanged per hop
    val e = sym.filter(col("src") =!= col("dst")).distinct()
      .transform(CheckpointOps.keyed(_, Seq("src"), None))
    // lazy checkpoints: the per-hop count materializes the frontier in
    // the same job, and the dist union materializes inside its next
    // reader — one job per hop instead of three (r16)
    var dist = seeds.select(col(seeds.columns.head).as("id")).distinct()
      .withColumn("hops", lit(0))
      .transform(CheckpointOps(_, eager = false))
    var frontier = dist.select(col("id"))
    var hop = 0
    var exhausted = false
    while (hop < maxHops && !exhausted) {
      hop += 1
      val next = e.join(frontier.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(dist.select(col("id")), Seq("id"), "left_anti")
        .withColumn("hops", lit(hop))
        .transform(CheckpointOps(_, eager = false))
      if (next.count() == 0L) exhausted = true
      else {
        dist = dist.union(next).transform(CheckpointOps(_, eager = false))
        frontier = next.select(col("id"))
      }
    }
    dist
  }

  /** Landmark harmonic centrality: for a deterministic landmark set L,
    * each node's score is Σ_{s ∈ L, s ≠ v, d(s,v) ≤ maxHops} 1/d(s,v) —
    * the harmonic form handles disconnection natively (an unreached
    * landmark contributes 0, where closeness's Σd diverges). Exact
    * all-pairs closeness is O(V·E) and dead at 100 TB; the landmark
    * estimator is the published scale substitute (Eppstein–Wang style):
    * |L| BFS waves run TOGETHER as one multi-source frontier keyed by
    * (node, landmark), so the iteration count stays maxHops, not
    * |L|·maxHops. Returns (id, reached, harmonic): landmarks reached
    * within the horizon and the harmonic sum over them.
    *
    * Exactness: BFS hop counts are exact integers; each 1/d weight is a
    * driver-side BigDecimal division at fixed scale 18 broadcast-joined
    * by hop ([[linkPredict]]'s decimal routing), so the per-node sum is
    * order-free and the single decimal→double cast (via STRING) is
    * correctly rounded in every engine.
    *
    * Scale: per hop ONE join frontier⋈edges + an anti-join against the
    * seen set — state is (nodes × landmarks)-sized, bounded by the
    * landmark budget, and checkpointed per round ([[CheckpointOps]]'s
    * durability contract). */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int, directed: Boolean = false)
      : DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val valid = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val sym = if (directed) valid
      else valid.union(valid.select(col("dst").as("src"),
        col("src").as("dst")))
    // keyed by src — same layout contract as [[bfsHops]]
    val e = sym.filter(col("src") =!= col("dst")).distinct()
      .transform(CheckpointOps.keyed(_, Seq("src"), None))
    // lazy checkpoints — same one-job-per-hop shape as [[bfsHops]]
    var dist = seeds.select(col(seeds.columns.head).as("id")).distinct()
      .select(col("id"), col("id").as("seed"), lit(0).as("hops"))
      .transform(CheckpointOps(_, eager = false))
    var frontier = dist.select(col("id"), col("seed"))
    var hop = 0
    var exhausted = false
    while (hop < maxHops && !exhausted) {
      hop += 1
      // unweighted BFS: the first hop a (node, landmark) pair appears at
      // IS its shortest distance, so new pairs are exactly the relaxed
      // pairs not yet seen — no min-merge needed
      val next = e.join(frontier.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("seed")).distinct()
        .join(dist.select(col("id"), col("seed")), Seq("id", "seed"),
          "left_anti")
        .withColumn("hops", lit(hop))
        .transform(CheckpointOps(_, eager = false))
      if (next.count() == 0L) exhausted = true
      else {
        dist = dist.union(next).transform(CheckpointOps(_, eager = false))
        frontier = next.select(col("id"), col("seed"))
      }
    }
    val spark = edges.sparkSession
    import spark.implicits._
    val inv = broadcast((1 to maxHops).map { h =>
      (h, java.math.BigDecimal.ONE.divide(
        java.math.BigDecimal.valueOf(h.toLong), 18,
        java.math.RoundingMode.HALF_EVEN))
    }.toDF("hops", "__inv")
      .select(col("hops"), col("__inv").cast("decimal(28,18)")))
    dist.filter(col("seed") =!= col("id"))
      .join(inv, Seq("hops"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("reached"),
        sum(col("__inv")).cast("string").cast("double").as("harmonic"))
  }

  /** Link prediction by common-neighborhood scoring: for every
    * NON-adjacent pair at distance 2, the common-neighbor count plus
    * the two classic weighted variants — Adamic–Adar `Σ 1/ln(deg v)`
    * and resource allocation `Σ 1/deg v` over the shared neighbors v —
    * the standard "who should be connected next" features for
    * recommendation and knowledge-graph completion. Pairs with fewer
    * than `minCommon` shared neighbors are dropped; direction is
    * ignored.
    *
    * Numerics: degrees are bounded integers (≤ `maxDegree`), so the
    * `1/ln(deg)` weights are PRECOMPUTED driver-side into a
    * degree-indexed DECIMAL(28,18) broadcast table — no runtime
    * transcendental at all, which matters twice: JVM `log` is
    * StrictMath (fdlibm) and differs from libm by an ULP on some
    * integers (ln 3 is one), so per-row `ln` would not be
    * engine-portable; and a 255-row broadcast beats a transcendental
    * per wedge. Contributions sum EXACTLY in decimal (double addition
    * is order-dependent), one final cast back — scores are
    * partitioning- and engine-invariant.
    *
    * Scale shape: the wedge join is center-keyed; centers with degree
    * > `maxDegree` are excluded BEFORE the pair expansion (the
    * capBuckets discipline — a hub center contributes ~1/ln(huge) per
    * pair but deg² pairs, the classic quadratic blow-up; the cut is
    * part of the semantics, log the drop rate at 100 TB). The
    * adjacency anti-join and the final aggregate are pair-keyed. */
  def linkPredict(edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Long = 2L, maxDegree: Int = 256): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
    val e = und.union(und.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .transform(CheckpointOps(_, eager = false)) // degrees, wedges, adjacency
    val deg = e.groupBy(col("a").as("v")).agg(count(lit(1)).as("__dv"))
    val d18 = "decimal(28,18)"
    val spark = edges.sparkSession
    import spark.implicits._
    // both weights from driver-side BigDecimal — a runtime
    // double→decimal cast is NOT engine-portable either (JVM rounds
    // the double's shortest string, DuckDB its exact binary expansion)
    val lnW = broadcast(
      (2 to maxDegree).map { dd =>
        val aa = java.math.BigDecimal
          .valueOf(1.0 / math.log(dd.toDouble)).setScale(18)
        val ra = java.math.BigDecimal.ONE.divide(
          java.math.BigDecimal.valueOf(dd.toLong), 18,
          java.math.RoundingMode.HALF_EVEN)
        (dd.toLong, aa, ra)
      }.toDF("__dv", "__waa", "__wra")
        .select(col("__dv"), col("__waa").cast(d18),
          col("__wra").cast(d18)))
    val star = e.select(col("a").as("v"), col("b").as("u"))
      .join(deg.filter(col("__dv") <= maxDegree), Seq("v"))
      .join(lnW, Seq("__dv"))
    val wedges = star.as("x")
      .join(star.as("y"),
        col("x.v") === col("y.v") && col("x.u") < col("y.u"))
      .select(col("x.u").as("id_a"), col("y.u").as("id_b"),
        col("x.__waa").as("__aa"), col("x.__wra").as("__ra"))
    val adj = e.filter(col("a") < col("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"))
    // decimal→double via STRING: both JVM BigDecimal.doubleValue and
    // DuckDB's direct cast DOUBLE-ROUND wide (>2⁵³ unscaled) decimals,
    // each differently; string→double parsing is correctly rounded in
    // both, so this is the portable exact cast
    wedges
      .join(adj, Seq("id_a", "id_b"), "left_anti")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("__aa")).cast("string").cast("double").as("adamic_adar"),
        sum(col("__ra")).cast("string").cast("double")
          .as("resource_alloc"))
      .filter(col("common_neighbors") >= minCommon)
  }

  /** Multi-source WEIGHTED shortest paths — [[bfsHops]]'s cost-aware
    * sibling: minimum total edge weight from any seed over paths of at
    * most `maxHops` edges, by `maxHops` rounds of distributed
    * Bellman-Ford relaxation (the classic frontier form: only nodes
    * improved last round relax their out-edges). Non-negative integer
    * weights keep every distance an exact long, so results are
    * engine-exact with no float accumulation. Returns (id, dist);
    * seeds are 0 whether or not they appear in the edge list,
    * unreachable nodes are absent. Parallel edges collapse to their
    * minimum weight; `directed = false` symmetrizes first.
    *
    * Per round: ONE edges⋈frontier join + a dst-keyed min aggregate
    * (map-side combinable) + one improvement anti-semi pass against the
    * nodes-sized settled table, which is checkpointed per round
    * ([[CheckpointOps]]: local by default, durable under the session
    * conf). Driver traffic is one improved-count scalar
    * per round, so a converged graph stops paying for remaining hops —
    * early exit is a no-op semantically because an unimproved round
    * leaves the fixpoint unchanged. */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, maxHops: Int,
      directed: Boolean = true): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val valid = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(weightCol).isNotNull && col(weightCol) >= 0)
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("__w"))
    val sym = if (directed) valid
      else valid.union(valid.select(col("dst").as("src"),
        col("src").as("dst"), col("__w")))
    // keyed by src — same layout contract as [[bfsHops]]
    val e = sym.filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(min(col("__w")).as("__w"))
      .transform(CheckpointOps.keyed(_, Seq("src"), None))
    // lazy checkpoints — same one-job-per-round shape as [[bfsHops]]
    var dist = seeds.select(col(seeds.columns.head).as("id")).distinct()
      .withColumn("dist", lit(0L))
      .transform(CheckpointOps(_, eager = false))
    var frontier = dist
    var hop = 0
    var converged = false
    while (hop < maxHops && !converged) {
      hop += 1
      val relaxed = e
        .join(frontier.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), (col("dist") + col("__w")).as("dist"))
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
      val improved = relaxed
        .join(dist.select(col("id"), col("dist").as("__old")),
          Seq("id"), "left")
        .filter(col("__old").isNull || col("dist") < col("__old"))
        .select(col("id"), col("dist"))
        .transform(CheckpointOps(_, eager = false))
      if (improved.count() == 0L) converged = true
      else {
        // min(old, improved) — improved rows are strictly smaller, so
        // the union-min rewrites exactly the improved ids
        dist = dist.union(improved)
          .groupBy(col("id")).agg(min(col("dist")).as("dist"))
          .transform(CheckpointOps(_, eager = false))
        frontier = improved
      }
    }
    dist
  }

  /** Community detection by synchronous label propagation (LPA): every
    * node starts as its own label; each round it adopts its neighbors'
    * most frequent label, ties broken by the SMALLEST label — a fully
    * deterministic rule, so a fixed-round run is reproducible and the
    * q184 oracle unrolls the identical rounds as chained CTEs (classic
    * LPA's random tie-breaks and asynchronous schedules are
    * better-converging but unverifiable). Fixed `iterations`, not a
    * convergence loop: synchronous LPA can oscillate on bipartite
    * structure, so "run k rounds" IS the defined semantics.
    *
    * Per round: one edge⋈labels hash join (labels are nodes-sized,
    * edges never re-shuffle after the one-time symmetrize) + one
    * (node, label) count aggregate + one per-node argmax — all
    * map-side-combinable; per-round state is checkpointed nodes-sized.
    * Returns (id, label) with communities named by their smallest
    * member label. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
    // keyed by b: the per-round labels join reads the edge table in
    // place (labels alone is exchanged, nodes-sized)
    val e = und.union(und.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      // reused every round, fixed lineage
      .transform(CheckpointOps.keyed(_, Seq("b"), None))
    // lazy: each round's labels are read once (by the next round) —
    // the truncated plan is what matters, not an eager materialization
    var labels = e.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .transform(CheckpointOps(_, eager = false))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("__n").desc, col("label").asc)
    for (_ <- 1 to iterations) {
      labels = e
        .join(labels.withColumnRenamed("id", "b"), Seq("b"))
        .groupBy(col("a").as("id"), col("label"))
        .agg(count(lit(1)).as("__n"))
        .withColumn("__r", row_number().over(w))
        .filter(col("__r") === 1)
        .select(col("id"), col("label"))
        .transform(CheckpointOps(_, eager = false))
    }
    labels
  }

  /** Newman modularity of a community assignment — the quality score
    * for [[labelPropagation]] / [[connectedComponents]] output ("are
    * these communities denser than chance?"): for an undirected simple
    * graph with m edges, `Q = Σ_c (e_c/m − (deg_c/2m)²)`, which
    * reduces to the ONE-division exact form
    * `Q = (4m·E_in − Σ_c deg_c²) / (2m)²` — every term an exact
    * integer (decimal-routed under the 19×19→38 digit discipline), so
    * the score is engine-bit-identical, never a float accumulation
    * over communities. Q ≈ 0 for random structure, > ~0.3 for real
    * community structure, and negative when the labels ANTI-correlate
    * with the topology.
    *
    * `labels` is (id, label) covering the graph's nodes (extra rows
    * are ignored via the join). Returns one row:
    * (n_nodes, n_edges, n_communities, intra_edges, modularity).
    *
    * Scale: one symmetrize+distinct of the edge list (the same shape
    * every Graph operator pays), one degree aggregate, two label
    * joins keyed on node id, then community-sized reductions. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame): DataFrame = {
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
      .transform(CheckpointOps(_, eager = false)) // m + degrees + intra count
    val lab = labels.select(col("id"), col("label"))
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("__deg"))
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val m = und.agg(count(lit(1)).as("__m"))
    val intra = und
      .join(lab.select(col("id").as("a"), col("label").as("__la")), "a")
      .join(lab.select(col("id").as("b"), col("label").as("__lb")), "b")
      .agg(coalesce(sum((col("__la") === col("__lb")).cast("long")),
        lit(0L)).as("__ein"))
    val comm = deg.join(lab, "id")
      .groupBy(col("label"))
      .agg(sum(col("__deg")).as("__dc"), count(lit(1)).as("__nn"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("__nn")).as("n_nodes"),
        sum(d19(col("__dc")) * d19(col("__dc"))).as("__sumdc2"))
    comm.crossJoin(broadcast(m)).crossJoin(broadcast(intra))
      .select(col("n_nodes"), col("__m").as("n_edges"),
        col("n_communities"), col("__ein").as("intra_edges"),
        when(col("__m") === 0, lit(null).cast("double"))
          .otherwise(
            // both subtraction operands bounded to 37 digits so the
            // difference types at 38 in EITHER engine (DuckDB errors,
            // rather than rescales, past 38); Σdeg_c² itself is a
            // 38-digit sum, never re-bounded to 19
            dbl((d19(lit(4L) * col("__m")) * d19(col("__ein")))
              .cast("decimal(37,0)") -
              col("__sumdc2").cast("decimal(37,0)")) /
            dbl(d19(lit(2L) * col("__m")) * d19(lit(2L) * col("__m"))))
          .as("modularity"))
  }

  /** Directed-edge reciprocity — "when a follows b, does b follow a?":
    * over the DISTINCT simple directed edges, the fraction with a
    * reverse edge present, plus the mutual-dyad count. The classic
    * social/link-graph health metric (crawl graphs: reciprocal links
    * correlate with link farms; interaction graphs: with real
    * relationships).
    *
    * Exactness: pure integer counts and ONE double division.
    * Scale: one distinct on the edge list and one self-join keyed on
    * the reversed pair — both edge-keyed shuffles, nothing wider. */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .distinct()
      .transform(CheckpointOps(_, eager = false)) // count + both join sides
    val recip = e.as("x")
      .join(e.as("y"), col("x.a") === col("y.b") && col("x.b") === col("y.a"),
        "left_semi")
      .agg(count(lit(1)).as("n_reciprocal"))
    e.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(recip))
      .select(col("n_edges"), col("n_reciprocal"),
        (col("n_reciprocal") / 2).cast("long").as("n_mutual_dyads"),
        when(col("n_edges") === 0, lit(null).cast("double"))
          .otherwise(col("n_reciprocal").cast("double") /
            col("n_edges").cast("double")).as("reciprocity"))
  }

  /** Power-law tail fit of the degree distribution — the Hill/MLE
    * estimator `α = 1 + n_tail / Σ ln(dᵢ/dmin)` over nodes with degree
    * ≥ `dmin` (Clauset–Shalizi–Newman's discrete approximation with
    * dmin − 1/2 continuity correction omitted for the exact-integer
    * form): the "is this graph scale-free, and how heavy is the tail?"
    * diagnostic behind crawl-frontier sizing and hub-capping decisions.
    * α ≈ 2–3 for web/social graphs; larger α = thinner tail.
    *
    * Engine-exactness: degrees are exact longs; each ln ratio is
    * quantized to nano-units via `floor(ln(d/dmin)·10⁹ + 0.5)` (exact
    * IEEE; absorbs the ≤1-ulp cross-engine ln difference) and summed
    * as 64-bit integers — order-free — with α ONE fixed double
    * expression over the exact sum. All-dmin tails (Σ = 0) report
    * NULL α. Returns (n_nodes, n_tail, dmin, max_degree, alpha).
    *
    * Scale: one symmetrize+distinct, one degree aggregate, one
    * map-side-combinable reduction. */
  def degreePowerLaw(edges: DataFrame, srcCol: String, dstCol: String,
      dmin: Long = 2L): DataFrame = {
    require(dmin >= 1, s"dmin must be >= 1, got $dmin")
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("__d"))
    deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(when(col("__d") >= dmin, 1L).otherwise(0L)).as("n_tail"),
        max(col("__d")).as("max_degree"),
        // nano-quantized ln terms ride DECIMAL(28,0): each term is up
        // to ~2e10 at web-scale degrees, so at ~1e9 tail nodes a Long
        // sum would approach 2^63 and silently wrap — decimal keeps
        // the crawl-scale sum exact with ~10^27 headroom
        sum(when(col("__d") >= dmin,
          floor(log(col("__d").cast("double") / lit(dmin.toDouble)) *
            lit(1000000000.0) + lit(0.5)).cast("long"))
          .otherwise(0L).cast("decimal(28,0)")).as("__lnsum"))
      .select(col("n_nodes"), col("n_tail"), lit(dmin).as("dmin"),
        col("max_degree"),
        when(col("__lnsum") === 0, lit(null).cast("double"))
          .otherwise(lit(1.0) + col("n_tail").cast("double") /
            (col("__lnsum").cast("string").cast("double") /
              lit(1000000000.0)))
          .as("alpha"))
  }
}
