package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables.t

/** Iterative graph analytics over the order graph (extension surface:
  * the link-analysis family a web-scale curation pipeline runs to rank
  * crawl sources — CommonCrawl publishes harmonic-centrality/PageRank
  * ranks for exactly this purpose; reference scope: tiny_api_v2_cliente.py
  * has no graph ops, this is the 100 TB extension mandated by the brief).
  *
  * The graph: suppliers and customers are nodes; a distinct
  * (l_suppkey, o_custkey) trading relation from lineitem ⨝ orders is an
  * undirected edge, materialized as two directed edges. Node ids are
  * disjoint by offsetting customers (+1,000,000).
  *
  * Determinism discipline (same as the PCA/classifier capstones): the ONLY
  * cross-row floating sum — the per-destination contribution sum — is put
  * behind per-term fixed-point rounding (floor(x·1e12) as BIGINT), so the
  * integer sum is order-free and both engines walk bit-identical
  * trajectories for all iterations. Scalar double ops on identical inputs
  * (damping, normalization) are exactly-rounded IEEE — identical anywhere.
  *
  * Scale: each PageRank iteration is one equi-join (edges ⨝ ranks on src,
  * shuffled hash join at 100 TB) plus one grouped integer sum on dst —
  * the canonical distributed PageRank; state per round is O(|V|) rank rows,
  * localCheckpointed so lineage stays flat. The edge table is built ONCE
  * and reused across all iterations of both ops.
  */
object GraphOps {

  private val Damp = 0.85
  private val PrIters = 6
  private val HitsIters = 4
  private val CustOff = 1000000L
  private val KcoreK = 3
  private val KcoreRounds = 12
  private val BfsRounds = 6
  private val BfsSeedMax = 3L
  // betweenness traversal backbone: per-node strongest-relation cap
  // (see the x_betweenness_sample scaladoc for the scale rationale)
  private val BcDegCap = 64
  // co-occurrence family: per-SUPPLIER customer fan-out cap on the c2
  // side of the shared-supplier self-join (see x_cooccurrence_recs)
  private val CoDegCap = 64

  /** (edges(src,dst), outdeg(src,outdeg), nodes(node), nDouble) */
  private def orderGraph(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val e0 = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").cast("long").as("s"),
        col("o_custkey").cast("long").as("c"))
      .distinct()
    val edges = e0.select(col("s").as("src"), (col("c") + CustOff).as("dst"))
      .union(e0.select((col("c") + CustOff).as("src"), col("s").as("dst")))
      .localCheckpoint()
    // r21 (guide §2.4): the node set IS the degree table's key set (deg
    // groups by src, nodes was DISTINCT src — the same exchange over the
    // same rows), so checkpoint deg and derive nodes as a free
    // projection: consumers that need both (pagerank, assortativity,
    // degree histogram) stop re-running the degree aggregate, and the
    // barrier count is unchanged (deg's checkpoint replaces nodes').
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val nodes = deg.select(col("src").as("node"))
    (edges, deg, nodes)
  }

  /** Part co-purchase backbone with a CORPUS-RELATIVE support threshold
    * (r16 verdict #1, the exact analogue of the itemsets minsup-fraction
    * fix): an edge needs co-purchase in at least max(2, 0.01% of orders)
    * distinct orders — `sup >= 2 AND sup·10000 >= |orders|`, integer
    * cross-multiply so both engines pick identical edges with no float
    * threshold. A fixed absolute cut densifies on any corpus where the
    * catalog is small relative to order volume (the measured 36×
    * wedge-join shuffle at 10× data: every part pair co-occurs 10× more
    * and new pairs cross a fixed `>= 2` line), while a support FRACTION
    * keeps the backbone pinned to the catalog's true affinities — the
    * wedge-join input stays bounded as the corpus grows. At the sf0.01
    * oracle gate (15k orders) the fraction floor is below 2, so the
    * threshold is the historical `>= 2` there. Shared by the triangle,
    * k-core and clustering-coefficient entries. */
  private val CoPurchaseSupDen = 10000L

  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"),
        col("l_partkey").cast("long").as("pk"))
      .distinct()
    val no = t(s, d, "orders").agg(count(lit(1)).as("no"))
    li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("sup"))
      .crossJoin(broadcast(no))
      .filter(col("sup") >= 2 &&
        col("sup") * CoPurchaseSupDen >= col("no"))
      .select("p1", "p2")
  }

  /** DuckDB twin of [[coPurchaseEdges]]: li, e(p1, p2). */
  private val coPurchaseSql: String =
    s"""li AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
         FROM lineitem),
       nord AS (SELECT COUNT(*) AS no FROM orders),
       e AS MATERIALIZED (
         SELECT p1, p2 FROM (
           SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS sup
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY 1, 2) s, nord
         WHERE sup >= 2 AND sup * $CoPurchaseSupDen >= no)"""

  /** Shared DuckDB CTE prefix: e0, edges, deg, nodes, nn(n). */
  private val graphSql: String =
    s"""e0 AS MATERIALIZED (
          SELECT DISTINCT CAST(l.l_suppkey AS BIGINT) AS s,
                 CAST(o.o_custkey AS BIGINT) AS c
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        edges AS MATERIALIZED (
          SELECT s AS src, c + $CustOff AS dst FROM e0
          UNION ALL
          SELECT c + $CustOff AS src, s AS dst FROM e0),
        deg AS MATERIALIZED (
          SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
        nn AS (SELECT COUNT(*) AS n FROM nodes)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "x_assortativity" -> ((s, d) => {
      // degree assortativity of the trading graph — Newman's r: the
      // Pearson correlation of endpoint degrees over all (directed)
      // edges. Negative r = hubs attach to leaves (the dissortative
      // star shape typical of transactional/bipartite-ish graphs),
      // positive = rich-club. It summarizes in one number what the
      // degree histogram can't: WHO connects to whom. Plan: two keyed
      // joins of the edge list against the O(|V|) degree table, then
      // one aggregate of HUGEINT-exact moment sums; the closed form
      // runs in double on exact statistics.
      val (edges, deg, _) = orderGraph(s, d)
      val ed = edges
        .join(deg.select(col("src"), col("outdeg").as("dx")), "src")
        .join(deg.select(col("src").as("dst"), col("outdeg").as("dy")),
          "dst")
      ed.agg(count(lit(1)).as("m"),
          sum(col("dx").cast("decimal(38,0)")).as("sx"),
          sum(col("dy").cast("decimal(38,0)")).as("sy"),
          sum(col("dx").cast("decimal(38,0)") *
            col("dy").cast("decimal(38,0)")).as("sxy"),
          sum(col("dx").cast("decimal(38,0)") *
            col("dx").cast("decimal(38,0)")).as("sxx"),
          sum(col("dy").cast("decimal(38,0)") *
            col("dy").cast("decimal(38,0)")).as("syy"))
        .select(col("m").as("n_directed_edges"),
          graft.types.Coercions.detRound(
            col("sx").cast("double") / col("m"), 4).as("mean_edge_deg"),
          graft.types.Coercions.detRound(
            (col("m") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              sqrt((col("m") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
                (col("m") * col("syy").cast("double") -
                  col("sy").cast("double") * col("sy").cast("double"))),
            6).as("assortativity"))
    }),

    "x_bfs_distances" -> ((s, d) => {
      // multi-source BFS hop distance on the trading graph from a small
      // supplier seed set — "how many hops is every entity from my core
      // suppliers", the reachability question behind supply-chain blast
      // radius and graph-sampling neighborhoods. Frontier expansion is
      // the textbook distributed BFS: per round ONE equi-join (edges ⨝
      // frontier on src) plus one anti-join against the settled set, so
      // a round's cost is O(edges touched by the frontier), not O(|E|);
      // state is the O(|V|) settled table, localCheckpointed to keep
      // lineage flat. Rounds fixed at 6 in both engines (the bidirected
      // trading graph's diameter is small; nodes still unreached after 6
      // hops report dist = -1, identically). Output is the per-distance
      // histogram split by node side — all integer, order-free.
      val (edges, _, nodes) = orderGraph(s, d)
      val seeds = nodes.filter(col("node") <= BfsSeedMax)
        .withColumn("dist", lit(0L))
      var dist = seeds.localCheckpoint()
      var frontier = seeds.select(col("node")).localCheckpoint()
      for (r <- 1 to BfsRounds) {
        val next = edges
          .join(frontier.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node")).distinct()
          .join(dist.select(col("node")), Seq("node"), "left_anti")
          .withColumn("dist", lit(r.toLong))
          .localCheckpoint()
        dist = dist.union(next).localCheckpoint()
        frontier = next.select(col("node"))
      }
      val unreached = nodes
        .join(dist.select(col("node")), Seq("node"), "left_anti")
        .withColumn("dist", lit(-1L))
      dist.union(unreached)
        .select(col("dist"),
          when(col("node") >= CustOff, "customer").otherwise("supplier")
            .as("node_type"),
          when(col("node") >= CustOff, col("node") - CustOff)
            .otherwise(col("node")).as("k"))
        .groupBy(col("dist"), col("node_type"))
        .agg(count(lit(1)).as("n_nodes"), min(col("k")).as("min_key"),
          max(col("k")).as("max_key"))
        .orderBy("dist", "node_type")
    }),

    "x_betweenness_sample" -> ((s, d) => {
      // k-source sampled betweenness centrality (Brandes, J. Math.
      // Sociol. 2001, restricted to the BfsSeedMax seed set the BFS
      // ladder already bounds): which entities sit on the most
      // shortest paths from the core suppliers — the brokerage
      // question degree/PageRank cannot answer (a low-degree node
      // bridging two clusters scores high here, nowhere else). All
      // k sources run BATCHED in one ladder, state keyed (sid, node):
      // the forward pass is the x_bfs frontier expansion carrying
      // exact integer path counts σ (σ(v) = Σ σ(u) over same-level
      // predecessors; exact in LONG while max-degree^rounds < 2^63 —
      // holds at any realistic catalog; the standard float-σ variant
      // would be order-dependent), the backward pass walks the
      // shortest-path DAG levels deep→shallow accumulating Brandes
      // dependencies δ(v) = Σ σv/σw·(1+δw), each term 1e9-quantized
      // before its sum so both engines fold identical integers. The
      // estimate is the k-source partial sum — the sampling caveat is
      // an explicit output column (n_sources), the bounded-gauge
      // convention. Scale: 2×BfsRounds rounds of one equi-join + one
      // grouped sum each, state O(k·|V|), checkpointed per round.
      //
      // PER-NODE DEGREE CAP (r16 verdict #1): the traversal runs on
      // each node's top-64 STRONGEST trading relations (edge weight =
      // distinct orders linking the pair; ties broken by neighbor id),
      // not the full adjacency — the uncapped form fanned every
      // frontier through a densifying adjacency (measured 15.5× shuffle
      // at 10× data on the fixed-supplier fixture, where per-supplier
      // degree grows with volume). With the cap, |edges| <= 64·|V| and
      // each BFS round's join is O(cap · frontier) at ANY corpus size;
      // on a real growing catalog (bounded per-entity degree) the cap
      // is simply inactive. The bound rides as the explicit deg_cap
      // output column (the n_sources convention), and the capped
      // backbone is pinned by the spec's independent replay. Top-64 per
      // key uses the bounded-heap aggregate (map-side partials ship at
      // most 64 entries per node — never a per-node sort).
      val ew0 = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"),
          col("l_suppkey").cast("long").as("s"),
          col("o_custkey").cast("long").as("c"))
        .distinct()
        .groupBy("s", "c").agg(count(lit(1)).cast("double").as("w"))
      val dir = ew0
        .select(col("s").as("src"), (col("c") + CustOff).as("dst"),
          col("w"))
        .union(ew0.select((col("c") + CustOff).as("src"),
          col("s").as("dst"), col("w")))
      val edges = graft.util.ScaleJoins
        .topKPerKey(dir, Seq("src"), "w", "dst", BcDegCap)
        .select("src", "dst")
        .localCheckpoint()
      val nodes = edges.select(col("src").as("node")).distinct()
        .localCheckpoint()
      val seeds = nodes.filter(col("node") <= BfsSeedMax)
        .select(col("node").as("sid"), col("node"), lit(1L).as("sigma"))
        .localCheckpoint()
      var settled = seeds.select("sid", "node").localCheckpoint()
      var frontier = seeds
      val levels = scala.collection.mutable.ArrayBuffer[DataFrame](seeds)
      for (_ <- 1 to BfsRounds) {
        val next = edges
          .join(frontier.withColumnRenamed("node", "src"), "src")
          .join(settled.withColumnRenamed("node", "dst"),
            Seq("sid", "dst"), "left_anti")
          .groupBy(col("sid"), col("dst"))
          .agg(sum(col("sigma")).cast("long").as("sigma"))
          .select(col("sid"), col("dst").as("node"), col("sigma"))
          .localCheckpoint()
        settled = settled.union(next.select("sid", "node"))
          .localCheckpoint()
        frontier = next
        levels += next
      }
      var wSide = levels(BfsRounds).withColumn("dq", lit(0L))
      val contribs = scala.collection.mutable.ArrayBuffer[DataFrame]()
      for (l <- BfsRounds to 1 by -1) {
        val vSide = levels(l - 1)
        val contrib = vSide
          .select(col("sid"), col("node").as("src"),
            col("sigma").as("vs"))
          .join(edges, "src")
          .join(wSide.select(col("sid"), col("node").as("dst"),
            col("sigma").as("ws"), col("dq").as("wdq")),
            Seq("sid", "dst"))
          .select(col("sid"), col("src").as("node"),
            floor(col("vs").cast("double") / col("ws")
              * (lit(1.0) + col("wdq").cast("double") / 1e9)
              * 1e9 + 0.5).cast("long").as("q"))
          .groupBy("sid", "node")
          .agg(sum(col("q")).cast("long").as("dq"))
          .localCheckpoint()
        contribs += contrib
        wSide = vSide.join(contrib, Seq("sid", "node"), "left")
          .withColumn("dq", coalesce(col("dq"), lit(0L)))
      }
      val nSrc = seeds.agg(countDistinct(col("sid")).as("n_sources"))
      val bc = contribs.reduce(_ unionByName _)
        .filter(col("node") =!= col("sid"))
        .groupBy("node").agg(sum(col("dq")).cast("long").as("bcq"))
        .orderBy(desc("bcq"), asc("node")).limit(15)
      bc.withColumn("rank", row_number().over(
          Window.orderBy(desc("bcq"), asc("node"))))
        .crossJoin(broadcast(nSrc))
        .select(col("rank").cast("long").as("rank"),
          when(col("node") >= CustOff, "customer").otherwise("supplier")
            .as("node_type"),
          when(col("node") >= CustOff, col("node") - CustOff)
            .otherwise(col("node")).as("entity_key"),
          graft.types.Coercions.detRound(
            col("bcq").cast("double") / 1e9, 4).as("betweenness"),
          col("n_sources"), lit(BcDegCap.toLong).as("deg_cap"))
        .orderBy("rank")
    }),

    "x_pagerank" -> ((s, d) => {
      // PageRank (Page et al. 1999), damping 0.85, 6 synchronous
      // iterations. The bidirected trading graph has no dangling nodes
      // (every node that appears has outdeg >= 1), so no dangling-mass
      // redistribution term is needed — stated, not assumed: nodes is
      // built FROM edges.src. Per-iteration rank is re-quantized to
      // 1e-12 so the fixed-point trajectory is engine-portable.
      val (edges, deg, nodes) = orderGraph(s, d)
      val n = deg.count().toDouble // deg is the checkpoint; |keys| = |V|
      // r20 optimization (guide §2.4, §1.2 "the distributed algorithm"):
      // three structural cuts, arithmetic untouched so the 1e-12
      // fixed-point trajectory is bit-identical.
      // 1. outdeg is folded into the edge checkpoint ONCE — the old
      //    per-iteration `join(deg)` re-ran the degree aggregate (one
      //    exchange + agg) every round.
      // 2. each rank vector is referenced exactly once per iteration, so
      //    the whole 6-round recursion is a single linear query: the
      //    per-iteration localCheckpoint barriers (a full
      //    materialization job each) are gone and AQE schedules the
      //    per-round agg exchanges as dependent stages.
      // 3. the per-iteration `nodes LEFT JOIN contrib` re-add of
      //    contribution-less nodes is dropped: the graph is BIDIRECTED
      //    by construction (the union emits both edge directions), so
      //    dst-set == src-set == nodes and EVERY node receives at least
      //    one contribution — the left join never adds a row and the
      //    coalesce never fires, at any corpus size (structural, not a
      //    fixture property). Two joins per round become one.
      val edgesD = edges.join(deg, "src").localCheckpoint()
      var pr = nodes.withColumn("pr",
        floor(lit(1.0 / n) * 1e12 + 0.5) / 1e12)
      for (_ <- 1 to PrIters) {
        // 0.15 as a literal on BOTH sides (not 1.0 - Damp: IEEE
        // 1.0-0.85 = 0.15000000000000002, a different double than the
        // parsed literal both engines use).
        // r21 (guide §3.1): hash join instead of sort-merge — the rank
        // vector is the per-partition build side (O(|V|/N) rows, the
        // canonical distributed-PageRank join), dropping the six
        // per-round sorts of the million-row edge table (task time
        // ~15 -> ~11 s at sf0.1; the residual is exchange fetch + hash
        // probe, the honest per-round cost). Join output feeds an
        // order-free integer aggregate, so values are untouched.
        pr = edgesD
          .join(pr.withColumnRenamed("node", "src").hint("shuffle_hash"),
            "src")
          .select(col("dst").as("node"),
            floor(col("pr") / col("outdeg") * 1e12 + 0.5).cast("long")
              .as("q"))
          .groupBy("node").agg(sum(col("q")).cast("long").as("sq"))
          .select(col("node"),
            (floor((lit(0.15 / n)
              + lit(Damp) * (col("sq") / 1e12))
              * 1e12 + 0.5) / 1e12).as("pr"))
      }
      pr.select(
          when(col("node") >= CustOff, "customer").otherwise("supplier")
            .as("node_type"),
          when(col("node") >= CustOff, col("node") - CustOff)
            .otherwise(col("node")).as("entity_key"),
          (floor(col("pr") * 1e10 + 0.5) / 1e10).as("pr"))
        .orderBy(desc("pr"), asc("node_type"), asc("entity_key"))
        .limit(15)
    }),

    "x_hits" -> ((s, d) => {
      // HITS (Kleinberg 1999) on the bipartite trading graph: suppliers
      // are hubs, customers authorities. auth = sum of hub over incident
      // edges, hub = sum of auth; each half-step is L1-normalized (the
      // total is itself a fixed-point integer sum, so normalization is a
      // scalar double division — engine-portable). 4 iterations from
      // uniform. Same one-join-one-agg shape per half-step as PageRank.
      val e0 = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast("long").as("s"),
          col("o_custkey").cast("long").as("c"))
        .distinct()
        .localCheckpoint()
      // one barrier per HALF-step, on the raw sums: fusing both
      // half-steps into one barrier was tried (r20) and measured 3x
      // total task time — the L1-total fork references the raw
      // aggregate twice and ReuseExchange does NOT dedup the copies
      // (column pruning canonicalizes them apart). The checkpoint pins
      // each raw aggregate exactly once.
      //
      // r21 optimization (guide §1.2): the L1 total is now OBSERVED in
      // the same job that materializes the half-step checkpoint
      // (Dataset.observe — the quantized scores' exact long sum folds
      // through an accumulator, order-free integer addition) and comes
      // back as one driver scalar per half-step, the x_pagerank
      // nodes.count() class of orchestration read. That replaces the
      // r20 scalar-aggregate broadcast + crossJoin per half-step: the
      // total is the SAME long sum, S/1e12 the same IEEE division, the
      // literal the same double — every score bit-identical
      // (oracle-verified). Measured at sf0.1: 67 -> 43 jobs.
      def l1norm(raw0: DataFrame, v: String): DataFrame = {
        val obs = org.apache.spark.sql.Observation()
        val raw = raw0
          .observe(obs, sum(floor(col(v) * 1e12 + 0.5).cast("long"))
            .as("t"))
          .localCheckpoint()
        val tot = obs.get("t").asInstanceOf[Long] / 1e12
        raw.withColumn(v, floor(col(v) / lit(tot) * 1e12 + 0.5) / 1e12)
      }
      var hub: DataFrame = null
      var auth: DataFrame = null
      for (i <- 1 to HitsIters) {
        val aRaw =
          if (i == 1)
            // hub0 is the constant 1.0 over the DISTINCT suppliers, so
            // joining it contributes exactly floor(1.0e12 + 0.5) = 1e12
            // per edge: auth1's raw sum is count(edges per c)·1e12,
            // integer-exact — the sups distinct + its join are dead
            // weight and the r20 form's values are reproduced verbatim
            e0.groupBy("c")
              .agg(((count(lit(1)) * lit(1000000000000L)).cast("long")
                / 1e12).as("a"))
          else
            e0.join(hub, "s")
              .select(col("c"), floor(col("h") * 1e12 + 0.5).cast("long")
                .as("q"))
              .groupBy("c").agg((sum(col("q")).cast("long") / 1e12).as("a"))
        auth = l1norm(aRaw, "a")
        hub = l1norm(
          e0.join(auth, "c")
            .select(col("s"), floor(col("a") * 1e12 + 0.5).cast("long")
              .as("q"))
            .groupBy("s").agg((sum(col("q")).cast("long") / 1e12).as("h")),
          "h")
      }
      val bySide = org.apache.spark.sql.expressions.Window
        .partitionBy("side").orderBy(desc("score"), asc("entity_key"))
      hub.select(lit("hub").as("side"), col("s").as("entity_key"),
          (floor(col("h") * 1e10 + 0.5) / 1e10).as("score"))
        .union(auth.select(lit("authority").as("side"),
          col("c").as("entity_key"),
          (floor(col("a") * 1e10 + 0.5) / 1e10).as("score")))
        .withColumn("rk", row_number().over(bySide))
        .filter(col("rk") <= 10)
        .select(col("side"), col("rk").cast("long").as("rk"),
          col("entity_key"), col("score"))
        .orderBy(asc("side"), asc("rk"))
    }),

    "x_cooccurrence_recs" -> ((s, d) => {
      // item-item collaborative filtering ("customers like you also buy
      // from"): for each target customer, score candidate suppliers by
      // the number of shared-supplier paths through co-customers, drop
      // suppliers already used, keep top-3. The classic co-occurrence
      // recommender, all integer path counts. Plan: aggregate the
      // co-customer pair weights BEFORE fanning out to the neighbors'
      // suppliers (75k pair rows, not 675k path rows), top-3 via the
      // bounded-heap aggregate.
      //
      // PER-SUPPLIER DEGREE CAP (r18 verdict #6): the shared-supplier
      // self-join is O(Σ deg(sp)²) uncapped — the target-side filter
      // bounds c1 but a hot supplier fans out the c2 side with its FULL
      // customer set, which grows with volume on a fixed catalog. The
      // c2 side therefore joins against each supplier's top-CoDegCap
      // STRONGEST customer relations (weight = distinct orders linking
      // the pair, ties by customer id — the x_betweenness_sample
      // backbone pattern), so pair candidates are O(targets · cap) at
      // any corpus size. The bound rides as the explicit deg_cap
      // output column and the oracle applies the identical truncation.
      // Top-cap per supplier uses the bounded-heap aggregate (map-side
      // partials ship at most cap entries per supplier).
      val links = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"),
          col("o_custkey").cast("long").as("c"),
          col("l_suppkey").cast("long").as("sp"))
        .distinct()
      val ew = links.groupBy("c", "sp")
        .agg(count(lit(1)).cast("long").as("ow"))
        .localCheckpoint()
      val e0 = ew.select("c", "sp")
      val capped = graft.util.ScaleJoins.topKPerKey(
          ew.select(col("sp"), col("c"), col("ow").cast("double").as("wd")),
          Seq("sp"), "wd", "c", CoDegCap)
        .select(col("c").as("c2"), col("sp"))
      val targets = e0.filter(col("c") < 50)
      val pairs = targets.select(col("c").as("c1"), col("sp"))
        .join(capped, "sp")
        .filter(col("c1") =!= col("c2"))
        .groupBy("c1", "c2").agg(count(lit(1)).as("w"))
      val scores = pairs
        .join(e0.select(col("c").as("c2"), col("sp").as("cand")), "c2")
        .groupBy(col("c1"), col("cand"))
        .agg(sum(col("w")).cast("long").as("score"))
        .join(targets.select(col("c").as("c1"), col("sp").as("cand"))
          .withColumn("own", lit(true)), Seq("c1", "cand"), "left")
        .filter(col("own").isNull)
        .withColumn("dscore", col("score").cast("double"))
      graft.util.ScaleJoins.topKPerKey(
          scores.select(col("c1"), col("cand"), col("dscore")),
          Seq("c1"), "dscore", "cand", 3)
        .select(col("c1").as("customer"), col("rank"),
          col("cand").as("supplier"),
          col("dscore").cast("long").as("score"),
          lit(CoDegCap.toLong).as("deg_cap"))
        .orderBy("customer", "rank")
    }),

    "x_recs_holdout_eval" -> ((s, d) => {
      // TEMPORAL-HOLDOUT evaluation of the co-occurrence recommender —
      // the protocol that actually validates a recommender (random
      // splits leak future co-occurrence into training): train the
      // x_cooccurrence_recs pipeline on pre-1999 interactions only,
      // then measure how many evaluation customers' top-3 recommended
      // suppliers were genuinely ADOPTED in the test era (a test-era
      // supplier the customer had never used in training). Targets are
      // customers active in BOTH eras (c < 200 bounds the gauge). The
      // readout is honest machinery: hit_rate over customers who
      // adopted anything new at all. Same plan shapes as the underlying
      // recommender — pair weights aggregated before the neighbor
      // fan-out, top-3 via the bounded heap, and the same per-supplier
      // c2-side degree cap on the shared-supplier self-join (r18
      // verdict #6; see x_cooccurrence_recs — weight = distinct TRAIN
      // orders linking the pair, cap exported as deg_cap, oracle
      // truncated identically).
      // r21 optimization (guide §1.2 "the distributed algorithm", §2.4):
      // ONE era-conditional (c, sp) grain replaces the two separate era
      // grains the r20 shape kept. ow counts the pair's distinct TRAIN
      // orders (the recommender weight, unchanged) and tw its distinct
      // TEST orders, so every downstream set is a PREDICATE on the one
      // checkpointed grain instead of a join between two derived tables:
      // train = ow>0, test = tw>0, the adopted-new-supplier set
      // (test ANTI train) = tw>0 AND ow=0, and the both-era target
      // customers (two distincts + a semi-join in r20) = one c-level
      // fold of the c<200 slice. Set-identical by construction; the
      // fact pass (and its join shuffle, the dominant bytes at scale)
      // runs ONCE — r20 ran it twice, once per era, because its note
      // about the regressing shared checkpoint applied to the
      // four-column ORDER-grain base; this checkpoint is the far
      // smaller PAIR grain that all five consumers read whole.
      // Measured at sf0.1: 34 -> 29 jobs, wall flat-to-better
      // (4.84 vs 5.04 head-to-head, both canary-adjusted), local
      // shuffle 25.6 -> 33.8 MB — the unsplit distinct costs ~8 MB
      // locally where the halves used to sum to the same bytes, traded
      // for 2 -> 1 fact-join shuffles, which is what 100 TB pays for.
      // Oracle hash unchanged.
      val grain = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"),
          col("o_custkey").cast("long").as("c"),
          col("l_suppkey").cast("long").as("sp"),
          (year(col("o_orderdate")) < 1999).as("isTrain"))
        .distinct()
        .groupBy("c", "sp")
        .agg(sum(when(col("isTrain"), 1L).otherwise(0L)).cast("long")
            .as("ow"),
          sum(when(col("isTrain"), 0L).otherwise(1L)).cast("long")
            .as("tw"))
        // EAGER: five consumers fork this grain inside one AQE query —
        // a lazy persist races them into recomputing the fact subtree
        // (measured: +50% task time); one barrier job is cheaper.
        .localCheckpoint()
      val train = grain.filter(col("ow") > 0).select("c", "sp")
      val trainCap = graft.util.ScaleJoins.topKPerKey(
          grain.filter(col("ow") > 0).select(col("sp"), col("c"),
            col("ow").cast("double").as("wd")),
          Seq("sp"), "wd", "c", CoDegCap)
        .select(col("c").as("c2"), col("sp"))
      val targets = grain.filter(col("c") < 200)
        .groupBy("c")
        .agg(max(col("ow")).as("mo"), max(col("tw")).as("mt"))
        .filter(col("mo") > 0 && col("mt") > 0)
        .select("c")
        .localCheckpoint()
      val pairs = train.join(targets, Seq("c"), "left_semi")
        .select(col("c").as("c1"), col("sp"))
        .join(trainCap, "sp")
        .filter(col("c1") =!= col("c2"))
        .groupBy("c1", "c2").agg(count(lit(1)).as("w"))
      val scores = pairs
        .join(train.select(col("c").as("c2"), col("sp").as("cand")), "c2")
        .groupBy(col("c1"), col("cand"))
        .agg(sum(col("w")).cast("long").as("score"))
        .join(train.select(col("c").as("c1"), col("sp").as("cand"))
          .withColumn("own", lit(true)), Seq("c1", "cand"), "left")
        .filter(col("own").isNull)
        .withColumn("dscore", col("score").cast("double"))
      val top3 = graft.util.ScaleJoins.topKPerKey(
          scores.select(col("c1"), col("cand"), col("dscore")),
          Seq("c1"), "dscore", "cand", 3)
        .select(col("c1"), col("cand"))
      // a cheap filter + broadcast-semi over the in-memory grain: both
      // consumers re-derive it for free, so no checkpoint (r21)
      val newSup = grain.filter(col("tw") > 0 && col("ow") === 0)
        .select(col("c").as("c1"), col("sp").as("cand"))
        .join(targets.select(col("c").as("c1")), Seq("c1"), "left_semi")
      val hits = top3.join(newSup, Seq("c1", "cand"), "left_semi")
        .groupBy(col("c1")).agg(count(lit(1)).as("h"))
      val nT = targets.agg(count(lit(1)).as("n_targets"))
      val nNew = newSup.select("c1").distinct()
        .agg(count(lit(1)).as("n_with_new"))
      val hitAgg = hits.agg(count(lit(1)).as("n_hit_targets"),
        coalesce(sum(col("h")), lit(0L)).cast("long").as("n_hits"))
      nT.crossJoin(broadcast(nNew)).crossJoin(broadcast(hitAgg))
        .select(col("n_targets"), col("n_with_new"),
          col("n_hit_targets"), col("n_hits"),
          graft.types.Coercions.detRound(
            when(col("n_with_new") === 0, lit(0.0))
              .otherwise(col("n_hit_targets").cast("double")
                / col("n_with_new")), 6).as("hit_rate"),
          lit(CoDegCap.toLong).as("deg_cap"))
    }),

    "x_degree_histogram" -> ((s, d) => {
      // log-binned degree distribution of the trading graph — the first
      // thing a graph pipeline inspects before choosing join strategies
      // (a power-law tail means salting / AQE skew handling on the hub
      // keys; see x_dedup_skew_chunked). Bucket b means degree in
      // [2^b, 2^(b+1)) — computed as an integer comparison ladder, NOT
      // floor(log2(x)): Spark's log(2, x) is ln(x)/ln 2 while DuckDB's
      // log2 is libm log2, and they disagree at exact powers of two
      // (ln 8/ln 2 = 2.9999999999999996). One grouped count per side —
      // scale-trivial.
      // Ladder runs to 62 — the full positive range of a BIGINT degree —
      // so the bucket invariant (max_deg in [2^b, 2^(b+1))) holds for ANY
      // node the engine can count, not just degrees below 2^25; the
      // generated comparisons are codegen'd and cost-free.
      val (edges, deg, _) = orderGraph(s, d)
      val bucket = (1 to 62).foldLeft(lit(0L)) { (acc, b) =>
        when(col("outdeg") >= lit(1L << b), lit(b.toLong)).otherwise(acc)
      }
      deg.withColumn("side",
          when(col("src") >= CustOff, "customer").otherwise("supplier"))
        .withColumn("bucket", bucket)
        .groupBy("side", "bucket")
        .agg(count(lit(1)).as("n_nodes"),
          min(col("outdeg")).as("min_deg"),
          max(col("outdeg")).as("max_deg"))
        .orderBy("side", "bucket")
    }),

    "x_triangle_count" -> ((s, d) => {
      // triangle count + global clustering coefficient of the part
      // co-purchase backbone — the cohesion diagnostic run on an entity
      // graph before community detection (high cc → clustered domains,
      // near-zero → random co-occurrence). Graph: parts are nodes; an
      // undirected edge links parts co-ordered in at least max(2,
      // 0.01% of orders) DISTINCT orders — the corpus-RELATIVE support
      // cut (see coPurchaseEdges) that keeps the backbone pinned to the
      // catalog's true affinities as order volume grows, exactly
      // x_collocations' corpus-relative posture. Counting uses the
      // degree-ordered orientation (Suri & Vassilvitskii 2011): orient
      // each edge toward its (deg, id)-larger endpoint, enumerate wedges
      // only at each edge's SMALLER endpoint — fan-out per node is
      // capped near sqrt(|E|) regardless of hub degree — then close
      // wedges with one equi-join against the edge set. Every stage is
      // a keyed shuffle; no node ever materializes its full 2-hop set.
      val e = coPurchaseEdges(s, d).localCheckpoint()
      val deg = e.select(col("p1").as("n"))
        .union(e.select(col("p2").as("n")))
        .groupBy("n").agg(count(lit(1)).as("dg"))
      // p1 < p2 by construction, so on a degree tie the lex-smaller
      // endpoint (p1) is the wedge center — one rule, both engines
      val oe = e
        .join(deg.select(col("n").as("p1"), col("dg").as("d1")), "p1")
        .join(deg.select(col("n").as("p2"), col("dg").as("d2")), "p2")
        .select(
          when(col("d1") <= col("d2"), col("p1")).otherwise(col("p2"))
            .as("u"),
          when(col("d1") <= col("d2"), col("p2")).otherwise(col("p1"))
            .as("v"))
        .localCheckpoint()
      val tri = oe.as("x").join(oe.as("y"),
          col("x.u") === col("y.u") && col("x.v") < col("y.v"))
        .join(e, col("p1") === col("x.v") && col("p2") === col("y.v"))
        .agg(count(lit(1)).as("t"))
      val st = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("(dg * (dg - 1)) div 2")).cast("long").as("n_wedges"))
      val ne = e.agg(count(lit(1)).as("n_edges"))
      st.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
        .withColumn("global_cc",
          when(col("n_wedges") === 0, lit(0.0))
            .otherwise(graft.types.Coercions.detRound(
              lit(3.0) * col("t") / col("n_wedges"), 6)))
        .select(col("n_nodes"), col("n_edges"),
          col("t").as("n_triangles"), col("n_wedges"), col("global_cc"))
    }),

    "x_kcore" -> ((s, d) => {
      // 3-core of the co-purchase backbone — the "dense engagement core"
      // extraction run before community detection or embedding training
      // (peripheral low-degree nodes dominate |V| but carry no structure;
      // the k-core is the standard prune). Distributed peeling: each
      // round recomputes degrees (one grouped count) and drops nodes
      // below k plus their edges (two semi-joins) — the synchronous
      // parallel k-core algorithm; rounds needed = peel depth, which is
      // small on bounded-degeneracy graphs. Rounds are FIXED at 12 in
      // both engines (peeling is idempotent at the fixpoint, so extra
      // rounds are no-ops and the twins stay bit-identical by
      // construction); the spec proves a 13th peel removes nothing at
      // the fixture scale.
      val full = coPurchaseEdges(s, d).localCheckpoint()
      val nodesFull = full.select(col("p1").as("n"))
        .union(full.select(col("p2").as("n"))).distinct()
        .agg(count(lit(1)).as("n_nodes_full"))
      val edgesFull = full.agg(count(lit(1)).as("n_edges_full"))
      var e = full
      for (_ <- 1 to KcoreRounds) {
        val keep = e.select(col("p1").as("n"))
          .union(e.select(col("p2").as("n")))
          .groupBy("n").agg(count(lit(1)).as("dg"))
          .filter(col("dg") >= KcoreK)
          .select("n")
        e = e.join(keep.select(col("n").as("p1")), Seq("p1"), "left_semi")
          .join(keep.select(col("n").as("p2")), Seq("p2"), "left_semi")
          .localCheckpoint()
      }
      val coreNodes = e.select(col("p1").as("n"))
        .union(e.select(col("p2").as("n"))).distinct()
        .agg(count(lit(1)).as("n_core_nodes"))
      val coreEdges = e.agg(count(lit(1)).as("n_core_edges"))
      nodesFull.crossJoin(broadcast(edgesFull))
        .crossJoin(broadcast(coreNodes)).crossJoin(broadcast(coreEdges))
        .select(lit(KcoreK.toLong).as("k"), col("n_nodes_full"),
          col("n_edges_full"), col("n_core_nodes"), col("n_core_edges"))
    }),

    "x_clustering_coeff" -> ((s, d) => {
      // LOCAL clustering coefficient — x_triangle_count's global
      // transitivity says how clustered the co-purchase backbone is
      // overall; this says how it is DISTRIBUTED across node degrees
      // (hubs with low local cc are brokers between communities; the
      // Watts–Strogatz average weights every node equally, so the two
      // diagnostics genuinely differ). Per-node triangle counts come
      // from the SAME degree-ordered wedge enumeration (each closed
      // triangle (u, v1, v2) credits all three corners — three
      // projections of the one triangle join, never a second
      // enumeration), local cc_v = 2·t_v / (d_v(d_v−1)) for d_v ≥ 2,
      // quantized 1e9 per node before the per-bucket integer sums.
      // Output is the bounded degree-bucket profile (deg clamped at 10)
      // — O(buckets) rows at any graph size.
      val e = coPurchaseEdges(s, d).localCheckpoint()
      val deg = e.select(col("p1").as("n"))
        .union(e.select(col("p2").as("n")))
        .groupBy("n").agg(count(lit(1)).as("dg"))
        .localCheckpoint()
      val oe = e
        .join(deg.select(col("n").as("p1"), col("dg").as("d1")), "p1")
        .join(deg.select(col("n").as("p2"), col("dg").as("d2")), "p2")
        .select(
          when(col("d1") <= col("d2"), col("p1")).otherwise(col("p2"))
            .as("u"),
          when(col("d1") <= col("d2"), col("p2")).otherwise(col("p1"))
            .as("v"))
        .localCheckpoint()
      val tri = oe.as("x").join(oe.as("y"),
          col("x.u") === col("y.u") && col("x.v") < col("y.v"))
        .join(e, col("p1") === col("x.v") && col("p2") === col("y.v"))
        .select(col("x.u").as("c1"), col("x.v").as("c2"),
          col("y.v").as("c3"))
        .localCheckpoint()
      val triPerNode = tri.select(col("c1").as("n"))
        .unionByName(tri.select(col("c2").as("n")))
        .unionByName(tri.select(col("c3").as("n")))
        .groupBy("n")
        .agg(count(lit(1)).cast("long").as("tv"))
      deg.filter(col("dg") >= 2)
        .join(triPerNode, Seq("n"), "left")
        .withColumn("tv", coalesce(col("tv"), lit(0L)))
        .withColumn("qcc", floor(lit(2.0) * col("tv")
          / (col("dg") * (col("dg") - 1)) * 1e9 + 0.5).cast("long"))
        .withColumn("bucket", least(col("dg"), lit(10L)))
        .groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n_nodes"),
          sum(col("tv")).cast("long").as("corner_triangles"),
          sum(col("qcc")).cast("long").as("qsum"))
        .select(col("bucket").as("degree_bucket"), col("n_nodes"),
          col("corner_triangles"),
          graft.types.Coercions.detRound(
            col("qsum").cast("double") / 1e9 / col("n_nodes"), 6)
            .as("avg_local_cc"))
        .orderBy("degree_bucket")
    }))

  private def prIterSql(i: Int): String = {
    val prev = if (i == 1) "pr0" else s"pr${i - 1}"
    s"""pr$i AS MATERIALIZED (
          SELECT n.node,
                 floor(((CAST(0.15 AS DOUBLE) / nn.n)
                        + CAST(0.85 AS DOUBLE)
                          * (CAST(COALESCE(s.sq, 0) AS BIGINT) / 1e12))
                       * 1e12 + 0.5) / 1e12 AS pr
          FROM nodes n CROSS JOIN nn
          LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM(CAST(floor(p.pr / d.outdeg * 1e12 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS sq
            FROM edges e
            JOIN $prev p ON p.node = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY 1) s ON s.node = n.node)"""
  }

  private def hitsIterSql(i: Int): String = {
    val ph = if (i == 1) "hub0" else s"hub${i - 1}"
    s"""ar$i AS MATERIALIZED (
          SELECT e.c, CAST(SUM(CAST(floor(h.h * 1e12 + 0.5) AS BIGINT))
                           AS BIGINT) / 1e12 AS a
          FROM e0 e JOIN $ph h ON h.s = e.s GROUP BY 1),
        at$i AS (SELECT CAST(SUM(CAST(floor(a * 1e12 + 0.5) AS BIGINT))
                             AS BIGINT) / 1e12 AS t FROM ar$i),
        auth$i AS MATERIALIZED (
          SELECT c, floor(a / t * 1e12 + 0.5) / 1e12 AS a
          FROM ar$i, at$i),
        hr$i AS MATERIALIZED (
          SELECT e.s, CAST(SUM(CAST(floor(a.a * 1e12 + 0.5) AS BIGINT))
                           AS BIGINT) / 1e12 AS h
          FROM e0 e JOIN auth$i a ON a.c = e.c GROUP BY 1),
        ht$i AS (SELECT CAST(SUM(CAST(floor(h * 1e12 + 0.5) AS BIGINT))
                             AS BIGINT) / 1e12 AS t FROM hr$i),
        hub$i AS MATERIALIZED (
          SELECT s, floor(h / t * 1e12 + 0.5) / 1e12 AS h
          FROM hr$i, ht$i)"""
  }

  def oracleSql: Map[String, String] = Map(

    "x_assortativity" ->
      s"""WITH $graphSql,
          ed AS (
            SELECT d1.outdeg AS dx, d2.outdeg AS dy
            FROM edges e
            JOIN deg d1 ON d1.src = e.src
            JOIN deg d2 ON d2.src = e.dst),
          agg AS (
            SELECT COUNT(*) AS m,
                   SUM(CAST(dx AS HUGEINT)) AS sx,
                   SUM(CAST(dy AS HUGEINT)) AS sy,
                   SUM(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS sxy,
                   SUM(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS sxx,
                   SUM(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS syy
            FROM ed)
          SELECT m AS n_directed_edges,
                 floor(CAST(sx AS DOUBLE) / m * 1e4 + 0.5) / 1e4
                   AS mean_edge_deg,
                 floor((m * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / sqrt((m * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (m * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE)
                                   * CAST(sy AS DOUBLE)))
                       * 1e6 + 0.5) / 1e6 AS assortativity
          FROM agg""",

    "x_bfs_distances" ->
      s"""WITH RECURSIVE $graphSql,
          seeds AS (SELECT node FROM nodes WHERE node <= $BfsSeedMax),
          bfs AS (
            SELECT node, 0 AS dist FROM seeds
            UNION
            SELECT e.dst AS node, b.dist + 1 AS dist
            FROM bfs b JOIN edges e ON e.src = b.node
            WHERE b.dist < $BfsRounds),
          dmin AS (SELECT node, MIN(dist) AS dist FROM bfs GROUP BY 1),
          alld AS (
            SELECT n.node, COALESCE(d.dist, -1) AS dist
            FROM nodes n LEFT JOIN dmin d ON d.node = n.node)
          SELECT CAST(dist AS BIGINT) AS dist,
                 CASE WHEN node >= $CustOff THEN 'customer'
                      ELSE 'supplier' END AS node_type,
                 COUNT(*) AS n_nodes,
                 MIN(CASE WHEN node >= $CustOff THEN node - $CustOff
                          ELSE node END) AS min_key,
                 MAX(CASE WHEN node >= $CustOff THEN node - $CustOff
                          ELSE node END) AS max_key
          FROM alld GROUP BY 1, 2 ORDER BY dist, node_type""",

    "x_betweenness_sample" -> {
      // forward rounds: lvl{r} = newly settled nodes at distance r with
      // exact σ sums; set{r} = settled accumulator for the anti-join
      val fwd = (1 to BfsRounds).map { r =>
        s"""lvl$r AS MATERIALIZED (
              SELECT f.sid, e.dst AS node,
                     CAST(SUM(f.sigma) AS BIGINT) AS sigma
              FROM lvl${r - 1} f JOIN edges e ON e.src = f.node
              WHERE NOT EXISTS (SELECT 1 FROM set${r - 1} s
                                WHERE s.sid = f.sid AND s.node = e.dst)
              GROUP BY 1, 2),
            set$r AS MATERIALIZED (
              SELECT * FROM set${r - 1}
              UNION ALL SELECT sid, node FROM lvl$r)"""
      }.mkString(",\n")
      // backward rounds: c{l} = dependency contributions to level-l
      // nodes from level l+1; wl{l} = level-l nodes with their δ
      val bwd = (BfsRounds to 1 by -1).map { l =>
        val w = s"wl$l"
        s"""c${l - 1} AS MATERIALIZED (
              SELECT v.sid, v.node,
                     CAST(SUM(CAST(floor(CAST(v.sigma AS DOUBLE) / w.sigma
                       * (1.0 + CAST(w.dq AS DOUBLE) / 1e9)
                       * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS dq
              FROM lvl${l - 1} v
              JOIN edges e ON e.src = v.node
              JOIN $w w ON w.sid = v.sid AND w.node = e.dst
              GROUP BY 1, 2),
            wl${l - 1} AS MATERIALIZED (
              SELECT lv.sid, lv.node, lv.sigma, COALESCE(c.dq, 0) AS dq
              FROM lvl${l - 1} lv
              LEFT JOIN c${l - 1} c
                ON c.sid = lv.sid AND c.node = lv.node)"""
      }.mkString(",\n")
      val allC = (0 until BfsRounds).map(l =>
        s"SELECT sid, node, dq FROM c$l").mkString(" UNION ALL ")
      s"""WITH ew0 AS MATERIALIZED (
            SELECT s, c, CAST(COUNT(*) AS DOUBLE) AS w FROM (
              SELECT DISTINCT l.l_orderkey AS ok,
                     CAST(l.l_suppkey AS BIGINT) AS s,
                     CAST(o.o_custkey AS BIGINT) AS c
              FROM lineitem l JOIN orders o
                ON l.l_orderkey = o.o_orderkey)
            GROUP BY 1, 2),
          dir AS (
            SELECT s AS src, c + $CustOff AS dst, w FROM ew0
            UNION ALL
            SELECT c + $CustOff AS src, s AS dst, w FROM ew0),
          edges AS MATERIALIZED (
            SELECT src, dst FROM (
              SELECT src, dst,
                     row_number() OVER (PARTITION BY src
                       ORDER BY w DESC, dst) AS rn
              FROM dir)
            WHERE rn <= $BcDegCap),
          nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
          lvl0 AS MATERIALIZED (
            SELECT node AS sid, node, CAST(1 AS BIGINT) AS sigma
            FROM nodes WHERE node <= $BfsSeedMax),
          set0 AS MATERIALIZED (SELECT sid, node FROM lvl0),
          $fwd,
          wl$BfsRounds AS MATERIALIZED (
            SELECT sid, node, sigma, CAST(0 AS BIGINT) AS dq
            FROM lvl$BfsRounds),
          $bwd,
          ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources FROM lvl0),
          bc AS (
            SELECT node, CAST(SUM(dq) AS BIGINT) AS bcq
            FROM ($allC) u
            WHERE node <> sid GROUP BY 1),
          top AS (
            SELECT node, bcq,
                   row_number() OVER (ORDER BY bcq DESC, node) AS rank
            FROM bc)
          SELECT CAST(rank AS BIGINT) AS rank,
                 CASE WHEN node >= $CustOff THEN 'customer'
                      ELSE 'supplier' END AS node_type,
                 CASE WHEN node >= $CustOff THEN node - $CustOff
                      ELSE node END AS entity_key,
                 floor(CAST(bcq AS DOUBLE) / 1e9 * 1e4 + 0.5) / 1e4
                   AS betweenness,
                 ns.n_sources, CAST($BcDegCap AS BIGINT) AS deg_cap
          FROM top, ns WHERE rank <= 15 ORDER BY rank"""
    },

    "x_pagerank" -> {
      val iters = (1 to PrIters).map(prIterSql).mkString(",\n")
      s"""WITH $graphSql,
          pr0 AS MATERIALIZED (
            SELECT node,
                   floor((CAST(1.0 AS DOUBLE) / nn.n) * 1e12 + 0.5) / 1e12
                     AS pr
            FROM nodes, nn),
          $iters
          SELECT CASE WHEN node >= $CustOff THEN 'customer'
                      ELSE 'supplier' END AS node_type,
                 CASE WHEN node >= $CustOff THEN node - $CustOff
                      ELSE node END AS entity_key,
                 floor(pr * 1e10 + 0.5) / 1e10 AS pr
          FROM pr$PrIters
          ORDER BY pr DESC, node_type, entity_key LIMIT 15"""
    },

    "x_hits" -> {
      val iters = (1 to HitsIters).map(hitsIterSql).mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
            SELECT DISTINCT CAST(l.l_suppkey AS BIGINT) AS s,
                   CAST(o.o_custkey AS BIGINT) AS c
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
          hub0 AS MATERIALIZED (
            SELECT DISTINCT s, 1.0 AS h FROM e0),
          $iters
          SELECT side,
                 CAST(row_number() OVER (PARTITION BY side
                        ORDER BY score DESC, entity_key) AS BIGINT) AS rk,
                 entity_key, score FROM (
            SELECT 'hub' AS side, s AS entity_key,
                   floor(h * 1e10 + 0.5) / 1e10 AS score FROM hub$HitsIters
            UNION ALL
            SELECT 'authority' AS side, c AS entity_key,
                   floor(a * 1e10 + 0.5) / 1e10 AS score
            FROM auth$HitsIters)
          QUALIFY rk <= 10
          ORDER BY side, rk"""
    },

    "x_cooccurrence_recs" ->
      s"""WITH ew AS MATERIALIZED (
           SELECT c, sp, COUNT(*) AS ow
           FROM (SELECT DISTINCT l.l_orderkey AS ok,
                        CAST(o.o_custkey AS BIGINT) AS c,
                        CAST(l.l_suppkey AS BIGINT) AS sp
                 FROM lineitem l
                 JOIN orders o ON l.l_orderkey = o.o_orderkey)
           GROUP BY 1, 2),
         e0 AS (SELECT c, sp FROM ew),
         cap AS MATERIALIZED (
           SELECT c AS c2, sp FROM (
             SELECT c, sp, row_number() OVER (PARTITION BY sp
               ORDER BY ow DESC, c) AS rn
             FROM ew)
           WHERE rn <= $CoDegCap),
         pairs AS MATERIALIZED (
           SELECT a.c AS c1, b.c2, COUNT(*) AS w
           FROM e0 a JOIN cap b ON a.sp = b.sp AND a.c <> b.c2
           WHERE a.c < 50 GROUP BY 1, 2),
         scores AS MATERIALIZED (
           SELECT p.c1, e.sp AS cand, CAST(SUM(p.w) AS BIGINT) AS score
           FROM pairs p JOIN e0 e ON e.c = p.c2
           GROUP BY 1, 2),
         fresh AS (
           SELECT s.c1, s.cand, s.score
           FROM scores s
           LEFT JOIN e0 o ON o.c = s.c1 AND o.sp = s.cand
           WHERE o.c IS NULL)
         SELECT c1 AS customer, CAST(rn AS BIGINT) AS rank,
                cand AS supplier, score,
                CAST($CoDegCap AS BIGINT) AS deg_cap
         FROM (SELECT c1, cand, score,
                      row_number() OVER (PARTITION BY c1
                        ORDER BY score DESC, cand) AS rn
               FROM fresh)
         WHERE rn <= 3
         ORDER BY customer, rank""",

    "x_recs_holdout_eval" ->
      s"""WITH base AS MATERIALIZED (
           SELECT DISTINCT l.l_orderkey AS ok,
                  CAST(o.o_custkey AS BIGINT) AS c,
                  CAST(l.l_suppkey AS BIGINT) AS sp,
                  year(o.o_orderdate) < 1999 AS is_train
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         trainw AS MATERIALIZED (
           SELECT c, sp, COUNT(*) AS ow
           FROM base WHERE is_train GROUP BY 1, 2),
         train AS (SELECT c, sp FROM trainw),
         test AS MATERIALIZED (
           SELECT DISTINCT c, sp FROM base WHERE NOT is_train),
         traincap AS MATERIALIZED (
           SELECT c AS c2, sp FROM (
             SELECT c, sp, row_number() OVER (PARTITION BY sp
               ORDER BY ow DESC, c) AS rn
             FROM trainw)
           WHERE rn <= $CoDegCap),
         targets AS MATERIALIZED (
           SELECT c FROM (SELECT DISTINCT c FROM train)
           WHERE c < 200 AND c IN (SELECT DISTINCT c FROM test)),
         pairs AS MATERIALIZED (
           SELECT a.c AS c1, b.c2, COUNT(*) AS w
           FROM train a JOIN traincap b
             ON a.sp = b.sp AND a.c <> b.c2
           WHERE a.c IN (SELECT c FROM targets)
           GROUP BY 1, 2),
         scores AS MATERIALIZED (
           SELECT p.c1, e.sp AS cand, CAST(SUM(p.w) AS BIGINT) AS score
           FROM pairs p JOIN train e ON e.c = p.c2
           GROUP BY 1, 2),
         fresh AS (
           SELECT s.c1, s.cand, s.score
           FROM scores s
           LEFT JOIN train o ON o.c = s.c1 AND o.sp = s.cand
           WHERE o.c IS NULL),
         top3 AS (
           SELECT c1, cand FROM (
             SELECT c1, cand,
                    row_number() OVER (PARTITION BY c1
                      ORDER BY score DESC, cand) AS rn
             FROM fresh)
           WHERE rn <= 3),
         newsup AS MATERIALIZED (
           SELECT t.c AS c1, t.sp AS cand
           FROM test t
           LEFT JOIN train r ON r.c = t.c AND r.sp = t.sp
           WHERE r.c IS NULL AND t.c IN (SELECT c FROM targets)),
         hits AS (
           SELECT a.c1, COUNT(*) AS h
           FROM top3 a
           JOIN newsup n ON n.c1 = a.c1 AND n.cand = a.cand
           GROUP BY 1),
         agg AS (
           SELECT (SELECT COUNT(*) FROM targets) AS n_targets,
                  (SELECT COUNT(DISTINCT c1) FROM newsup) AS n_with_new,
                  (SELECT COUNT(*) FROM hits) AS n_hit_targets,
                  (SELECT CAST(COALESCE(SUM(h), 0) AS BIGINT) FROM hits)
                    AS n_hits)
         SELECT n_targets, n_with_new, n_hit_targets, n_hits,
                CASE WHEN n_with_new = 0 THEN 0.0
                     ELSE floor(CAST(n_hit_targets AS DOUBLE) / n_with_new
                          * 1e6 + 0.5) / 1e6
                END AS hit_rate,
                CAST($CoDegCap AS BIGINT) AS deg_cap
         FROM agg""",

    "x_degree_histogram" -> {
      val ladder = (62 to 1 by -1).map(b =>
        s"WHEN outdeg >= ${1L << b} THEN $b").mkString(" ")
      s"""WITH $graphSql
          SELECT CASE WHEN src >= $CustOff THEN 'customer'
                      ELSE 'supplier' END AS side,
                 CAST(CASE $ladder ELSE 0 END AS BIGINT) AS bucket,
                 COUNT(*) AS n_nodes,
                 MIN(outdeg) AS min_deg, MAX(outdeg) AS max_deg
          FROM deg GROUP BY 1, 2 ORDER BY side, bucket"""
    },

    "x_triangle_count" ->
      s"""WITH $coPurchaseSql,
         deg AS MATERIALIZED (
           SELECT n, COUNT(*) AS dg
           FROM (SELECT p1 AS n FROM e UNION ALL SELECT p2 FROM e)
           GROUP BY 1),
         oe AS MATERIALIZED (
           SELECT CASE WHEN d1.dg <= d2.dg THEN e.p1 ELSE e.p2 END AS u,
                  CASE WHEN d1.dg <= d2.dg THEN e.p2 ELSE e.p1 END AS v
           FROM e JOIN deg d1 ON d1.n = e.p1 JOIN deg d2 ON d2.n = e.p2),
         tri AS (
           SELECT COUNT(*) AS t
           FROM oe x JOIN oe y ON x.u = y.u AND x.v < y.v
           JOIN e ON e.p1 = x.v AND e.p2 = y.v),
         st AS (
           SELECT COUNT(*) AS n_nodes,
                  CAST(SUM((dg * (dg - 1)) // 2) AS BIGINT) AS n_wedges
           FROM deg),
         ne AS (SELECT COUNT(*) AS n_edges FROM e)
         SELECT n_nodes, n_edges, CAST(t AS BIGINT) AS n_triangles,
                n_wedges,
                CASE WHEN n_wedges = 0 THEN 0.0
                     ELSE floor(3.0 * t / n_wedges * 1e6 + 0.5) / 1e6
                END AS global_cc
         FROM st CROSS JOIN ne CROSS JOIN tri""",

    "x_kcore" -> {
      val rounds = (1 to KcoreRounds).map { i =>
        val prev = s"e${i - 1}"
        s"""k$i AS (
              SELECT n FROM (
                SELECT n, COUNT(*) AS dg FROM (
                  SELECT p1 AS n FROM $prev
                  UNION ALL SELECT p2 FROM $prev)
                GROUP BY 1)
              WHERE dg >= $KcoreK),
            e$i AS MATERIALIZED (
              SELECT p.p1, p.p2 FROM $prev p
              JOIN k$i a ON a.n = p.p1
              JOIN k$i b ON b.n = p.p2)"""
      }.mkString(",\n")
      s"""WITH $coPurchaseSql,
          e0 AS MATERIALIZED (SELECT p1, p2 FROM e),
          $rounds,
          nf AS (
            SELECT COUNT(DISTINCT n) AS n_nodes_full FROM (
              SELECT p1 AS n FROM e0 UNION ALL SELECT p2 FROM e0)),
          ef AS (SELECT COUNT(*) AS n_edges_full FROM e0),
          nc AS (
            SELECT COUNT(DISTINCT n) AS n_core_nodes FROM (
              SELECT p1 AS n FROM e$KcoreRounds
              UNION ALL SELECT p2 FROM e$KcoreRounds)),
          ec AS (SELECT COUNT(*) AS n_core_edges FROM e$KcoreRounds)
          SELECT CAST($KcoreK AS BIGINT) AS k, n_nodes_full, n_edges_full,
                 n_core_nodes, n_core_edges
          FROM nf CROSS JOIN ef CROSS JOIN nc CROSS JOIN ec"""
    },

    "x_clustering_coeff" ->
      s"""WITH $coPurchaseSql,
         deg AS MATERIALIZED (
           SELECT n, COUNT(*) AS dg
           FROM (SELECT p1 AS n FROM e UNION ALL SELECT p2 FROM e)
           GROUP BY 1),
         oe AS MATERIALIZED (
           SELECT CASE WHEN d1.dg <= d2.dg THEN e.p1 ELSE e.p2 END AS u,
                  CASE WHEN d1.dg <= d2.dg THEN e.p2 ELSE e.p1 END AS v
           FROM e JOIN deg d1 ON d1.n = e.p1 JOIN deg d2 ON d2.n = e.p2),
         tri AS MATERIALIZED (
           SELECT x.u AS c1, x.v AS c2, y.v AS c3
           FROM oe x JOIN oe y ON x.u = y.u AND x.v < y.v
           JOIN e ON e.p1 = x.v AND e.p2 = y.v),
         tpn AS (
           SELECT n, CAST(COUNT(*) AS BIGINT) AS tv
           FROM (SELECT c1 AS n FROM tri
                 UNION ALL SELECT c2 FROM tri
                 UNION ALL SELECT c3 FROM tri)
           GROUP BY 1),
         cc AS (
           SELECT d.n, d.dg, COALESCE(t.tv, 0) AS tv,
                  CAST(floor(2.0 * COALESCE(t.tv, 0)
                    / (d.dg * (d.dg - 1)) * 1e9 + 0.5) AS BIGINT) AS qcc,
                  least(d.dg, 10) AS bucket
           FROM deg d LEFT JOIN tpn t ON t.n = d.n
           WHERE d.dg >= 2)
         SELECT CAST(bucket AS BIGINT) AS degree_bucket,
                CAST(COUNT(*) AS BIGINT) AS n_nodes,
                CAST(SUM(tv) AS BIGINT) AS corner_triangles,
                floor(CAST(SUM(qcc) AS DOUBLE) / 1e9 / COUNT(*)
                  * 1e6 + 0.5) / 1e6 AS avg_local_cc
         FROM cc GROUP BY 1 ORDER BY 1""")
}
