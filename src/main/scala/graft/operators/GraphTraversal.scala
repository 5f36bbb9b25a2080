package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** P3: graph traversal (SURVEY §2.C — the Graphiti capability, feature-
  * flagged off by default in the reference; reference
  * `retrieval_router.py:67-68`, overlap table
  * `docs/architecture/retrieval-overlap-policy.md:82`).
  *
  * Implemented as iterative BFS via repeated hash joins over an edge
  * DataFrame — the Spark-native shape (each hop = one join + min-dist
  * aggregate; k hops = k shuffles, no driver-side frontier). The demo
  * graph is the customer↔supplier bipartite graph induced by
  * orders⋈lineitem on the driver testdata.
  */
object GraphTraversal {

  /** Generic BFS over a DIRECTED adjacency list (callers union both
    * directions for undirected graphs — avoids a redundant distinct when
    * the two directions can't collide, as in bipartite key spaces).
    * Returns (node, dist) for every node within maxHops of the seed set.
    * Frontier and visited sets stay distributed; per hop: one join, one
    * union, one min-aggregate.
    *
    * Iterative-state hygiene: the adjacency list and each hop's
    * frontier are snapshotted to tiny parquet files (the [[Components]]
    * pattern) — lineage is truncated to a disk scan, so a k-hop run
    * never builds a 2^k plan, each hop's plan starts from flat leaves
    * instead of re-optimizing the caller's edge-build subtree (the
    * cache-keeps-data-not-plan trap measured in Components at 4.3 vs
    * 1.3 s/sweep), nothing pins the BlockManager, and each hop costs
    * ONE job where eager `checkpoint()` ran a count job plus a write
    * job. On a cluster, point `sparkContext.setCheckpointDir` at
    * durable storage; a local temp dir is installed here only if the
    * caller never set one. */
  def bfs(
      edges: DataFrame, // columns: src, dst (directed adjacency)
      seeds: DataFrame, // column: node
      maxHops: Int): DataFrame = {
    val s = edges.sparkSession
    val sc = s.sparkContext
    val root = sc.getCheckpointDir.getOrElse {
      // a driver-local temp dir is only valid when executors share the
      // driver's filesystem — on a real cluster a silent local default
      // would write snapshot partitions to per-executor /tmp and fail
      // unreadably on the next stage, so refuse instead
      require(sc.master.startsWith("local"),
        "bfs needs sparkContext.setCheckpointDir pointing at shared storage " +
          "(HDFS/S3) on a non-local master")
      java.nio.file.Files.createTempDirectory("graft-bfs-ckpt").toString
    }
    val runDir = s"$root/bfs-${java.util.UUID.randomUUID().toString.take(12)}"
    val fs = new org.apache.hadoop.fs.Path(runDir)
      .getFileSystem(sc.hadoopConfiguration)
    // hop snapshots back the returned (lazy) frame, so they are
    // reclaimed at JVM exit; the adjacency snapshot is deleted eagerly
    fs.deleteOnExit(new org.apache.hadoop.fs.Path(runDir))
    // narrow-coalesce: frontiers are usually far smaller than the
    // shuffle partitioning that produced them, and a snapshot writes
    // one file per partition
    val par = math.max(2, sc.defaultParallelism / 4)
    def snapTo(df: DataFrame, name: String): DataFrame = {
      df.coalesce(par).write.mode("overwrite").parquet(s"$runDir/$name")
      s.read.parquet(s"$runDir/$name")
    }
    val adj = snapTo(edges, "adj")
    var reached = snapTo(seeds.select(col("node"), lit(0).as("dist")), "hop_0")
    var frontier = reached
    for (hop <- 1 to maxHops) {
      val staged = frontier.select(col("node")).as("f")
        .join(adj.as("u"), col("f.node") === col("u.src"))
        .select(col("u.dst").as("node"), lit(hop).as("dist"))
        .join(reached.select(col("node").as("seen")),
          col("node") === col("seen"), "left_anti")
        .distinct()
      val next = snapTo(staged, s"hop_$hop")
      // union of snapshotted hops — flat lineage end to end
      reached = reached.union(next)
      frontier = next
    }
    // the result unions hop snapshots only; the adjacency dir is garbage
    fs.delete(new org.apache.hadoop.fs.Path(s"$runDir/adj"), true)
    reached.groupBy(col("node")).agg(min(col("dist")).as("dist"))
  }

  /** 2-hop neighborhood of supplier #1 in the customer–supplier graph.
    * Node ids are disambiguated by sign-free namespacing: suppliers keep
    * their key, customers are offset by 1,000,000 (keys are < 10^6 at
    * every test sf). */
  val CustOffset = 1000000L

  def qGraph2Hop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // distinct directed pairs; both directions unioned here (bipartite
    // namespaces can't collide, so no second distinct needed)
    val pairs = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" + CustOffset).as("src"), $"l_suppkey".as("dst"))
      .distinct()
    val edges = pairs.union(
      pairs.select($"dst".as("src"), $"src".as("dst")))
    val seeds = s.range(1, 2).select($"id".as("node"))
    bfs(edges, seeds, maxHops = 2)
      .select($"node", $"dist".cast("bigint").as("dist"))
      .orderBy($"dist", $"node")
  }

  val qGraph2HopSql: String =
    s"""WITH edges AS (
         SELECT DISTINCT o_custkey + $CustOffset AS cust, l_suppkey AS supp
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       h1 AS (SELECT DISTINCT cust AS node FROM edges WHERE supp = 1),
       h2 AS (
         SELECT DISTINCT e.supp AS node FROM edges e
         JOIN h1 ON e.cust = h1.node
         WHERE e.supp <> 1)
       SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
       UNION ALL
       SELECT node, 1 FROM h1
       UNION ALL
       SELECT node, 2 FROM h2
       ORDER BY dist, node"""

  // ----------------------------------------------------- triangle count
  /** Minimum shared orders for a co-purchase edge — sparsifies the
    * supplier co-occurrence graph (unthresholded it approaches a
    * clique on this synthetic data). */
  val CoPurchaseMinShared = 5L

  /** Triangle census of the supplier CO-PURCHASE graph (suppliers are
    * adjacent when they appear in ≥ [[CoPurchaseMinShared]] common
    * orders): one row of integer-exact graph stats — nodes, edges,
    * wedges (the clustering-coefficient denominator, Σ d(d−1)/2) and
    * triangles.
    *
    * Algorithm: DEGREE-ORIENTED wedge closing (the compact-forward /
    * Cohen MapReduce scheme): orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher one — a total order, so
    * the orientation is acyclic — then count wedges at each vertex's
    * out-neighbors pairs and close them against the undirected edge
    * set. Every triangle is counted EXACTLY once, at its minimum
    * vertex. Scale shape: orientation bounds out-degree by O(√E), so
    * wedge volume is Σ out² ≤ E^1.5 — the self-join never sees a hub's
    * full neighborhood squared (id-ordering alone would square the
    * highest-degree hub; that is the difference between E^1.5 and
    * d_max² · n at 100 TB). Everything is an equi-join + count: no
    * driver state, no floats. */
  def pTriangleStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_suppkey".as("sp")).distinct()
    val e = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.sp") < col("b.sp"))
      .groupBy(col("a.sp").as("i"), col("b.sp").as("j"))
      .agg(count(lit(1)).as("w"))
      .filter($"w" >= CoPurchaseMinShared)
      .select($"i", $"j")
      .cache() // closes the wedges below AND feeds degrees/orientation
    val deg = e.select($"i".as("n")).union(e.select($"j".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val oriented = e
      .join(deg.select($"n".as("i"), $"d".as("di")), "i")
      .join(deg.select($"n".as("j"), $"d".as("dj")), "j")
      .select(
        when($"di" < $"dj" || ($"di" === $"dj" && $"i" < $"j"), $"i")
          .otherwise($"j").as("src"),
        when($"di" < $"dj" || ($"di" === $"dj" && $"i" < $"j"), $"j")
          .otherwise($"i").as("dst"))
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(least(col("x.dst"), col("y.dst")).as("i"),
        greatest(col("x.dst"), col("y.dst")).as("j"))
    val triangles = wedges.join(e, Seq("i", "j"), "left_semi")
    // `div`, not `/`: Column `/` is DOUBLE division, exact only below
    // 2^53 — wedge counts at 100 TB would silently lose integer
    // exactness (and the oracle, drifting identically, would not catch
    // it). Both sums are even by construction (handshake; d·(d−1) is a
    // product of consecutive integers), so truncation never drops mass.
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(d) div 2").as("n_edges"),
      expr("sum(d * (d - 1)) div 2").as("n_wedges"))
    val out = stats.crossJoin(triangles.agg(count(lit(1)).as("n_triangles")))
    // materialize the single stats row before releasing the edge cache —
    // otherwise repeated library calls accumulate pinned storage until an
    // external clearCache (the pageRank try/finally discipline)
    try {
      val r = out.head()
      s.createDataFrame(
        java.util.Arrays.asList(r),
        out.schema)
    } finally e.unpersist(blocking = false)
  }

  val pTriangleStatsSql: String =
    s"""WITH li AS (
         SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sp FROM lineitem),
       e AS (
         SELECT a.sp AS i, b.sp AS j
         FROM li a JOIN li b ON a.ok = b.ok AND a.sp < b.sp
         GROUP BY 1, 2 HAVING COUNT(*) >= $CoPurchaseMinShared),
       deg AS (
         SELECT n, COUNT(*) AS d FROM (
           SELECT i AS n FROM e UNION ALL SELECT j FROM e) GROUP BY n),
       oriented AS (
         SELECT
           CASE WHEN di.d < dj.d OR (di.d = dj.d AND e.i < e.j)
                THEN e.i ELSE e.j END AS src,
           CASE WHEN di.d < dj.d OR (di.d = dj.d AND e.i < e.j)
                THEN e.j ELSE e.i END AS dst
         FROM e JOIN deg di ON e.i = di.n JOIN deg dj ON e.j = dj.n),
       wedges AS (
         SELECT LEAST(x.dst, y.dst) AS i, GREATEST(x.dst, y.dst) AS j
         FROM oriented x JOIN oriented y
           ON x.src = y.src AND x.dst < y.dst),
       tri AS (
         SELECT COUNT(*) AS n_triangles
         FROM wedges w WHERE EXISTS (
           SELECT 1 FROM e WHERE e.i = w.i AND e.j = w.j))
       SELECT
         (SELECT COUNT(*) FROM deg) AS n_nodes,
         (SELECT CAST(SUM(d) // 2 AS BIGINT) FROM deg) AS n_edges,
         (SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) FROM deg) AS n_wedges,
         CAST(n_triangles AS BIGINT) AS n_triangles
       FROM tri"""

  // --------------------------------------------------------- pagerank
  /** Fixed iteration count: PageRank error decays by ×0.85 per sweep,
    * so 6 sweeps land within ~0.38⁽ᵉᶠᶠ⁾ of the fixpoint — ranking
    * order on these graphs is stable from sweep 4 (spec-pinned). */
  val PageRankIters = 6

  /** Fixed-point scale for PageRank: ranks live in [0, 1] scaled by
    * 10¹⁷, so the damping multiply (×17) peaks at 1.7×10¹⁸ — inside
    * Long — and truncation error is 10⁻¹⁷ per operation. */
  val PageRankScale = 100000000000000000L // 1e17

  /** PageRank with FIXED iteration count over a directed edge list —
    * deterministic by CONSTRUCTION, not by convergence luck: all
    * arithmetic is fixed-point Long at [[PageRankScale]]
    * (`contrib = rank div outdeg`; `rank' = 3·S div 20N + 17·inflow
    * div 20` — exactly 0.15/N + 0.85·inflow in scaled integers), so
    * shuffle order can never wiggle a rank the way double accumulation
    * does, decimal-division scale reduction never applies, and a
    * driver-side Long reference reproduces every rank BIT-EXACTLY
    * (pinned by spec). Integer sums of ranks that total ≤ S cannot
    * overflow.
    *
    * Execution shape — tuned against two measured traps:
    *  - the rank frame is referenced ONCE per iteration (the edge⋈rank
    *    contribution join; the update is pure aggregate algebra on
    *    top): a node-preserving second join doubled the lazy subtree
    *    per iteration, and the resulting 8-iteration plan measured
    *    ~2× slower even with snapshots. Bidirectional edge lists make
    *    the aggregate node-complete (every node has an inbound edge) —
    *    that is the caller contract for undirected graphs; a DIRECTED
    *    graph with inflow-less or dangling nodes needs a
    *    node-preserving variant;
    *  - the frame is SNAPSHOTTED (a local checkpoint) every few
    *    iterations (the [[Components]] pattern — one job, superseded
    *    snapshots released eagerly) so AQE never re-optimizes an
    *    unbounded tree.
    * The teleport term is a driver literal from ONE bounded count —
    * the only scalar that leaves the cluster.
    *
    * DECLARED SEMANTICS (not the textbook definition — the DuckDB
    * oracle pins exactly these choices, so do not read "PageRank" as
    * Brin–Page without checking them against your graph):
    *  - a node with NO inbound edges leaves the rank frame after the
    *    first sweep (`rank'` is built by grouping inflow over `dst`),
    *    taking its teleport mass with it — on a bidirectional edge
    *    list (the caller contract here) no such node exists;
    *  - DANGLING mass is not redistributed: a node with no outbound
    *    edges absorbs its rank rather than teleporting it back into
    *    the graph, so ranks on a directed graph with sinks sum below
    *    1. Callers needing textbook semantics on general directed
    *    graphs must add the dangling-mass term and a node-preserving
    *    outer join. */
  def pageRank(edges: DataFrame, iters: Int = PageRankIters): DataFrame = {
    val par = math.max(2, edges.sparkSession.sparkContext.defaultParallelism / 4)
    // the Components materialization (measured r22): a local checkpoint
    // truncates iteration lineage without a parquet round trip
    def snap(df: DataFrame) = Components.snapshotFlat(df, par)
    // SNAPSHOTTED, not cached (the Components lesson, measured there at
    // 4.3 vs 1.3 s/sweep): a cache holds the DATA but every iteration's
    // plan still embeds and re-optimizes the whole edge-build subtree
    // (for the co-purchase caller: a lineitem self-join + aggregate).
    // Two checkpointed leaves make each iteration's plan start from a
    // scan; both are released as soon as the loop no longer reads them.
    val e = snap(edges.select(col("src"), col("dst")))
    val eo = snap(
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src"))
    // src covers every node of a bidirectional edge list
    val n = e.select(col("src")).distinct().count()
    require(n > 0, "pageRank needs a non-empty graph")
    val teleport = (3L * PageRankScale) / (20L * n)
    var ranks: DataFrame = e.select(col("src").as("node")).distinct()
      .withColumn("rank_fp", lit(PageRankScale / n))
    var lastSnap: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val next = eo
        .join(ranks.select(col("node").as("src"), col("rank_fp")), "src")
        .select(col("dst").as("node"),
          expr("rank_fp div outdeg").as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("inflow"))
        .select(col("node"),
          expr(s"${teleport}L + (17 * inflow) div 20").as("rank_fp"))
      ranks =
        if (i % 3 != 0 && i != iters) next
        else {
          val out = snap(next)
          lastSnap.foreach(Components.releaseCheckpoint)
          lastSnap = Some(out)
          out
        }
    }
    if (iters >= 1) {
      // the final ranks frame reads only its own snapshot
      Components.releaseCheckpoint(e)
      Components.releaseCheckpoint(eo)
    }
    ranks
  }

  /** Top suppliers of the co-purchase graph by PageRank. Fully
    * oracle-checkable BECAUSE the arithmetic is fixed-point Long with a
    * FIXED iteration count: the "iterate 6 times" loop unrolls into 6
    * chained SQL CTEs ([[pPagerankTopSql]]) whose integer division
    * reproduces every rank bit-exactly — no convergence tolerance, no
    * float drift. (The driver-side Long reference spec on planted
    * graphs stays as the second, Spark-free witness.) */
  def pPagerankTop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_suppkey".as("sp")).distinct()
    val und = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.sp") < col("b.sp"))
      .groupBy(col("a.sp").as("i"), col("b.sp").as("j"))
      .agg(count(lit(1)).as("w"))
      .filter($"w" >= CoPurchaseMinShared)
      .select($"i", $"j")
    val edges = und.select($"i".as("src"), $"j".as("dst"))
      .union(und.select($"j".as("src"), $"i".as("dst")))
    pageRank(edges)
      .orderBy($"rank_fp".desc, $"node")
      .limit(20)
  }

  /** DuckDB oracle for [[pPagerankTop]]: the fixed-iteration loop
    * UNROLLED — r1..r6 are chained CTEs, each one edge⋈rank join +
    * grouped integer update `teleport + (17·Σ(rank div outdeg)) div 20`,
    * exactly the Spark plan's arithmetic. All operands are non-negative
    * Longs, so DuckDB `//` (floor) ≡ Spark `div` (truncate); the one
    * dialect trap is DuckDB's SUM(BIGINT) → HUGEINT, cast back before
    * the damping multiply so overflow semantics match Long (the sum is
    * ≤ the scale 10¹⁷, so the cast is lossless). Bidirectional edges
    * guarantee every node has inflow, making the aggregate-only update
    * node-complete — same caller contract as the Spark side. */
  val pPagerankTopSql: String = {
    val s = PageRankScale
    val iterCtes = (1 to PageRankIters).map { k =>
      s"""r$k AS (
         SELECT eo.dst AS node,
           (SELECT teleport FROM c)
             + (17 * CAST(SUM(p.rank_fp // eo.outdeg) AS BIGINT)) // 20
             AS rank_fp
         FROM eo JOIN r${k - 1} p ON eo.src = p.node
         GROUP BY eo.dst)"""
    }.mkString(",\n       ")
    s"""WITH li AS (
         SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sp FROM lineitem),
       und AS (
         SELECT a.sp AS i, b.sp AS j
         FROM li a JOIN li b ON a.ok = b.ok AND a.sp < b.sp
         GROUP BY 1, 2 HAVING COUNT(*) >= $CoPurchaseMinShared),
       edges AS (SELECT i AS src, j AS dst FROM und
                 UNION ALL SELECT j, i FROM und),
       outd AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       eo AS (SELECT e.src, e.dst, o.outdeg
              FROM edges e JOIN outd o ON e.src = o.src),
       nodes AS (SELECT DISTINCT src AS node FROM edges),
       c AS (SELECT CAST($s // COUNT(*) AS BIGINT) AS r_init,
                    CAST((3 * $s) // (20 * COUNT(*)) AS BIGINT) AS teleport
             FROM nodes),
       r0 AS (SELECT node, (SELECT r_init FROM c) AS rank_fp FROM nodes),
       $iterCtes
       SELECT node, rank_fp FROM r$PageRankIters
       ORDER BY rank_fp DESC, node LIMIT 20"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p3_graph_2hop" -> (qGraph2Hop _),
    "p_triangle_stats" -> (pTriangleStats _),
    "p_pagerank_top" -> (pPagerankTop _))

  val oracle: Map[String, String] = Map(
    "p3_graph_2hop" -> qGraph2HopSql,
    "p_triangle_stats" -> pTriangleStatsSql,
    "p_pagerank_top" -> pPagerankTopSql)
}
