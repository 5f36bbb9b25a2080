package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transitive near-dup consolidation (SURVEY §2.D): connected components
  * over the UNION of the dedup families' pair sets — the stage every
  * pairwise dedup run needs before it can drop rows consistently. A
  * pairwise policy ("lower doc_id of each pair wins") is ill-defined on
  * chains: A~B and B~C with A≁C can drop B twice or keep both B and C
  * depending on pair order. Components make the policy total: one
  * survivor (the minimum doc_id) per component, everything else drops.
  *
  * Algorithm: iterative min-label propagation with POINTER JUMPING over
  * the undirected pair graph — each sweep is one hash join (edge ⋈
  * label) plus one min aggregate plus a label→label-of-label self-join
  * (path halving, the trick behind the large-star/small-star family —
  * Kiveris et al., "Connected Components in MapReduce and Beyond"),
  * giving O(log diameter) convergence instead of O(diameter).
  *
  * Materialization discipline (the round-7 28 s → ~9 s fix): each
  * sweep's min-aggregate frame `m` AND its jumped output are
  * snapshotted — without a materialization boundary on `m`, the
  * pointer-jump self-join plus the snapshot job recomputed the whole
  * sweep chain 4-6×, and a `.cache()` boundary (tried first) pinned
  * the aggregate's full shuffle-partition fan-out because cached-plan
  * materialization skips AQE partition coalescing. A snapshot is a
  * `localCheckpoint` (one job, lineage truncated), released as soon as
  * it is superseded, so a bench loop never accumulates per-iteration
  * storage. Convergence is checked after EVERY sweep — the round-7
  * two-sweep batch paid one full extra sweep after the fixpoint.
  *
  * Scale notes (100 TB posture):
  *  - The graph is the PAIR set (∝ near-dup volume), not the corpus —
  *    labels/edges shuffle doc_id+label longs only, never text.
  *  - Near-dup components are shallow (dup clusters are cliques-ish),
  *    so iterations stay low single-digit; the pointer jump keeps even
  *    adversarial deep chains at O(log n) sweeps.
  *  - Convergence is detected distributively: labels are non-increasing
  *    per node, so an unchanged DECIMAL label sum (overflow-safe for
  *    arbitrary long ids) IS the fixpoint; the sum rides the snapshot
  *    job as a `Dataset.observe` metric, so convergence costs zero
  *    extra jobs per sweep, and nothing proportional to the corpus
  *    ever reaches the driver.
  */
object Components {

  /** Truncate a (small) frame's plan with a local checkpoint — the
    * plan-materialization boundary used before handing a frame to an
    * operator that references it several times or inside a loop. A
    * `.cache()` keeps the DATA but every downstream action still
    * re-analyzes/re-optimizes (and for multi-reference plans,
    * re-executes) the frame's whole logical subtree; the checkpoint
    * makes every consumer start from a leaf scan (measured on this
    * drive: the md5+window label build and the LSH∪SimHash
    * pair-generation each ran 3-5× per action without the boundary).
    * `parts = 1` is right for the batch/label frames this serves —
    * hundreds of rows; one partition means one task per downstream
    * scan. */
  private[graft] def snapshotFlat(df: DataFrame, parts: Int = 1): DataFrame =
    df.coalesce(parts).localCheckpoint(true)

  /** Unpersist a [[snapshotFlat]] frame's block-manager RDD now — a loop
    * must not leave superseded snapshots pinned until some later GC. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Min-label connected components over an undirected pair list.
    *
    * @param pairs columns (i, j) — one row per undirected edge
    * @return (doc_id, component) where component = min doc_id reachable
    */
  def connectedComponents(pairs: DataFrame, maxSweeps: Int = 25): DataFrame =
    connectedComponentsWithStats(pairs, maxSweeps)._1

  /** As [[connectedComponents]], also returning the number of sweeps the
    * loop ran before the label sum fixed — pinned by ComponentsSpec so a
    * materialization change can never silently alter the algorithm. */
  def connectedComponentsWithStats(pairs: DataFrame, maxSweeps: Int = 25)
      : (DataFrame, Int) = {
    val sc = pairs.sparkSession.sparkContext
    // label frames are tiny next to the shuffle partitioning that
    // produces them; narrow-coalesce before each snapshot
    val par = math.max(2, sc.defaultParallelism / 4)
    // Materialization (measured r22): `localCheckpoint` keeps each
    // sweep's frame in the block manager — the lineage truncation of a
    // parquet snapshot without its filesystem round trip, 12% faster
    // across the CC drives at sf0.1. Locally
    // checkpointed partitions die with their executor; re-running the
    // query is the recovery (the loop is minutes, not hours — sweeps
    // are O(log diameter)). Superseded frames unpersist their
    // block-manager RDD eagerly: ContextCleaner would only reclaim them
    // at some later GC, and a loop must not accumulate pinned storage.
    val live = scala.collection.mutable.Map.empty[String, DataFrame]
    def release(name: String): Unit = live.remove(name).foreach(releaseCheckpoint)
    def snapshot(df: DataFrame, name: String): DataFrame = {
      val out = snapshotFlat(df, par)
      live(name) = out
      out
    }
    // The convergence label-sum rides the snapshot job as an observed
    // metric instead of running as its own action — one job per sweep
    // instead of two (the top cost of this operator is per-sweep
    // scheduler constant, not data; measured round 8).
    def snapshotWithSum(df: DataFrame, name: String)
        : (DataFrame, java.math.BigDecimal) = {
      val obs = org.apache.spark.sql.Observation(s"graft-cc-$name")
      val out = snapshot(df.observe(obs,
        sum(col("label").cast("decimal(38,0)")).as("lsum")), name)
      val v = obs.get("lsum")
      val sumV =
        if (v == null) java.math.BigDecimal.ZERO // empty frame
        else v.asInstanceOf[java.math.BigDecimal]
      (out, sumV)
    }
    val p = pairs.select(col("i"), col("j")).distinct()
    // SNAPSHOTTED, not cached: the edge list is re-joined every sweep,
    // and each sweep's plan embeds the edge frame's WHOLE logical
    // subtree — for composed callers that subtree is the near-dup
    // pair-generation plan (the MinHash path inlines 12 md5 variants
    // into a huge expression tree), and the analyzer/optimizer re-walks
    // it on every job even though the DATA is cached. Measured on the
    // incremental-components drive: 4.3 s/sweep with a cache on a
    // 280-edge graph, 1.3 s/sweep against a flat parquet scan. The
    // snapshot pays one job and makes every sweep's plan start from a
    // leaf. The edge-count observation rides that job (r21):
    // the empty-graph short-circuit used to be its own `isEmpty` job.
    val edgesObs = org.apache.spark.sql.Observation("graft-cc-edges")
    val edges = snapshot(
      p.union(p.select(col("j").as("i"), col("i").as("j")))
        .toDF("src", "dst")
        .observe(edgesObs, count(lit(1)).as("n")),
      "edges")
    val nEdges = edgesObs.get("n").asInstanceOf[Long]
    locally {
      // sweep-0 labels = node ids; cached, not snapshotted — it is read
      // twice inside sweep 1's plan, and a cache serves those for one
      // distinct's cost without the extra job a snapshot would add
      var labels = edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
        .cache()
      // Convergence detection: labels are NON-INCREASING per node (the
      // min always includes the node's own current label, and a pointer
      // jump replaces a label with that label's own ≤ label), so the
      // label SUM strictly decreases until the fixpoint — one tiny
      // aggregate per sweep instead of a new-vs-old join+count. DECIMAL
      // sum: ids can be arbitrary longs at corpus scale; a long sum
      // could overflow. No sweep-0 sum job: on a NON-empty graph, sweep
      // 1 strictly decreases the sum (some edge's larger endpoint takes
      // its neighbor's smaller label), so convergence can never trigger
      // before the sweep-2 vs sweep-1 comparison — the first sum rides
      // sweep 1's snapshot like every later one.
      //
      // Convergence is checked on the PROP aggregate `m` (r21), one
      // half-sweep earlier than the post-jump frame it used to wait
      // for: m ≤ labels componentwise and sums are compared exactly, so
      // `sum(m) == sum(labels)` ⟺ `m == labels` ⟺ the propagation is at
      // its fixpoint ⟺ labels are constant per component (min included)
      // — and then the pointer jump is the IDENTITY, so skipping it
      // returns identical data while saving the final sweep's join +
      // snapshot. Sweep counts are unchanged (the old
      // post-jump detection fired at the same sweep index: labels ≥ m ≥
      // jumped forces m == labels whenever jumped == labels).
      var prevSum: Option[java.math.BigDecimal] = None
      var converged = nEdges == 0L // empty graph: zero sweeps
      var sweep = 0
      while (!converged && sweep < maxSweeps) {
        sweep += 1
        val prop = edges
          .join(labels.select(col("node").as("src"), col("label")), "src")
          .select(col("dst").as("node"), col("label"))
        // snapshotted, not cached: the pointer jump self-joins this
        // frame and would otherwise recompute it, and a .cache() here
        // pins the aggregate's full shuffle-partition fan-out (cached
        // plan materialization skips AQE partition coalescing) — the
        // checkpoint keeps every stage AQE-coalesced.
        // (Fusing m into the jump plan — one 4-stage job per sweep
        // instead of two small jobs — was measured 1.3-1.6 s/query
        // SLOWER at sf0.1 and rejected: the wide job's stage barriers
        // cost more than the second job's scheduling.)
        val (m, mSum) = snapshotWithSum(
          labels.union(prop)
            .groupBy(col("node")).agg(min(col("label")).as("label")),
          s"m_$sweep")
        // no-op after sweep 1 (checkpointed frames hold no cache);
        // releases the sweep-0 label cache once it is superseded
        labels.unpersist(blocking = false)
        if (prevSum.exists(_.compareTo(mSum) == 0)) {
          // prop fixpoint: m == labels and the jump is the identity —
          // m IS the final labeling; the superseded post-jump snapshot
          // of the previous sweep is garbage
          converged = true
          release(s"sweep_${sweep - 1}")
          labels = m
        } else {
          // label values are always live node ids, so the lookup is
          // total; left+coalesce only guards the empty frame
          val jumped = m.join(
              m.select(col("node").as("label"), col("label").as("plabel")),
              Seq("label"), "left")
            .select(col("node"),
              coalesce(col("plabel"), col("label")).as("label"))
          val (next, nextSum) = snapshotWithSum(jumped, s"sweep_$sweep")
          release(s"m_$sweep")
          release(s"sweep_${sweep - 1}")
          prevSum = Some(nextSum)
          labels = next
        }
      }
      require(converged,
        s"connectedComponents did not converge within $maxSweeps sweeps " +
          "(propagation + pointer jump each) — raise maxSweeps")
      // empty-graph path only: the loop never superseded the cached
      // sweep-0 frame (after any sweep, labels is checkpointed and this
      // is a no-op)
      labels.unpersist(blocking = false)
      // after ≥1 sweep the returned frame reads only its own snapshot —
      // the edge snapshot is garbage; on the empty-graph path (sweep 0)
      // the returned frame still derives from it, so it must survive
      // (ContextCleaner reclaims it once the frame is unreferenced)
      if (sweep > 0) release("edges")
      (labels.select(col("node").as("doc_id"), col("label").as("component")),
        sweep)
    }
  }

  /** Incremental connected components — the operator an always-ingesting
    * corpus actually runs: fold a NEW batch of near-dup pairs into a
    * persisted label table, re-sweeping ONLY the subgraph the batch
    * touches instead of recomputing the full historical pair graph.
    *
    * Affected region: every component containing an endpoint of a new
    * pair (a merge relabels ALL members of both sides, so whole
    * components re-sweep, not just endpoints). Each affected
    * component's internal connectivity is re-encoded as STAR EDGES
    * (member → current label): the label table IS the quotient
    * structure, so the historical pairs are never needed again.
    * [[connectedComponents]] then runs on star edges ∪ new pairs, and
    * untouched components pass through verbatim via an anti-join. The
    * result is IDENTICAL to a full recompute over (old ∪ new) pairs:
    * star edges preserve old reachability exactly, and min-labels
    * re-derive from member ids (the old label is itself a member, so
    * the merged minimum is the true minimum).
    *
    * Scale shape: cost ∝ touched components + new-batch pairs — never
    * the corpus and never the historical pair set. On a 100 TB corpus
    * with a daily near-dup batch this is the difference between
    * re-flooding a multi-billion-edge graph and re-sweeping the few
    * thousand components the batch actually touches.
    *
    * @param labels   persisted (doc_id, component) from a previous full
    *                 or incremental run
    * @param newPairs (i, j) undirected near-dup pairs of the new batch
    * @return updated (doc_id, component) covering old ∪ new nodes
    */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame): DataFrame = {
    val touched = newPairs.select(col("i").as("doc_id"))
      .union(newPairs.select(col("j").as("doc_id"))).distinct()
    val affectedComps = labels.join(touched, "doc_id")
      .select(col("component")).distinct()
    val affected = labels.join(affectedComps, Seq("component"))
    val starEdges = affected.filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("i"), col("component").as("j"))
    val relabeled = connectedComponents(
      starEdges.union(newPairs.select(col("i"), col("j"))))
    labels.join(affectedComps, Seq("component"), "left_anti")
      .select(col("doc_id"), col("component"))
      .unionByName(relabeled)
  }

  /** Registry drive of [[incrementalComponents]] — the real pipeline
    * cadence, in one query: "yesterday's" label table is the EXACT-dup
    * grouping over the whole corpus (one groupBy + one join, zero
    * sweeps — min doc_id per normalized-content fingerprint), and
    * "today's" batch is the MinHash-LSH ∪ SimHash near-dup pair set
    * folding in incrementally. Only the components those pairs touch
    * re-sweep; the rest of the corpus passes through. The oracle is a
    * FULL RECOMPUTE: DuckDB floods the complete equivalence graph
    * (exact-dup star edges ∪ near-dup pairs), so any drift in the
    * star-edge re-encoding or the affected-region computation breaks
    * the hash. */
  def dIncrementalComponents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fp = graft.sources.Tables.load(s, dir, "documents")
      .select($"doc_id", md5(TextAnalysis.normText($"text")).as("fp"))
    // min-over-window, not groupBy+self-join: one shuffle on fp and the
    // fp frame appears ONCE in the plan (the join form evaluates the
    // md5 scan twice per action).
    // SNAPSHOTTED before the fold: incrementalComponents references the
    // label table three times (touched join, affected join, anti-join)
    // and the final csize window reads it again — without the boundary
    // the md5 scan + window re-ran per reference per action. In
    // production the label table IS a flat lake scan (LabelStream), so
    // the snapshot makes the drive measure the production plan shape.
    val labels = snapshotFlat(
      fp.withColumn("component",
          min($"doc_id").over(org.apache.spark.sql.expressions.Window
            .partitionBy($"fp")))
        .select($"doc_id", $"component"))
    // same boundary for the batch: the LSH∪SimHash pair-generation plan
    // (12 md5 variants inlined) is referenced by the touched-node union
    // (twice) and the re-sweep edge build — one execution, three scans.
    val batch = snapshotFlat(
      Dedup.dMinhashLsh(s, dir).select($"i", $"j")
        .union(Dedup.dSimhashPairs(s, dir).select($"i", $"j")).distinct())
    val merged = incrementalComponents(labels, batch)
    // csize via a window, not groupBy+self-join: the join form evaluates
    // the merged plan (labels + pair-generation subtrees) TWICE per
    // action — measured ~2× on the final stage of this query. The
    // window shuffles once on component, same as the groupBy would.
    merged.withColumn("csize",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy($"component")).cast("bigint"))
      .select($"doc_id", $"component", $"csize")
      .orderBy($"component", $"doc_id")
  }

  /** DuckDB oracle: recursive label flood over the COMPLETE equivalence
    * graph (exact-dup stars ∪ near-dup pairs); isolated docs (singleton
    * fingerprint, untouched by any pair) keep themselves — the
    * incremental path must be indistinguishable from this recompute. */
  val dIncrementalComponentsSql: String =
    s"""WITH RECURSIVE
       fp AS (
         SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         FROM documents),
       exact_lab AS (
         SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS component
         FROM fp),
       mhp AS (SELECT i, j FROM (${Dedup.dMinhashLshSql}) mh_sub),
       shp AS (SELECT i, j FROM (${Dedup.dSimhashPairsSql}) sh_sub),
       star AS (SELECT doc_id AS i, component AS j FROM exact_lab
                WHERE doc_id <> component),
       alledges AS (SELECT i, j FROM mhp UNION SELECT i, j FROM shp
                    UNION SELECT i, j FROM star),
       edges AS (SELECT i AS src, j AS dst FROM alledges UNION
                 SELECT j, i FROM alledges),
       cc(node, label) AS (
         SELECT DISTINCT src, src FROM edges
         UNION
         SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src),
       flood AS (SELECT node, MIN(label) AS component FROM cc GROUP BY node),
       merged AS (
         SELECT e.doc_id, COALESCE(f.component, e.component) AS component
         FROM exact_lab e LEFT JOIN flood f ON e.doc_id = f.node),
       sizes AS (SELECT component, COUNT(*) AS csize FROM merged
                 GROUP BY component)
       SELECT m.doc_id, m.component, CAST(s.csize AS BIGINT) AS csize
       FROM merged m JOIN sizes s ON m.component = s.component
       ORDER BY m.component, m.doc_id"""

  /** Per-doc component membership over the union of the three pairwise
    * dedup families (MinHash-LSH ∪ SimHash-banded ∪ winnowing-overlap —
    * the same operators the registry checks standalone, composed rather
    * than re-implemented). Emits (doc_id, component, csize); the
    * component id doubles as the survivor policy (min doc_id wins). */
  def dDupComponents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mh = Dedup.dMinhashLsh(s, dir).select($"i", $"j")
    val sp = Dedup.dSimhashPairs(s, dir).select($"i", $"j")
    val wn = Dedup.dWinnowOverlap(s, dir).select($"i", $"j")
    val lab = connectedComponents(mh.union(sp).union(wn))
    val sizes = lab.groupBy($"component").agg(count(lit(1)).as("csize"))
    // sizes ∝ component count ≤ pair-node count: tiny, broadcastable by
    // size-based planning — no hint needed
    lab.join(sizes, "component")
      .select($"doc_id", $"component", $"csize".cast("bigint").as("csize"))
      .orderBy($"component", $"doc_id")
  }

  /** DuckDB oracle: the three pair queries verbatim as subqueries, then
    * a recursive label-flood — every node accumulates the labels of all
    * nodes that reach it; MIN per node = the component id. UNION (not
    * UNION ALL) recursion terminates at the (node × label) fixpoint. */
  val dDupComponentsSql: String =
    s"""WITH RECURSIVE
       mhp AS (SELECT i, j FROM (${Dedup.dMinhashLshSql}) mh_sub),
       shp AS (SELECT i, j FROM (${Dedup.dSimhashPairsSql}) sh_sub),
       wnp AS (SELECT i, j FROM (${Dedup.dWinnowOverlapSql}) wn_sub),
       prs AS (SELECT i, j FROM mhp UNION
               SELECT i, j FROM shp UNION
               SELECT i, j FROM wnp),
       edges AS (SELECT i AS src, j AS dst FROM prs UNION
                 SELECT j, i FROM prs),
       cc(node, label) AS (
         SELECT DISTINCT src, src FROM edges
         UNION
         SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src),
       lab AS (SELECT node, MIN(label) AS component FROM cc GROUP BY node),
       sizes AS (SELECT component, COUNT(*) AS csize FROM lab
                 GROUP BY component)
       SELECT l.node AS doc_id, l.component,
         CAST(s.csize AS BIGINT) AS csize
       FROM lab l JOIN sizes s ON l.component = s.component
       ORDER BY l.component, doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_dup_components" -> (dDupComponents _),
    "d_incremental_components" -> (dIncrementalComponents _))

  val oracle: Map[String, String] = Map(
    "d_dup_components" -> dDupComponentsSql,
    "d_incremental_components" -> dIncrementalComponentsSql)
}
