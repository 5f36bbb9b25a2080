package graft

import graft.operators.Components
import org.apache.spark.sql.functions._

/** Transitive near-dup clustering: min-label connected components over
  * planted pair graphs plus the composed registry query. */
class ComponentsSpec extends SparkSuite {

  import spark.implicits._

  test("planted A~B~C chain lands in ONE component with ONE survivor") {
    // A~B, B~C but A≁C — exactly the case a pairwise keep-lowest policy
    // mishandles; a second disjoint pair proves components don't bleed
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("i", "j")
    val (lab, sweeps) = Components.connectedComponentsWithStats(pairs)
    val got = lab.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component"))
      .toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val survivors = got.groupBy(_._2).map { case (c, m) => c -> m.keys.min }
    assert(survivors == Map(1L -> 1L, 10L -> 10L),
      "survivor of each component is its min doc_id")
    // one propagating sweep + one fixpoint-confirming sweep — pinned so
    // a materialization change (caching, snapshot format) can never
    // silently alter the algorithm
    assert(sweeps == 2, s"chain graph should converge in 2 sweeps, ran $sweeps")
  }

  test("deep path graph needs multiple sweeps and still converges") {
    // path 1-2-3-…-9: diameter 8, so single-sweep propagation is wrong
    // and the loop must iterate; min label must still flood to the end
    val pairs = (1L until 9L).map(k => (k, k + 1)).toDF("i", "j")
    val (lab, sweeps) = Components.connectedComponentsWithStats(pairs)
    val got = lab.collect()
    assert(got.length == 9)
    assert(got.forall(_.getAs[Long]("component") == 1L))
    // pointer jumping covers diameter 8 in 3 propagating sweeps (vs 8
    // without the jump) + 1 confirming sweep
    assert(sweeps == 4, s"diameter-8 path should converge in 4 sweeps, ran $sweeps")
  }

  test("empty pair set yields empty components without looping forever") {
    val pairs = Seq.empty[(Long, Long)].toDF("i", "j")
    assert(Components.connectedComponents(pairs).count() == 0L)
  }

  test("d_dup_components covers every pair endpoint consistently") {
    val df = Components.dDupComponents(spark, sfDir).cache()
    val byDoc = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("component"), r.getAs[Long]("csize")))
      .toMap
    // every doc in any family's pair list appears, and both endpoints of
    // every pair share a component (the defining property of the closure)
    val fams = Seq(
      graft.operators.Dedup.dMinhashLsh(spark, sfDir),
      graft.operators.Dedup.dSimhashPairs(spark, sfDir),
      graft.operators.Dedup.dWinnowOverlap(spark, sfDir))
    val pairRows = fams.flatMap(_.select(col("i"), col("j")).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))))
    assert(pairRows.nonEmpty, "families must surface pairs at this sf")
    pairRows.foreach { case (i, j) =>
      assert(byDoc.contains(i) && byDoc.contains(j))
      assert(byDoc(i)._1 == byDoc(j)._1,
        s"pair ($i,$j) split across components")
    }
    // component id is a member (the survivor) and csize counts members
    val sizes = df.groupBy(col("component")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("component") -> r.getAs[Long]("n"))
      .toMap
    byDoc.foreach { case (_, (comp, csize)) =>
      assert(byDoc.contains(comp), s"component id $comp is not a member")
      assert(byDoc(comp)._1 == comp, "survivor labels itself")
      assert(sizes(comp) == csize)
    }
    df.unpersist(blocking = false)
  }

  test("incremental merge equals full recompute across merge/extend/new/no-op cases") {
    // historical graph: {1,2}+{3,4} and {10,11,12} and singleton-free 20s
    val initial = Seq((1L, 2L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("i", "j")
    val labels = Components.connectedComponents(initial)
    // batch exercises every case at once:
    //  (2,3)   merges two existing components        → all of 1..4 label 1
    //  (12,13) extends an existing component         → 13 joins label 10
    //  (20,21) creates a brand-new component         → label 20
    //  (10,11) duplicates a known pair               → no-op
    val batch = Seq((2L, 3L), (12L, 13L), (20L, 21L), (10L, 11L))
      .toDF("i", "j")
    val got = Components.incrementalComponents(labels, batch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    val full = Components.connectedComponents(
        initial.unionByName(batch)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(got == full, "incremental must be indistinguishable from recompute")
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("incremental merge with an empty batch returns the labels verbatim") {
    val initial = Seq((1L, 2L), (3L, 4L)).toDF("i", "j")
    val labels = Components.connectedComponents(initial)
    val empty = Seq.empty[(Long, Long)].toDF("i", "j")
    val got = Components.incrementalComponents(labels, empty).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("incremental merge re-sweeps only the touched subgraph") {
    // the scale claim, pinned: with K untouched components and one
    // touched, the relabel input must contain only the touched
    // component's star edges + the batch — measured here via the sweep
    // input's row count by reproducing the operator's internal split
    val initial = ((1L to 40L).grouped(2).map(g => (g.head, g.last)) ++
      Seq((100L, 101L), (101L, 102L))).toSeq.toDF("i", "j")
    val labels = Components.connectedComponents(initial).cache()
    val batch = Seq((102L, 103L)).toDF("i", "j")
    val touched = batch.select(col("i").as("doc_id"))
      .union(batch.select(col("j").as("doc_id"))).distinct()
    val affectedComps = labels.join(touched, "doc_id")
      .select(col("component")).distinct().collect().map(_.getLong(0)).toSet
    assert(affectedComps == Set(100L),
      "only the touched component may enter the re-sweep")
    val got = Components.incrementalComponents(labels, batch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(got(103L) == 100L && got(1L) == 1L && got(39L) == 39L)
    assert(got.size == 44)
    labels.unpersist(blocking = false)
  }

  test("property: incremental merge equals full recompute on random graph splits") {
    // the star-edge re-encoding claim, hammered: random pair sets over a
    // small id space (dense enough to force chains, merges, and
    // singletons), randomly split into historical/batch — the incremental
    // fold must be indistinguishable from recomputing the closure
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val nPairs = 6 + rnd.nextInt(10)
      val pairs = Seq.fill(nPairs) {
        val i = 1L + rnd.nextInt(14)
        val j = 1L + rnd.nextInt(14)
        if (i <= j) (i, j + 1L) else (j, i) // i < j, no self-loops
      }.distinct
      val (initial, batch) = pairs.partition(_ => rnd.nextBoolean())
      // both halves may be empty — the operator must handle each
      val initialDf = initial.toDF("i", "j")
      val batchDf = batch.toDF("i", "j")
      val got = Components.incrementalComponents(
          Components.connectedComponents(initialDf), batchDf)
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
      val want = Components.connectedComponents(
          initialDf.unionByName(batchDf))
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
      assert(got == want,
        s"trial $trial: initial=$initial batch=$batch got=$got want=$want")
    }
  }

  test("components leave no superseded blocks behind (localckpt default)") {
    // scoped to the CC core: the composed dDupComponents keeps its pair
    // generators' load-bearing caches alive inside the returned lazy
    // plan, which is their documented contract. With the r22 default
    // localCheckpoint materialization, the only block-manager residue
    // allowed after a run is the RETURNED frame's own checkpoint —
    // every superseded sweep's RDD must be unpersisted eagerly, not
    // left for some later GC.
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = (1L until 9L).map(k => (k, k + 1)).toDF("i", "j")
    val (lab, sweeps) = Components.connectedComponentsWithStats(pairs)
    lab.collect()
    assert(sweeps > 1, "needs a multi-sweep run to observe the release")
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leftover.size <= 1,
      s"only the returned frame's checkpoint may survive, found " +
        s"${leftover.size} persistent RDDs")
  }
}
