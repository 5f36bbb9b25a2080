package graft

import graft.operators.{IvfIndex, Similarity}
import graft.sources.LakeLayout
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** What a probe re-reads between probes. The vectors-dir listing walks
  * `listStatus` and must return exactly the file set the recursive
  * `listFiles` definition returned; the driver-side memo of per-version
  * state (centroids, codebooks, tombstone events, label stats, and the
  * reads of the vectors and codes dirs) must never serve a state the
  * index no longer has, and must save a repeated probe of an unchanged
  * version its collect and schema-inference jobs. */
class IvfProbeStateSpec extends SparkSuite {
  import spark.implicits._

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def forgetVersionState(): Unit = IvfIndex.versionMemo.clear()

  private val probes: Seq[(Long, Array[Double])] =
    graft.sources.Tables.load(spark, sfDir, "embeddings")
      .orderBy($"vec_id").limit(2).collect().toSeq
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray))

  test("listVectorFiles returns the file set of the recursive listFiles definition") {
    val dir = tmp("graft-ivf-list")
    val fs = fsOf(dir)
    // fs.create on the local (checksummed) file system also writes a
    // `.<name>.crc` beside each file
    def touch(rel: String): Unit = fs.create(new Path(s"$dir/$rel")).close()
    Seq(
      "cell=0/part-00000-a.c000.snappy.parquet",
      "cell=0/lsync-1f-v3-part-00001-b.c000.snappy.parquet",
      "cell=1/part-00002-c.c000.snappy.parquet",
      "_SUCCESS",
      "cell=1/_SUCCESS",
      "_temporary/0/_temporary/attempt_202610170000_0001_m_000000_0/" +
        "cell=2/part-00000-d.c000.snappy.parquet",
      "_temporary/0/task_202610170000_0001_m_000001/cell=3/part-00001-e.parquet",
      ".hidden/part-00003-f.c000.snappy.parquet",
      "cell=4/.staging/part-00004-g.c000.snappy.parquet"
    ).foreach(touch)
    assert(fs.exists(new Path(s"$dir/cell=0/.part-00000-a.c000.snappy.parquet.crc")))

    // the definition before the listStatus walk: a recursive listFiles,
    // keeping files with no `_`/`.` name at or above them below the root
    def viaListFiles(vecDir: String): Set[String] = {
      val base = fs.makeQualified(new Path(vecDir))
      val it = fs.listFiles(base, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val st = it.next()
        var p = st.getPath
        var hidden = false
        while (p != null && p != base && !hidden) {
          hidden = p.getName.startsWith("_") || p.getName.startsWith(".")
          p = p.getParent
        }
        if (st.isFile && !hidden) b += st.getPath.toString
      }
      b.result()
    }

    val listed = IvfIndex.listVectorFiles(fs, dir)
    assert(listed == viaListFiles(dir))
    assert(listed.map(f => f.substring(dir.length + f.indexOf(dir) + 1)) == Set(
      "cell=0/part-00000-a.c000.snappy.parquet",
      "cell=0/lsync-1f-v3-part-00001-b.c000.snappy.parquet",
      "cell=1/part-00002-c.c000.snappy.parquet"))
    assert(IvfIndex.listVectorFiles(fs, s"$dir/absent").isEmpty)
  }

  /** Every tier's answer for each probe: raw, PQ and SQ8, single and
    * batch, and a label-filtered single PQ probe. Per probe the single
    * answers come in that order, then the three batch answers. */
  private def serve(idx: String): Seq[Seq[Row]] = {
    val batch = probes.toDF("probe_id", "embedding")
    def sorted(df: DataFrame) =
      df.orderBy($"probe_id", $"rank").collect().toSeq
    probes.flatMap { case (id, emb) =>
      Seq(
        IvfIndex.probeTopK(spark, idx, emb, k = 5, excludeId = Some(id)),
        IvfIndex.probeTopKAdc(spark, idx, emb, k = 5, excludeId = Some(id)),
        IvfIndex.probeTopKSq8(spark, idx, emb, k = 5, excludeId = Some(id)),
        IvfIndex.probeTopKAdc(spark, idx, emb, k = 5, excludeId = Some(id),
          where = Some($"label" === Similarity.FilterLabel)))
        .map(_.collect().toSeq)
    } ++ Seq(
      sorted(IvfIndex.probeTopKBatch(spark, idx, batch, k = 5,
        excludeSelf = true)),
      sorted(IvfIndex.probeTopKBatchAdc(spark, idx, batch, k = 5,
        excludeSelf = true)),
      sorted(IvfIndex.probeTopKSq8Batch(spark, idx, batch, k = 5,
        excludeSelf = true)))
  }

  test("after a rebuild, a PQ refresh, tombstone publishes and same-path re-creations every tier serves what a cold memo serves") {
    val idx = tmp("graft-ivf-memo")
    def corpus(lo: Long, hi: Long, shift: Long) =
      graft.sources.Tables.load(spark, sfDir, "embeddings")
        .filter($"vec_id" >= lo && $"vec_id" < hi)
        .select(($"vec_id" + shift).as("vec_id"), $"label", $"embedding")
    def sidecars(): Unit = {
      IvfIndex.buildPqSidecar(spark, idx)
      IvfIndex.buildSq8Sidecar(spark, idx)
    }
    // serve once so the memo holds the state before `mutate`, then
    // compare the memo-backed answers with a cold memo's
    def check(label: String)(mutate: => Unit): Seq[Seq[Row]] = {
      serve(idx)
      mutate
      val warm = serve(idx)
      forgetVersionState()
      val cold = serve(idx)
      assert(warm == cold, s"$label: memo-backed serving diverged from " +
        s"a cold memo\nwarm: $warm\ncold: $cold")
      warm
    }

    IvfIndex.build(spark, sfDir, idx)
    sidecars()
    val built = check("built")(())
    val rebuilt = check("rebuild") {
      IvfIndex.append(spark, idx, corpus(0L, 40L, 1000000L))
      IvfIndex.rebuild(spark, idx, cells = 8)
      sidecars()
    }
    assert(rebuilt != built, "the rebuild's twins must change serving")
    check("tail")(IvfIndex.append(spark, idx, corpus(40L, 80L, 2000000L)))
    // a synced wave of the probes' twins lands in their probed cells
    val lake = tmp("graft-ivf-memo-feed")
    val synced = check("synced wave") {
      LakeLayout.appendToLake(spark, lake, corpus(0L, 2L, 3000000L), "feed",
        1L, statsKey = Some("vec_id"))
      assert(IvfIndex.syncFromLake(spark, lake, idx) == 1L)
    }
    probes.indices.foreach { i =>
      assert(synced(4 * i).exists(_.getAs[Long]("vec_id") ==
        probes(i)._1 + 3000000L), s"probe $i: the synced twin is not served")
    }
    val refreshed = check("PQ refresh")(IvfIndex.buildPqSidecar(spark, idx))
    // the served codes dir re-written at its path without the ids the
    // PQ tier served for the first probe (all coded: the refresh
    // absorbed the tail)
    val dropped = refreshed(1).map(_.getAs[Long]("vec_id"))
    val rewritten = check("PQ codes dir re-written at its path") {
      val root = IvfIndex.layoutRoot(spark, idx)
      val fs = fsOf(root)
      val codes = fs.listStatus(new Path(root)).map(_.getPath)
        .filter(_.getName.startsWith("pqcodes-"))
        .maxBy(_.getName.stripPrefix("pqcodes-").toLong)
      val copy = new Path(tmp("graft-ivf-memo-codes"), "codes")
      spark.read.parquet(codes.toString)
        .filter(!$"vec_id".isin(dropped: _*))
        .write.partitionBy("cell").parquet(copy.toString)
      fs.delete(codes, true)
      assert(fs.rename(copy, codes))
    }
    assert(dropped.nonEmpty && rewritten(1).nonEmpty &&
      !rewritten(1).exists(r => dropped.contains(r.getAs[Long]("vec_id"))),
      s"PQ still serves ids its re-written codes dir no longer holds: " +
        s"${rewritten(1)}")
    val twins = probes.map(_._1 + 1000000L)
    val hidden = check("tombstone publish")(
      IvfIndex.tombstoneIds(spark, idx, twins.take(1).toDF("vec_id")))
    assert(!hidden.flatten.exists(_.getAs[Long]("vec_id") == twins.head))
    check("second tombstone publish")(
      IvfIndex.tombstoneIds(spark, idx, twins.drop(1).toDF("vec_id")))
    // the served version (tombs-1, both twins) re-created at its path
    // with other events (the first twin and an absent id)
    val root = IvfIndex.layoutRoot(spark, idx)
    val fs = fsOf(root)
    val recreated = check("tombstone dir re-created at the same path") {
      fs.delete(new Path(s"$root/_tomb/1"), false)
      fs.delete(new Path(s"$root/tombs-1"), true)
      IvfIndex.tombstoneIds(spark, idx, Seq(-1L).toDF("vec_id"))
    }
    assert(fs.exists(new Path(s"$root/tombs-1")))
    assert(recreated.flatten.exists(_.getAs[Long]("vec_id") == twins(1)),
      "the re-created tombstone set no longer hides the second twin")
    // one slot per kind for the index, whatever it served before
    import scala.jdk.CollectionConverters._
    assert(IvfIndex.versionMemo.keySet.asScala.filter(_._1 == idx) ==
      Set("centroids", "pqbooks", "tombs", "lstats", "vectors", "pqcodes",
        "sq8codes").map(idx -> _))
    check("index re-created at the same path") {
      fs.delete(new Path(idx), true)
      IvfIndex.build(spark, sfDir, idx, cells = 12)
      sidecars()
    }
  }

  test("a takedown frame whose vec_id is an Int, with a null id, is served around on every tier") {
    val idx = tmp("graft-ivf-int-tomb")
    IvfIndex.build(spark, sfDir, idx)
    IvfIndex.buildPqSidecar(spark, idx)
    IvfIndex.buildSq8Sidecar(spark, idx)
    val before = serve(idx)
    val top = before.head.head.getAs[Long]("vec_id")
    require(top.isValidInt)
    IvfIndex.tombstoneIds(spark, idx,
      Seq(Some(top.toInt), None).toDF("vec_id"))
    val after = serve(idx)
    assert(after.size == before.size && after.forall(_.nonEmpty))
    assert(!after.flatten.exists(_.getAs[Long]("vec_id") == top),
      s"taken-down id $top still served")
  }

  test("a second probe of an unchanged version runs fewer Spark jobs than the first") {
    val idx = tmp("graft-ivf-jobs")
    IvfIndex.build(spark, sfDir, idx)
    IvfIndex.buildPqSidecar(spark, idx)
    IvfIndex.buildSq8Sidecar(spark, idx)
    IvfIndex.tombstoneIds(spark, idx, Seq(probes.head._1 + 1).toDF("vec_id"))
    val jobs = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(g =>
          jobs.computeIfAbsent(g,
            _ => new java.util.concurrent.atomic.AtomicInteger)
            .incrementAndGet())
    }
    spark.sparkContext.addSparkListener(listener)
    val sc = spark.sparkContext
    // the listener bus delivers in order: once a sentinel job's start
    // has been seen, every earlier job's start has been too
    def jobsOf(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (!jobs.containsKey(s"$group-sentinel") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(jobs.containsKey(s"$group-sentinel"), "listener bus stalled")
      Option(jobs.get(group)).fold(0)(_.get)
    }
    val (id, emb) = probes.head
    val byLabel = Some($"label" === Similarity.FilterLabel)
    try {
      val counts = Seq[(String, () => DataFrame)](
        "raw" -> (() => IvfIndex.probeTopK(spark, idx, emb, excludeId = Some(id))),
        "pq" -> (() => IvfIndex.probeTopKAdc(spark, idx, emb, excludeId = Some(id))),
        "sq8" -> (() => IvfIndex.probeTopKSq8(spark, idx, emb, excludeId = Some(id))),
        "pq-filtered" -> (() => IvfIndex.probeTopKAdc(spark, idx, emb,
          excludeId = Some(id), where = byLabel))
      ).map { case (tier, probe) =>
        forgetVersionState()
        val first = jobsOf(s"$tier-1")(probe().collect())
        val second = jobsOf(s"$tier-2")(probe().collect())
        tier -> (first, second)
      }.toMap
      // a warm probe runs its plan: the scan (raw), or the collected
      // shortlist and the re-rank (PQ, SQ8, and a filtered PQ probe,
      // whose survivor rate the memoized label stats give without a
      // job), plus the tombstone broadcast. A cold probe also collects
      // the centroids (a schema job and a collect job) and the
      // tombstone events (the same two) and infers the schema of each
      // dir it scans; a cold PQ probe collects the codebooks (two
      // more), and a cold filtered one the label stats (two more).
      assert(counts == Map("raw" -> (7, 2), "pq" -> (11, 3), "sq8" -> (9, 3),
        "pq-filtered" -> (13, 3)), s"jobs per (first, second) probe: $counts")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
