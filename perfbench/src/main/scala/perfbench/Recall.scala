package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.model._
import graft.operators._
import graft.sources.LakeLayout
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** The two recall workloads. Both serve `RecallOrchestrator.run` requests
  * from a closed loop of [[Sessions]] sessions against the IVF index the
  * corpus build produced, and both run the same writer schedule
  * (`upsertIntoLakeOcc` / `deleteFromLakeDvOcc` on the feed lake table, each
  * followed by `IvfIndex.syncFromLake`). The feed is a lake table of its
  * own, not one seeded with the corpus: `syncFromLake` ingests every
  * version it has not synced, so it would insert each built row again.
  * Before the window, both make the [[WarmOps]] commits, untimed, on a
  * lake table of their own that no index reads: they compile the
  * writer's commit paths before any request is timed, so the first commit
  * beside the readers does not carry the JIT's work, and they leave the
  * index the readers serve as built.
  *  - `recall_serve` serves alone, then makes the writer's first two steps
  *    (an upsert and a delete) alone;
  *  - `recall_ingest` makes the writer's steps on their fixed schedule
  *    while the sessions serve, so every run makes the same commits beside
  *    readers.
  */
object Recall {

  val CorpusDocs = 2000
  val PlantedDups = 40
  val Sessions = 2
  /** Raw-tier requests per run at least, so their median has ten samples
    * beyond it. */
  val MinRaw = 20
  /** PQ- and SQ8-tier requests per run at least, for their mean. */
  val MinCompressed = 8
  val FeedIdBase = 1000000L
  val FeedSeedRows = 100
  /** The writer's warm-up commits: an upsert and a delete. */
  val WarmOps = "ud"
  val WarmIdBase = 2000000L
  /** The writer's steps, one commit and its sync each. */
  val WriterOps = "udu"
  /** Seconds between the writer's due times in `recall_ingest`, longer than
    * a step takes beside the readers, so the schedule does not slip. */
  val WriterPeriod = 10.0
  val WriterBatch = 16

  val Flags = FeatureFlags(graphitiEnabled = true)
  val Status = ProviderStatus(Map(Providers.Mem0 -> Providers.Available,
    Providers.Supabase -> Providers.Available, Providers.Graphiti -> Providers.Available))

  /** Rows each request's memory source produced, keyed by request id. The
    * capture runs inside the Spark tasks, which share this JVM in local
    * mode; the gates recompute the envelope from these rows. */
  object Capture {
    val rows = new ConcurrentHashMap[String, ConcurrentLinkedQueue[MemorySearchResult]]()
    def add(rid: String, r: MemorySearchResult): Unit =
      rows.computeIfAbsent(rid, _ => new ConcurrentLinkedQueue[MemorySearchResult]()).add(r)
    def take(rid: String): Seq[MemorySearchResult] =
      Option(rows.remove(rid)).fold(Seq.empty[MemorySearchResult])(_.asScala.toSeq)
  }

  final case class Served(rid: String, req: Gen.Request, start: Long, end: Long,
      planMs: Long, routeUs: Double, rerankUs: Option[Double], classifyUs: Double,
      sourceIds: Seq[Long], hits: Int, ok: Boolean)

  final case class Committed(step: Int, op: String, scheduled: Long, commitStart: Long,
      commitEnd: Long, syncEnd: Long, attempts: Int, rewriteFrac: Double,
      bytesPerRow: Double, syncMs: Long, ok: Boolean)

  /** One lake commit of `c` on `table`, as writer batch `batch`: the OCC
    * attempts, the share of files rewritten and the bytes written per row. */
  def commit(ctx: Ctx, table: String, c: Gen.WriterCommit, batch: Long): (Int, Double, Double) = {
    val spark = ctx.spark
    import spark.implicits._
    if (c.rows.nonEmpty) {
      val r = LakeLayout.upsertIntoLakeOcc(spark, table,
        CorpusBuild.vectorsFrame(ctx, c.rows), "vec_id", "writer", batch)
      (r.attempts, r.filesRewritten.toDouble / (r.filesRewritten + r.filesCarried).max(1),
        r.bytesWritten.toDouble / c.rows.length)
    } else {
      LakeLayout.deleteFromLakeDvOcc(spark, table, c.deletes.toDF("vec_id"), "vec_id",
        "writer", batch)
      (1, 0.0, 0.0)
    }
  }

  /** Seeds `table` with `seedRows`, then makes `ops` on it one after
    * another. Gate: the table then holds exactly the live ids, each once. */
  def warmWriter(ctx: Ctx, table: String, seedRows: Seq[Gen.Doc],
      ops: Seq[Gen.WriterCommit]): Boolean = {
    val spark = ctx.spark
    ctx.op("warm:writer", "LakeLayout.warm") {
      LakeLayout.appendToLake(spark, table, CorpusBuild.vectorsFrame(ctx, seedRows), "seed", 0L,
        statsKey = Some("vec_id"))
      ops.zipWithIndex.foreach { case (c, j) => commit(ctx, table, c, j + 1L) }
    }
    val want = ops.foldLeft(seedRows.map(_.id).toSet)((l, c) => l ++ c.rows.map(_.id) -- c.deletes)
    val held = LakeLayout.readLake(spark, table).get.select("vec_id").collect().map(_.getLong(0))
    ctx.gate(held.length == held.toSet.size && held.toSet == want,
      s"writer warm-up: table holds ${held.length} rows of ${held.toSet.size} ids, " +
        s"expected ${want.size}; extra ${(held.toSet -- want).take(5)}, " +
        s"missing ${(want -- held.toSet).take(5)}")
  }

  /** The bench's memory source: mem0 serves from the raw tier, supabase
    * from SQ8 and graphiti from PQ; the request's probe and label filter
    * come from the calling session's current request. */
  final class Source(ctx: Ctx, idx: String,
      texts: org.apache.spark.broadcast.Broadcast[Map[Long, String]]) {
    private val current = new ThreadLocal[(String, Gen.Request)]
    private val planMs = new ConcurrentHashMap[String, java.lang.Long]()

    def set(rid: String, req: Gen.Request): Unit = current.set((rid, req))
    def plan(rid: String): Long = Option(planMs.remove(rid)).fold(0L)(_.longValue)

    def apply(provider: String, query: String): Dataset[MemorySearchResult] = {
      val spark = ctx.spark
      import spark.implicits._
      val (rid, req) = current.get()
      val t0 = System.currentTimeMillis()
      val ds = ctx.tracer.span("IvfIndex.probe_plan") {
        val where = req.labels.map(ls =>
          if (ls.isEmpty) lit(false) else col("label").isin(ls: _*))
        val hits = provider match {
          case Providers.Mem0 =>
            IvfIndex.probeTopK(spark, idx, req.probe, k = req.topK, where = where)
          case Providers.Supabase =>
            IvfIndex.probeTopKSq8(spark, idx, req.probe, k = req.topK, where = where)
          case _ =>
            IvfIndex.probeTopKAdc(spark, idx, req.probe, k = req.topK, where = where)
        }
        // content comes from the broadcast text table; each row is also
        // captured for the gates
        val text = texts
        hits.select($"vec_id", $"label",
          greatest(lit(0.0), least(lit(1.0), $"sim")).as("sim"))
          .as[(Long, Int, Double)]
          .map { case (id, label, sim) =>
            val r = MemorySearchResult(id.toString, text.value(id), provider, sim,
              Map("label" -> label.toString))
            Capture.add(rid, r)
            r
          }
      }
      planMs.put(rid, System.currentTimeMillis() - t0)
      ds
    }
  }

  private def micros[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1000.0)
  }

  /** Gate: the envelope's branch, action and ids equal what the standalone
    * router, rerank service and classifier give on the same source rows. */
  def expected(req: RetrievalRequest, rows: Seq[MemorySearchResult])
      : (ContextPacket, NextAction, String, Int, Double, Option[Double], Double) = {
    val (route, routeUs) = micros(RetrievalRouter.route(req, Status, Flags))
    val retrieved =
      if (req.query.trim.isEmpty) Seq.empty
      else rows.sortBy(r => (-r.confidence, r.id)).take(req.topK)
        .map(r => ContextCandidate(r.id, r.content, r.source, r.confidence, r.metadata))
    val reranks = !route.skipExternalRerank && retrieved.nonEmpty && Flags.externalRerankEnabled
    val (cands, rerankUs) = micros(
      if (reranks) new RerankService(enabled = true).rerank(req.query, retrieved, req.topK)._1
      else retrieved)
    val ((packet, action), classifyUs) = micros(BranchClassifier.determineBranch(
      cands, req.threshold, route.skipExternalRerank, route.provider))
    (packet, action, route.provider, retrieved.length, routeUs,
      if (reranks) Some(rerankUs) else None, classifyUs)
  }

  final case class Setup(built: CorpusBuild.Built, feed: String,
      texts: org.apache.spark.broadcast.Broadcast[Map[Long, String]],
      live: Map[Long, Gen.Doc], setupS: Double)

  /** The index build (the whole corpus build flow when `full`), the feed
    * table's seed commit and first sync, and the broadcast text map the
    * memory source reads content from. */
  def setup(ctx: Ctx, corpus: Gen.Corpus, seedRows: Seq[Gen.Doc],
      allDocs: Seq[Gen.Doc], full: Boolean): Setup = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val built = CorpusBuild.run(ctx, corpus, full)
    val feed = s"${built.indexPath}-feed"
    ctx.op("setup:feed", "LakeLayout.seed") {
      LakeLayout.appendToLake(spark, feed, CorpusBuild.vectorsFrame(ctx, seedRows),
        "seed", 0L, statsKey = Some("vec_id"))
      IvfIndex.syncFromLake(spark, feed, built.indexPath)
    }
    val texts = spark.sparkContext.broadcast(allDocs.map(d => d.id -> d.text).toMap)
    val setupS = (System.nanoTime() - t0) / 1e9
    ctx.log(f"setup took $setupS%.2f s")
    CorpusBuild.check(ctx, corpus, built, seedRows.map(_.id).toSet)
    val live = (corpus.docs.filter(d => built.survivors(d.id)) ++ seedRows).map(d => d.id -> d)
    Setup(built, feed, texts, live.toMap, setupS)
  }

  def run(ctx: Ctx, ingest: Boolean): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    // the traced run builds through the whole corpus flow, planted
    // duplicates and all; the timed runs build the index straight away
    val full = ctx.tracer.on
    val corpus = Gen.corpus(ctx.seed, CorpusDocs, if (full) PlantedDups else 0)
    val originals = corpus.docs.filterNot(d => corpus.planted(d.id))
    val (seedRows, steps) = Gen.writer(ctx.seed, originals, FeedIdBase, FeedSeedRows,
      WriterOps, WriterBatch)
    val (warmSeed, warmOps) = Gen.writer(ctx.seed + 1, originals, WarmIdBase, FeedSeedRows,
      WarmOps, WriterBatch)
    val allDocs = (corpus.docs ++ seedRows ++ steps.flatMap(_.rows))
      .groupBy(_.id).map(_._2.head).toSeq
    val su = setup(ctx, corpus, seedRows, allDocs, full)
    val idx = su.built.indexPath
    val source = new Source(ctx, idx, su.texts)
    val orch = new RecallOrchestrator(spark, source.apply, Flags, Status)
    val streams = (0 until Sessions).map(s =>
      Gen.requests(ctx.seed, s, originals, count = 4 * (MinRaw + MinCompressed)))

    val served = new ConcurrentLinkedQueue[Served]()
    val failures = new java.util.concurrent.atomic.AtomicLong
    def serve(session: Int, n: Int, req: Gen.Request, warm: Boolean): Unit = {
      val rid = s"${if (warm) "warm" else "req"}-$session-$n"
      val rr = RetrievalRequest(req.query, req.mode, req.topK, req.threshold,
        req.providerOverride)
      source.set(rid, req)
      try {
        val (resp, t0, t1) = ctx.op(rid, "RecallOrchestrator.run", rid)(orch.run(rr))
        val rows = Capture.take(rid)
        val (packet, action, provider, hits, rUs, kUs, cUs) = expected(rr, rows)
        val ok = ctx.gate(
          resp.contextPacket.summary.branch == packet.summary.branch &&
            resp.nextAction.action == action.action &&
            resp.contextPacket.candidates.map(_.id) == packet.candidates.map(_.id) &&
            resp.routingMetadata("selected_provider") == provider,
          s"$rid: envelope ${resp.contextPacket.summary.branch}/${resp.nextAction.action}" +
            s"/${resp.contextPacket.candidates.map(_.id)} != standalone " +
            s"${packet.summary.branch}/${action.action}/${packet.candidates.map(_.id)}")
        val plan = source.plan(rid)
        ctx.log(s"$rid ${req.tier} ${t1 - t0} ms")
        if (!warm) served.add(Served(rid, req, t0, t1, plan, rUs, kUs, cUs,
          rows.map(_.id.toLong), hits, ok))
      } catch {
        case e: Exception =>
          failures.incrementAndGet()
          ctx.gate(ok = false, s"$rid failed: $e")
      }
    }

    val commits = new ConcurrentLinkedQueue[Committed]()
    // the live rows after each sync, with the sync's interval, for recall
    var live = su.live
    val versions = new ConcurrentLinkedQueue[(Long, Long, Map[Long, Gen.Doc])]()
    versions.add((0L, 0L, live))
    def writerStep(i: Int, st: Gen.WriterCommit, scheduled: Long): Unit = {
      val sc = System.currentTimeMillis()
      val wid = s"w$i"
      try {
        val (stats, c0, c1) =
          ctx.op(wid, s"LakeLayout.${st.op}", wid)(commit(ctx, su.feed, st, i + 1L))
        val (_, s0, s1) = ctx.op(s"$wid:sync", "IvfIndex.sync", wid)(
          IvfIndex.syncFromLake(spark, su.feed, idx))
        live = live ++ st.rows.map(d => d.id -> d) -- st.deletes
        versions.add((s0, s1, live))
        // gate, after the sync returned: one probe over every id the step
        // touched serves each upserted id in exactly one row, the first at
        // its new embedding, and no deleted id
        val ok = ctx.op(s"$wid:gate", "writer.gate", wid) {
          val up = st.rows.map(_.id)
          val probe = st.rows.headOption.fold(Array.fill(Gen.Dim)(1.0))(_.emb.map(_.toDouble))
          val seen = IvfIndex.probeTopK(spark, idx, probe, k = 2 * (up.length + st.deletes.length),
            nprobe = Similarity.IvfCells, where = Some($"vec_id".isin(up ++ st.deletes: _*)))
            .collect().map(r => (r.getLong(0), r.getAs[Double]("sim"))).toSeq
          val ids = seen.map(_._1)
          ctx.gate(ids.sorted == up.sorted,
            s"$wid: upserted ids not each served once, or deleted ids served: " +
              s"missing ${up.diff(ids)}, extra ${ids.diff(up)}") &
            ctx.gate(up.headOption.forall(id => seen.exists(h => h._1 == id && h._2 >= 0.999)),
              s"$wid: upserted ${up.headOption} not served at its new embedding: $seen")
        }._1
        ctx.log(s"$wid ${st.op} ${c1 - c0} ms, sync ${s1 - s0} ms, late ${c0 - scheduled} ms")
        commits.add(Committed(i, st.op, scheduled, c0, c1, s1, stats._1, stats._2, stats._3,
          s1 - s0, ok))
      } catch {
        case e: Exception =>
          failures.incrementAndGet()
          ctx.gate(ok = false, s"$wid failed after ${System.currentTimeMillis() - sc} ms: $e")
      }
    }

    // the writer's warm-up, before any request
    warmWriter(ctx, s"$idx-warm", warmSeed, warmOps)

    // warm-up: one request per tier, all at once, outside every measurement
    val warmers = streams(0).filter(_.query.trim.nonEmpty).groupBy(_.tier).values
      .map(_.head).zipWithIndex.map { case (r, i) =>
        new Thread(() => serve(0, i, r, warm = true))
      }
    warmers.foreach(_.start())
    warmers.foreach(_.join())

    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(!ingest)
    val t0 = System.currentTimeMillis()
    val deadline = t0 + ctx.seconds * 1000L
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Sessions + 1)
    def spawn(body: => Unit): java.util.concurrent.Future[Unit] =
      pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = body })
    val readers = (0 until Sessions).map { s =>
      spawn {
        var n = 0
        val it = Iterator.continually(streams(s)).flatten
        while (System.currentTimeMillis() < deadline || !writerDone.get() ||
            served.asScala.count(_.req.tier == "raw") < MinRaw ||
            served.asScala.count(_.req.tier != "raw") < MinCompressed) {
          serve(s, n, it.next(), warm = false)
          n += 1
        }
      }
    }
    val writer = if (!ingest) None else Some(spawn {
      try steps.zipWithIndex.foreach { case (st, i) =>
        val at = t0 + (i * WriterPeriod * 1000).toLong
        val wait = at - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        writerStep(i, st, at)
      } finally writerDone.set(true)
    })
    readers.foreach(_.get())
    writer.foreach(_.get())
    val windowEnd = served.asScala.map(_.end).max
    ctx.log(s"window closed: ${served.size} requests in ${windowEnd - t0} ms")
    val done = served.asScala.toSeq
    Gen.Tiers.filter(t => done.exists(_.req.tier == t)).foreach { t =>
      ctx.log(f"tier $t: ${done.count(_.req.tier == t)} requests, mean " +
        f"${tierMean(done, Set(t))}%.0f ms, ${tierShare(done, t) * 100}%.0f %% of request time")
    }
    // recall_serve: the writer's first two steps (an upsert and a delete)
    // alone after the window, each due when the previous one returned, for
    // the writer's freshness without readers; two keep the run short
    val written = if (ingest) steps else steps.take(2)
    if (!ingest) written.zipWithIndex.foreach { case (st, i) =>
      writerStep(i, st, System.currentTimeMillis())
    }
    pool.shutdown()

    ctx.listener.quiesce()
    val reqs = served.asScala.toSeq
    val recall = recallAtK(reqs, versions.asScala.toSeq)
    val raw = reqs.filter(_.req.tier == "raw").map(r => (r.end - r.start).toDouble)
    val rawP50 = Stats.percentile(raw, 0.5).getOrElse(
      sys.error(s"only ${raw.length} raw-tier requests: too few for a p50"))
    val cs = commits.asScala.toSeq.sortBy(_.step)
    val windowS = (windowEnd - t0) / 1000.0
    val attempted = reqs.length + warmOps.length + written.length
    val failed = failures.get() + reqs.count(!_.ok) + cs.count(!_.ok)

    if (!ctx.tracer.on) Outcome(attempted, failed, Seq(
      ("setup_s", su.setupS, "s"),
      ("request_raw_p50_ms", rawP50, "ms"),
      ("request_compressed_mean_ms", tierMean(reqs, Set("pq", "sq8")), "ms"),
      ("request_qps", reqs.length / windowS, "1/s"),
      ("recall_at_k", recall, "frac"),
      ("freshness_mean_ms", cs.map(c => (c.syncEnd - c.scheduled).toDouble).sum / cs.length, "ms"),
      ("peak_rss_mb", Main.peakRssMb(), "MB")))
    else Outcome(attempted, failed,
      Layers.recall(ctx, reqs, cs, idx) ++ Layers.build(ctx, su.built) ++ Seq(
        ("trace.request_raw_p50_ms", rawP50, "ms"),
        ("trace.requests", reqs.length.toDouble, "count"),
        ("trace.commits", cs.length.toDouble, "count"),
        ("trace.setup_s", su.setupS, "s"),
        ("trace.request_coverage", Tracer.coverage(
          ctx.tracer.all.filter(_.request.startsWith("req-")), "RecallOrchestrator.run"), "frac"),
        ("trace.build_coverage", Tracer.coverage(ctx.tracer.all, "CorpusBuild.run"), "frac")))
  }

  /** Mean latency of the requests of `tiers`. */
  def tierMean(reqs: Seq[Served], tiers: Set[String]): Double = {
    val ms = reqs.filter(r => tiers(r.req.tier)).map(r => (r.end - r.start).toDouble)
    require(ms.nonEmpty, s"no ${tiers.mkString("/")} request served")
    ms.sum / ms.length
  }

  /** The share of all requests' wall time that requests of `tier` took. */
  def tierShare(reqs: Seq[Served], tier: String): Double =
    reqs.filter(_.req.tier == tier).map(r => (r.end - r.start).toDouble).sum /
      reqs.map(r => (r.end - r.start).toDouble).sum

  /** Mean recall@k of the served requests, k being each request's topK:
    * the share of the exact cosine top-k, over the rows live when the
    * request was served and under its label filter, that its memory source
    * returned. Computed after the window. Blank queries, impossible filters
    * and requests that overlap a sync (whose live set is ambiguous) are
    * left out. */
  def recallAtK(reqs: Seq[Served], versions: Seq[(Long, Long, Map[Long, Gen.Doc])]): Double = {
    val scored = reqs.filter(r => r.req.query.trim.nonEmpty && !r.req.labels.exists(_.isEmpty) &&
        !versions.exists { case (s0, s1, _) => s0 < r.end && s1 > r.start })
      .map { r =>
        val live = versions.filter(_._2 <= r.start).maxBy(_._2)._3
        val p = r.req.probe
        val exact = live.valuesIterator
          .filter(d => r.req.labels.forall(_.contains(d.label)))
          .map(d => (d.emb.indices.map(i => d.emb(i) * p(i)).sum, d.id)).toSeq
          .sortBy { case (sim, id) => (-sim, id) }.take(r.req.topK).map(_._2).toSet
        (r.sourceIds.toSet & exact).size.toDouble / exact.size
      }
    require(scored.nonEmpty, "no request qualified for recall")
    scored.sum / scored.length
  }
}
