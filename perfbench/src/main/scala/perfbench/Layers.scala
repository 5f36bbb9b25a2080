package perfbench

import graft.operators.{IvfIndex, Similarity}

/** Per-layer metrics of a traced run, from the job-group listener, the
  * spans and the engine's own descriptors. */
object Layers {

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Adds each group's Spark jobs and SQL executions as spans under the
    * innermost of `spans` (outermost first) whose interval holds them, so
    * self times exclude Spark work. */
  private def attach(ctx: Ctx, group: String, spans: Seq[Span]): Unit = {
    val g = ctx.listener.group(group)
    def add(name: String)(iv: (Long, Long)): Unit = {
      val p = spans.reverse.find(sp => sp.start <= iv._1 && iv._2 <= sp.end)
        .getOrElse(spans.head)
      ctx.tracer.add(name, iv._1, iv._2, p.id, p.request)
    }
    g.jobIntervals.foreach(add("spark.job"))
    g.sqlIntervals.foreach(add("spark.sql"))
  }

  def recall(ctx: Ctx, reqs: Seq[Recall.Served], cs: Seq[Recall.Committed],
      idx: String): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    val byReq = ctx.tracer.all.groupBy(_.request)
    def named(rid: String, name: String) = byReq.getOrElse(rid, Nil).filter(_.name == name)
    reqs.foreach(r => attach(ctx, r.rid,
      named(r.rid, "RecallOrchestrator.run") ++ named(r.rid, "IvfIndex.probe_plan")))
    val all = ctx.tracer.all
    val self = Tracer.selfTimes(all)
    def selfMs(name: String) = Stats.median(all.filter(s => s.name == name &&
      s.request.startsWith("req-")).map(s => self(s.id).toDouble))
    val groups = reqs.map(r => ctx.listener.group(r.rid))
    val n = reqs.length.toDouble
    val gaps = reqs.zip(groups).map { case (r, g) =>
      Stats.driverGap(r.start, r.end, g.jobIntervals).toDouble
    }
    val ups = cs.filter(_.op == "upsert")
    val dels = cs.filter(_.op == "delete")
    val files = IvfIndex.probeTopK(spark, idx, Array.fill(Gen.Dim)(1.0),
      nprobe = Similarity.IvfCells).inputFiles.count(_.contains("/vectors/"))
    val tail = IvfIndex.describeIvf(spark, idx).select("pq_tail_frac").head().getDouble(0)
    Seq(
      ("IvfIndex.probe_plan_ms", Stats.median(reqs.map(_.planMs.toDouble)), "ms"),
      ("spark.driver_gap_ms_per_request", mean(gaps), "ms"),
      ("IvfIndex.probe_plan.self_ms", selfMs("IvfIndex.probe_plan"), "ms"),
      ("RecallOrchestrator.run.self_ms", selfMs("RecallOrchestrator.run"), "ms"),
      ("spark.jobs_per_request", groups.map(_.jobIntervals.length).sum / n, "count"),
      ("MemorySearch.search_ms", Stats.median(reqs.zip(groups).map { case (r, g) =>
        val clip = (g.jobIntervals ++ g.sqlIntervals).map { case (s, e) =>
          (s max r.start, e min r.end)
        }
        Stats.unionOutside(clip,
          named(r.rid, "IvfIndex.probe_plan").map(p => (p.start, p.end))).toDouble
      }), "ms"),
      ("spark.tasks_per_request", groups.map(_.tasks.get).sum / n, "count"),
      ("spark.task_ms_per_request", groups.map(_.taskMs.get).sum / n, "ms"),
      ("IvfIndex.rows_read_per_hit",
        groups.map(_.rowsRead.get).sum.toDouble / (reqs.map(_.hits).sum max 1), "rows"),
      ("IvfIndex.bytes_read_per_request", groups.map(_.bytesRead.get).sum / n, "B"),
      ("RetrievalRouter.route_us", Stats.median(reqs.map(_.routeUs)), "us"),
      ("Rerank.rerank_us", Stats.median(reqs.flatMap(_.rerankUs)), "us"),
      ("BranchClassifier.classify_us", Stats.median(reqs.map(_.classifyUs)), "us"),
      ("IvfIndex.vector_files_end", files.toDouble, "count"),
      ("IvfIndex.pq_tail_frac_end", tail, "frac"),
      ("LakeLayout.upsert_ms", mean(ups.map(c => (c.commitEnd - c.commitStart).toDouble)), "ms"),
      ("LakeLayout.delete_ms", mean(dels.map(c => (c.commitEnd - c.commitStart).toDouble)), "ms"),
      ("LakeLayout.occ_attempts_per_commit", mean(cs.map(_.attempts.toDouble)), "count"),
      ("LakeLayout.rewrite_frac", mean(ups.map(_.rewriteFrac)), "frac"),
      ("LakeLayout.bytes_written_per_row", mean(ups.map(_.bytesPerRow)), "B"),
      ("IvfIndex.sync_ms", mean(cs.map(_.syncMs.toDouble)), "ms"),
      ("writer.late_ms", mean(cs.map(c => (c.commitStart - c.scheduled).toDouble)), "ms")) ++
      Gen.Tiers.flatMap(t => Seq((s"tier.$t.time_share", Recall.tierShare(reqs, t), "frac"),
        (s"tier.$t.mean_ms", Recall.tierMean(reqs, Set(t)), "ms")))
  }

  /** `<stage>_s`, `<stage>.task_s` and `<stage>.driver_gap_s` for each
    * stage of the corpus build that served, plus its shuffle and spill. */
  def build(ctx: Ctx, b: CorpusBuild.Built): Seq[(String, Double, String)] = {
    val spans = ctx.tracer.all.filter(_.request == "build").map(s => s.name -> s).toMap
    val per = b.stageMs.flatMap { case (name, t0, t1) =>
      val g = ctx.listener.group(CorpusBuild.group(name))
      spans.get(name).foreach(sp => attach(ctx, CorpusBuild.group(name), Seq(sp)))
      Seq((s"${name}_s", (t1 - t0) / 1000.0, "s"),
        (s"$name.task_s", g.taskMs.get / 1000.0, "s"),
        (s"$name.driver_gap_s", Stats.driverGap(t0, t1, g.jobIntervals) / 1000.0, "s"))
    }
    val gs = b.stageMs.map { case (name, _, _) => ctx.listener.group(CorpusBuild.group(name)) }
    per ++ Seq(
      ("build.shuffle_write_bytes", gs.map(_.shuffleWrite.get).sum.toDouble, "B"),
      ("build.spill_bytes", gs.map(_.spill.get).sum.toDouble, "B"))
  }
}
