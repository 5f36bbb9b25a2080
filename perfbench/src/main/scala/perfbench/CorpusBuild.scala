package perfbench

import graft.operators.{Components, Dedup, IvfIndex}
import graft.sources.LakeLayout
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The corpus build flow the recall workloads serve from: lake ingest of
  * the raw corpus, the near-dedup `PipelineCli` composes (winnowing
  * overlap, then connected components; the smallest id of a component
  * survives), then the IVF index with its PQ and SQ8 sidecars over the
  * survivors. Every stage runs under its own job group and span. */
object CorpusBuild {

  /** Ingest batches: the raw corpus lands in the lake as this many commits. */
  val IngestBatches = 4

  final case class Built(indexPath: String, survivors: Set[Long],
      dropped: Set[Long], stageMs: Seq[(String, Long, Long)])

  def docsFrame(ctx: Ctx, docs: Seq[Gen.Doc]): DataFrame =
    ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(docs.map(d =>
        Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 4),
      graft.sources.Tables.documents)

  def vectorsFrame(ctx: Ctx, docs: Seq[Gen.Doc]): DataFrame =
    ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(docs.map(d =>
        Row(d.id, d.emb.toSeq, d.label)), 4),
      graft.sources.Tables.embeddings)

  /** Job group of a build stage; its span belongs to request "build". */
  def group(stage: String): String = s"build:$stage"

  /** With `full`, the whole flow; otherwise the corpus is written straight
    * to a table directory and only the index stages run. */
  def run(ctx: Ctx, corpus: Gen.Corpus, full: Boolean): Built =
    ctx.tracer.span("CorpusBuild.run", "build")(runStages(ctx, corpus, full))

  /** Runs each stage under its job group and records its wall interval. */
  private final class Stager(ctx: Ctx) {
    val times = Seq.newBuilder[(String, Long, Long)]
    def apply[T](name: String)(body: => T): T = {
      val (r, t0, t1) = ctx.op(group(name), name)(body)
      times += ((name, t0, t1))
      ctx.log(s"build $name ${t1 - t0} ms")
      r
    }
  }

  private def runStages(ctx: Ctx, corpus: Gen.Corpus, full: Boolean): Built = {
    val spark = ctx.spark
    val root = ctx.dir("build")
    val stage = new Stager(ctx)
    val surv = s"$root/survivors"
    val dropped = if (full) dedup(ctx, corpus, root, surv, stage) else {
      stage("corpus.write")(vectorsFrame(ctx, corpus.docs).write.parquet(s"$surv/embeddings.parquet"))
      Set.empty[Long]
    }
    val idx = s"$root/index"
    stage("IvfIndex.build")(IvfIndex.build(spark, surv, idx))
    stage("IvfIndex.pq_sidecar")(IvfIndex.buildPqSidecar(spark, idx))
    stage("IvfIndex.sq8_sidecar")(IvfIndex.buildSq8Sidecar(spark, idx))
    val survivors = corpus.docs.map(_.id).toSet -- dropped
    Built(idx, survivors, dropped, stage.times.result())
  }

  /** Lake ingest, near-dedup and the survivor table; returns the dropped ids. */
  private def dedup(ctx: Ctx, corpus: Gen.Corpus, root: String, surv: String,
      stage: Stager): Set[Long] = {
    val spark = ctx.spark
    import spark.implicits._
    val snap = s"$root/snap"
    stage("LakeLayout.ingest") {
      val docs = corpus.docs
      val per = (docs.length + IngestBatches - 1) / IngestBatches
      docs.grouped(per).zipWithIndex.foreach { case (batch, i) =>
        LakeLayout.appendToLake(spark, s"$root/lake/documents", docsFrame(ctx, batch),
          "ingest", i.toLong, statsKey = Some("doc_id"))
        LakeLayout.appendToLake(spark, s"$root/lake/embeddings", vectorsFrame(ctx, batch),
          "ingest", i.toLong, statsKey = Some("vec_id"))
      }
      // the batch operators read a directory of table files
      LakeLayout.readLake(spark, s"$root/lake/documents").get
        .write.parquet(s"$snap/documents.parquet")
      LakeLayout.readLake(spark, s"$root/lake/embeddings").get
        .write.parquet(s"$snap/embeddings.parquet")
    }
    val overlap = stage("Dedup.near_dup") {
      val o = Dedup.dWinnowOverlap(spark, snap).cache()
      o.count()
      o
    }
    stage("Components.cc") {
      val d = Components.connectedComponents(overlap.select($"i", $"j"))
        .filter($"doc_id" =!= $"component").select($"doc_id".as("vec_id"))
        .collect().map(_.getLong(0)).toSet
      overlap.unpersist(blocking = false)
      spark.read.parquet(s"$snap/embeddings.parquet")
        .filter(!$"vec_id".isin(d.toSeq: _*))
        .write.parquet(s"$surv/embeddings.parquet")
      d
    }
  }

  /** Every row the index serves, one id per row: a probe over all cells
    * with k above the corpus size is a full scan of the live rows. */
  def indexedIds(ctx: Ctx, idx: String, atMost: Int): Seq[Long] = {
    val probe = Array.fill(Gen.Dim)(1.0)
    IvfIndex.probeTopK(ctx.spark, idx, probe, k = atMost + 1,
      nprobe = graft.operators.Similarity.IvfCells)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
  }

  /** Gates: every planted duplicate is removed, and the index holds exactly
    * the survivors plus `synced`, the ids synced into it since the build,
    * each in one row. */
  def check(ctx: Ctx, corpus: Gen.Corpus, b: Built, synced: Set[Long]): Boolean = {
    val missed = corpus.planted -- b.dropped
    val want = b.survivors ++ synced
    val rows = indexedIds(ctx, b.indexPath, want.size)
    val held = rows.toSet
    ctx.gate(missed.isEmpty, s"dedup kept ${missed.size} planted duplicates: ${missed.take(5)}") &
      ctx.gate(rows.length == held.size,
        s"index serves ${rows.length - held.size} duplicate rows: " +
          s"${rows.diff(held.toSeq).distinct.take(5)}") &
      ctx.gate(held == want,
        s"index holds ${held.size} ids, expected ${want.size}; " +
          s"extra ${(held -- want).take(5)}, missing ${(want -- held).take(5)}")
  }
}
