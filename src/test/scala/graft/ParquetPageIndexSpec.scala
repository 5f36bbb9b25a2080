package graft

import graft.sources.{LakeLayout, LakeQueries}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** WITHIN-file pruning on the Z-ordered layout — the next decade of the
  * file-pruning idea. File-level stats pruning (manifests, round 13)
  * skips whole files; parquet's own two inner levels continue it:
  *   1. ROW-GROUP stats — chunk min/max lets the reader drop whole row
  *      groups whose key range misses the predicate band;
  *   2. PAGE column indexes (parquet column-index structures) — per-page
  *      min/max lets the reader drop pages INSIDE a surviving row group
  *      (SPARK-26345: the vectorized reader materializes only matching
  *      row ranges when `parquet.filter.columnindex.enabled`, default
  *      on, and the filter is pushed).
  * Because the layout is Z-ordered, every row group / page covers a
  * compact (user × time) rectangle, so BOTH inner levels bite on a
  * narrow user band — exactly like the file level did. The spec writes
  * deliberately small row groups/pages so all three granularities exist
  * at test SF; at 100 TB the same shape holds with 128 MB files,
  * default 128 MB row groups and 1 MB pages. */
class ParquetPageIndexSpec extends SparkSuite {

  test("narrow key band on z-ordered layout: row-group subset read, page-level finer than row groups") {
    import spark.implicits._
    val sf01 = "/root/testdata/sf0.1"
    val dir = java.nio.file.Files.createTempDirectory("graft-pageidx").toString
    // small row groups (64 KB) and pages (500 rows) so a 100k-row table
    // exhibits the full file > row-group > page hierarchy
    LakeQueries.zorderKeyed(spark, sf01)
      .repartitionByRange(4, col("zkey"))
      .sortWithinPartitions(col("zkey"))
      .write
      .option("parquet.block.size", (64 * 1024).toString)
      .option("parquet.page.size", (4 * 1024).toString)
      .option("parquet.page.row.count.limit", "500")
      .mode("overwrite").parquet(dir)

    val ev = spark.read.parquet(dir)
    val (uLo, uHi) = {
      val r = ev.agg(min($"user_id"), max($"user_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    // middle ~10% user band
    val bandLo = uLo + (uHi - uLo) * 45 / 100
    val bandHi = uLo + (uHi - uLo) * 55 / 100

    // ---- ground truth from parquet metadata (parquet-mr API) ----
    val conf = spark.sessionState.newHadoopConf()
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val files = fs.listStatus(dirPath).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    var rgTotal = 0; var rgHit = 0; var rgHitRows = 0L; var totalRows = 0L
    var pgTotal = 0; var pgHit = 0
    def longAt(bb: java.nio.ByteBuffer): Long =
      bb.duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    files.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try reader.getFooter.getBlocks.asScala.foreach { b =>
        totalRows += b.getRowCount
        val chunk = b.getColumns.asScala
          .find(_.getPath.toDotString == "user_id").get
        val st = chunk.getStatistics
        val (lo, hi) = (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
          st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        rgTotal += 1
        if (!(hi < bandLo || lo > bandHi)) { rgHit += 1; rgHitRows += b.getRowCount }
        val ci = reader.readColumnIndex(chunk)
        if (ci != null) {
          val mins = ci.getMinValues.asScala
          val maxs = ci.getMaxValues.asScala
          val nulls = ci.getNullPages.asScala
          mins.indices.foreach { i =>
            pgTotal += 1
            if (!nulls(i)) {
              val (plo, phi) = (longAt(mins(i)), longAt(maxs(i)))
              if (!(phi < bandLo || plo > bandHi)) pgHit += 1
            }
          }
        }
      } finally reader.close()
    }
    info(s"rows=$totalRows rowGroups hit/total=$rgHit/$rgTotal " +
      s"(rowsInHitRGs=$rgHitRows) pages hit/total=$pgHit/$pgTotal")
    assert(rgTotal >= 10 && pgTotal >= 2 * rgTotal,
      s"layout too coarse for the demonstration (rg=$rgTotal pages=$pgTotal)")
    assert(rgHit > 0 && rgHit < rgTotal,
      s"band must hit a STRICT subset of row groups ($rgHit/$rgTotal)")
    assert(pgHit > 0 && pgHit < pgTotal,
      s"band must hit a strict subset of pages ($pgHit/$pgTotal)")

    // ---- the reader actually honors both levels ----
    // vectorized scan + pushed filter: numOutputRows counts rows the
    // parquet reader MATERIALIZED (surviving row-ranges), before
    // Spark's own Filter re-evaluates
    val q = ev.filter($"user_id" >= bandLo && $"user_id" <= bandHi)
    q.collect()
    val scan = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(user_id") &&
      pushed.contains("LessThanOrEqual(user_id"),
      s"band predicate must reach the parquet reader, got: $pushed")
    val materialized = scan.metrics("numOutputRows").value
    val bandRows = q.count()
    info(s"materialized=$materialized bandRows=$bandRows rgHitRows=$rgHitRows")
    assert(materialized >= bandRows,
      "scan cannot emit fewer rows than the band holds")
    assert(materialized < totalRows,
      "reader must not materialize the whole table — row-group stats " +
        "pruning is off")
    assert(materialized < rgHitRows,
      s"reader materialized $materialized rows vs $rgHitRows in " +
        "band-overlapping row groups — page-level (column index) " +
        "skipping should read strictly less than whole row groups")
  }

  test("page-index pruning survives the LAKE read path with deletion vectors: pushed ts filter under the dv anti-join") {
    import spark.implicits._
    val sf01 = "/root/testdata/sf0.1"
    val lake = java.nio.file.Files.createTempDirectory("graft-dvpage").toString
    // small row groups/pages via the WRITER's hadoop conf — the lake
    // commit path owns its write, so the knobs ride the session conf
    // (restored below; suites run sequentially in the forked JVM)
    val hc = spark.sparkContext.hadoopConfiguration
    val knobs = Seq("parquet.block.size" -> (64 * 1024).toString,
      "parquet.page.size" -> (4 * 1024).toString,
      "parquet.page.row.count.limit" -> "500")
    val saved = knobs.map { case (k, _) => k -> Option(hc.get(k)) }
    knobs.foreach { case (k, v) => hc.set(k, v) }
    try {
      LakeLayout.commitLakeVersion(
        LakeQueries.zorderKeyed(spark, sf01)
          .repartitionByRange(4, col("zkey"))
          .sortWithinPartitions(col("zkey"))
          .drop("zkey", "u_bin", "t_bin"),
        lake, "ck", 0L, statsKey = Some("user_id"), tsStatsKey = Some("ts"))
    } finally saved.foreach {
      case (k, Some(v)) => hc.set(k, v)
      case (k, None) => hc.unset(k)
    }
    // the events contract reads ts as epoch-nanos int64 (Tables.load),
    // matching the committed layout and the tsStatsKey bounds
    val raw = graft.sources.Tables.load(spark, sf01, "events")
    // GDPR-shape dv delete: a handful of scattered users; the z-order
    // interleave spreads each user across files, so file entries carry
    // the vector and every lake read pays the anti-join
    val gone = raw.select($"user_id").distinct()
      .orderBy($"user_id").limit(5).as[Long].collect().toSet
    LakeLayout.deleteFromLakeDv(spark, lake,
      gone.toSeq.toDF("user_id"), "user_id", "ck", 1L)
    val cur = LakeLayout.latestLakeCommit(spark, lake).get
    assert(cur.files.exists(_.dv.isDefined),
      "setup: the read under test must traverse dv-bearing files")

    val (tLo, tHi) = {
      val r = raw.agg(min($"ts"), max($"ts")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (bandLo, bandHi) = (tLo + (tHi - tLo) * 45 / 100,
      tLo + (tHi - tLo) * 55 / 100)

    // ground truth from the COMMITTED files' parquet metadata: row
    // groups whose ts chunk could intersect the band
    val conf = spark.sessionState.newHadoopConf()
    var rgTotal = 0; var rgHitRows = 0L; var totalRows = 0L
    cur.files.foreach { lf =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$lake/${lf.path}"), conf))
      try reader.getFooter.getBlocks.asScala.foreach { b =>
        totalRows += b.getRowCount
        val st = b.getColumns.asScala
          .find(_.getPath.toDotString == "ts").get.getStatistics
        val (lo, hi) = (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
          st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        rgTotal += 1
        if (!(hi < bandLo || lo > bandHi)) rgHitRows += b.getRowCount
      } finally reader.close()
    }
    assert(rgTotal >= 10, s"layout too coarse (rg=$rgTotal)")

    val q = LakeLayout.readLakeTsRange(spark, lake, "ts", bandLo, bandHi).get
    // exactness first: band minus deleted users, vs the raw table.
    // collect() q ITSELF so the plan whose metrics we read below is the
    // one that executed
    val want = raw.filter($"ts" >= bandLo && $"ts" <= bandHi &&
        !$"user_id".isin(gone.toSeq: _*))
      .select($"user_id", $"ts", $"event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val got = q.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts"),
        r.getAs[String]("event_type"))).sorted
    assert(got.length == want.length && got.sameElements(want),
      s"dv-aware pruned range read diverged (${got.length} vs ${want.length})")

    // plan shape: the ts predicate must reach the DATA scan beneath the
    // broadcast anti-join — a join above the scan must not strip it.
    // The join makes this an ADAPTIVE plan, so descend through AQE
    // wrappers and query stages to the physical scans
    def collectScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectScans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectScans(qs.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(collectScans)
    }
    val scans = collectScans(q.queryExecution.executedPlan)
    val dataScans = scans.filter(_.schema.fieldNames.contains("ts"))
    assert(dataScans.nonEmpty, "no data scan found under the dv read")
    dataScans.foreach { scan =>
      val pushed = scan.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("GreaterThanOrEqual(ts") &&
        pushed.contains("LessThanOrEqual(ts"),
        s"ts band must stay pushed under the dv anti-join, got: $pushed")
    }
    // and the reader honors row-group + page skipping through this path
    val materialized = dataScans.map(_.metrics("numOutputRows").value).sum
    info(s"materialized=$materialized rgHitRows=$rgHitRows totalRows=$totalRows")
    assert(materialized < totalRows,
      "dv read path must not materialize the whole table")
    assert(materialized < rgHitRows,
      s"materialized $materialized vs $rgHitRows rows in band-hit row " +
        "groups — page-level skipping must survive the lake+dv path")
  }
}
