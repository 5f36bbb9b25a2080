package graft

import graft.functions.VectorFunctions
import graft.operators.{IvfIndex, ProductQuant, Similarity}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** The single-probe compressed tiers collect their shortlist ids to the
  * driver and re-rank one scan of the probed cells that keeps those ids
  * plus every tail row. Before, the shortlist stayed a subquery: its
  * ids, unioned with the tail rows' ids, were made distinct, broadcast
  * and left-semi-joined into the probed cells. That form is
  * re-implemented here from what the index holds on disk, and both
  * must return the same rows (ids, order and sims) on PQ and SQ8: with
  * no tail, with a tail, with tombstones, and with tombstones after a
  * sidecar refresh; plain, with `excludeId`, with an empty shortlist
  * and with a filter the label stats serve and one they cannot.
  *
  * The forms differ only for an id with rows both in the tail and
  * outside it, which [[IvfIndex.syncFromLake]] never leaves visible; the
  * tail here holds new ids only. */
class IvfShortlistRerankSpec extends SparkSuite {
  import spark.implicits._

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def lines(fs: org.apache.hadoop.fs.FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** The max-version marker's lines under `root/side`, if any. */
  private def marker(root: String, side: String): Option[Seq[String]] = {
    val fs = fsOf(root)
    val dir = new Path(s"$root/$side")
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      .maxOption.map(n => lines(fs, new Path(dir, n.toString)))
  }

  /** The pre-collect form of [[IvfIndex.probeTopKAdc]] (`tier = "pq"`)
    * and [[IvfIndex.probeTopKSq8]] (`"sq8"`), from the files alone. */
  private def semiJoinForm(idx: String, tier: String, probe: Array[Double],
      k: Int, shortlist: Int, excludeId: Option[Long],
      where: Option[Column]): Seq[Row] = {
    VectorFunctions.register(spark)
    val root = IvfIndex.layoutRoot(spark, idx)
    val side = marker(root, if (tier == "pq") "_pq" else "_sq8").get
    val dirs = side.find(_.startsWith("d ")).get.drop(2).split(" ")
      .map(d => s"$root/$d")
    val snapshot = side.filter(_.startsWith("f ")).map(_.drop(2)).toSet
    val n = math.sqrt(probe.map(x => x * x).sum)
    val probeU = probe.map(_ / n)
    val cells = spark.read.parquet(s"$root/centroids").collect().toSeq
      .map { r =>
        val c = r.getAs[scala.collection.Seq[Double]]("centroid")
        (c.zip(probeU).map { case (a, b) => a * b }.sum, r.getAs[Int]("cell"))
      }
      .sortBy { case (sim, c) => (-sim, c) }.take(Similarity.IvfProbes)
      .map(_._2)
    val vectors = spark.read.parquet(s"$root/vectors")
      .filter($"cell".isin(cells: _*))
    val tombs = marker(root, "_tomb").map { t =>
      spark.read.parquet(s"$root/${t.head.drop(2).trim}")
        .select($"vec_id".cast("long").as("__t_id"), $"tomb_v".as("__t_v"))
        .filter($"__t_id".isNotNull)
    }
    val slack = tombs.fold(0L)(_.count()).toInt
    val eff = where.fold(shortlist) { p =>
      val r = vectors.agg(count(lit(1)), count(when(p, 1))).head()
      val (total, kept) = (r.getLong(0), r.getLong(1))
      if (kept <= 0L || total <= 0L) shortlist
      else math.max(shortlist, math.min(
        2.0 * math.ceil(shortlist / (kept.toDouble / total)),
        total.toDouble).toInt)
    } + slack
    val codes0 = spark.read.parquet(dirs(0)).filter($"cell".isin(cells: _*))
    val codes = excludeId.fold(codes0)(id => codes0.filter($"vec_id" =!= id))
    val scored =
      if (tier == "pq") {
        val books = spark.read.parquet(dirs(1)).collect()
        val cb = Array.tabulate(books.map(_.getAs[Int]("sub")).max + 1) { j =>
          books.filter(_.getAs[Int]("sub") == j).sortBy(_.getAs[Int]("code"))
            .map(_.getAs[scala.collection.Seq[Double]]("cvec").toArray)
        }
        val lut = ProductQuant.lutFor(cb, probeU)
        codes.withColumn("score", ProductQuant.adcScoreWith(
          array(lut.map(lit): _*), cb.length, cb(0).length))
      } else codes.withColumn("score", VectorFunctions.dot(
        transform($"q", c => c.cast("double")),
        array(probeU.map(lit): _*)) / 127.0)
    val listed = scored.orderBy($"score".desc, $"vec_id").limit(eff)
      .select($"vec_id")
    val tail = IvfIndex.listVectorFiles(fsOf(root), s"$root/vectors") --
      snapshot
    val cand =
      if (tail.isEmpty) listed
      else listed.union(vectors.filter($"_metadata.file_path".isin(
        tail.toSeq.map(f => new Path(f).toUri.toString): _*)).select($"vec_id"))
    val semi = vectors.join(broadcast(cand.distinct()), Seq("vec_id"),
      "left_semi")
    val filtered = where.fold(semi)(semi.filter)
    val visible = tombs.fold(filtered) { t =>
      filtered.join(broadcast(t), filtered("vec_id") === t("__t_id") &&
        coalesce(filtered("wave_v"), lit(-1L)) < t("__t_v"), "left_anti")
    }
    excludeId.fold(visible)(id => visible.filter($"vec_id" =!= id))
      .withColumn("sim", round(VectorFunctions.cosine($"embedding",
        array(probe.map(lit): _*)), 3))
      .filter(!isnan($"sim") && $"sim".isNotNull)
      .select($"vec_id", $"label", $"sim")
      .orderBy($"sim".desc, $"vec_id")
      .limit(k)
      .collect().toSeq
  }

  private val corpus = graft.sources.Tables.load(spark, sfDir, "embeddings")

  private val probes: Seq[(Long, Array[Double])] =
    corpus.orderBy($"vec_id").limit(2).collect().toSeq
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray))

  private val byLabel = $"label" === Similarity.FilterLabel
  // names vec_id, so the (cell, label) stats cannot answer it
  private val byLabelOrId = byLabel || $"vec_id" % 3 === 0

  /** Compare both forms on every tier, probe and variant; returns the
    * collected-form answers by (tier, variant, probe id). */
  private def compare(phase: String, idx: String)
      : Map[(String, String, Long), Seq[Row]] = {
    val variants = Seq[(String, Int, Boolean, Option[Column])](
      ("plain", 8, false, None),
      ("excludeId", 8, true, None),
      ("empty shortlist", 0, false, None),
      ("stats filter", 5, true, Some(byLabel)),
      ("measured filter", 5, true, Some(byLabelOrId)))
    (for {
      tier <- Seq("pq", "sq8")
      (variant, shortlist, exclude, where) <- variants
      (id, emb) <- probes
    } yield {
      val excludeId = if (exclude) Some(id) else None
      val got = (if (tier == "pq") IvfIndex.probeTopKAdc(spark, idx, emb,
          k = 5, shortlist = shortlist, excludeId = excludeId, where = where)
        else IvfIndex.probeTopKSq8(spark, idx, emb, k = 5,
          shortlist = shortlist, excludeId = excludeId, where = where))
        .collect().toSeq
      val want = semiJoinForm(idx, tier, emb, 5, shortlist, excludeId, where)
      assert(got == want, s"$phase, $tier, $variant, probe $id: the " +
        s"collected shortlist diverged from the semi-join form\n" +
        s"collected: $got\nsemi-join: $want")
      (tier, variant, id) -> got
    }).toMap
  }

  private def ids(rows: Seq[Row]): Seq[Long] = rows.map(_.getAs[Long]("vec_id"))

  test("the collected shortlist re-ranks to the semi-join form's rows on PQ and SQ8") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-rerank")
      .toString
    def sidecars(): Unit = {
      IvfIndex.buildPqSidecar(spark, idx)
      IvfIndex.buildSq8Sidecar(spark, idx)
    }
    IvfIndex.build(spark, sfDir, idx)
    sidecars()
    def servedBy[T](counter: java.util.concurrent.atomic.AtomicLong)(body: => T) = {
      val before = counter.get()
      val r = body
      (r, counter.get() - before)
    }

    val (bare, statsServed) = servedBy(IvfIndex.widenStatsServed)(
      compare("no tail", idx))
    assert(statsServed == 2 * probes.size,
      s"the label filter must be served from the stats: $statsServed")
    assert(bare.filter(_._1._2 == "empty shortlist").values.forall(_.isEmpty))
    assert(bare.filter(_._1._2 != "empty shortlist").values.forall(_.nonEmpty))

    // a tail of new ids, the probes' twins among them
    IvfIndex.append(spark, idx, corpus.filter($"vec_id" < 40L)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"label", $"embedding"))
    val (tailed, measured) = servedBy(IvfIndex.widenMeasureScans)(
      compare("tail", idx))
    assert(measured == 4 * probes.size,
      s"a tail leaves the stats behind, so every filter measures: $measured")
    probes.foreach { case (id, _) =>
      Seq("pq", "sq8").foreach { tier =>
        assert(ids(tailed((tier, "plain", id))).contains(id + 1000000L))
        val onlyTail = ids(tailed((tier, "empty shortlist", id)))
        assert(onlyTail.nonEmpty && onlyTail.forall(_ >= 1000000L),
          s"$tier: an empty shortlist re-ranks the tail alone: $onlyTail")
      }
    }

    // tombstones: a twin in the tail and each probe's best coded hit
    val hidden = probes.map(_._1 + 1000000L).take(1) ++
      probes.flatMap { case (id, _) => ids(tailed(("pq", "excludeId", id)))
        .find(_ < 1000000L) }
    assert(hidden.size > 1)
    IvfIndex.tombstoneIds(spark, idx, hidden.toDF("vec_id"))
    val tombed = compare("tombstones", idx)
    assert(!tombed.values.flatMap(ids).exists(hidden.contains))

    // the refresh absorbs the tail: the stats serve the label filter
    // again, beside the tombstones
    sidecars()
    val (_, servedAgain) = servedBy(IvfIndex.widenStatsServed)(
      compare("tombstones after a refresh", idx))
    assert(servedAgain == 2 * probes.size)
  }
}
