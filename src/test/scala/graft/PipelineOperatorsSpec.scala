package graft

import graft.functions.VectorFunctions
import graft.operators.{Dedup, RecallQueries, Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Semantic invariants for the LLM-pipeline operator families (text
  * analysis, dedup, similarity) on sf0.001. The DuckDB oracle compare at
  * sf0.01 is the authoritative gate; these run inside `sbt test`. */
class PipelineOperatorsSpec extends SparkSuite {
  import PipelineOperatorsSpec._

  test("all pipeline query families run and agree with their registries") {
    val fams = Seq(TextAnalysis.queries, Dedup.queries,
      Similarity.queries, RecallQueries.queries)
    val all = fams.flatten.toMap
    assert(all.size == fams.map(_.size).sum, "duplicate query names across families")
    for ((name, fn) <- all) assert(fn(spark, sfDir).columns.nonEmpty, name)
  }

  test("jaccard and minhash-LSH find the same planted near-dup pairs at >=0.8") {
    val jac = Dedup.dNgramJaccard(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    val mh = Dedup.dMinhashLsh(spark, sfDir).collect()
      .filter(_.getAs[Double]("jaccard") >= Dedup.JaccardThreshold)
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    assert(jac.nonEmpty, "no planted near-dups found")
    // 12-hash/4-band LSH catches jaccard>=0.8 pairs with prob ~1-3e-4
    assert(jac.subsetOf(mh), s"LSH missed pairs: ${jac -- mh}")
  }

  test("simhash pairs largely agree with the jaccard-planted near-dups") {
    val jac = Dedup.dNgramJaccard(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    val sim = Dedup.dSimhashPairs(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    assert(sim.nonEmpty)
    // precision: nearly all simhash hits are true near-dups
    val truePos = sim.intersect(jac).size.toDouble / sim.size
    assert(truePos >= 0.8, s"precision $truePos (sim=${sim.size}, overlap=${sim.intersect(jac).size})")
    // recall is allowed to be lossy (simhash is a weaker signal than
    // exact jaccard) but should catch most planted pairs
    assert(sim.intersect(jac).size >= jac.size / 2, "lost most planted pairs")
  }

  test("xxhash64 MinHash production variant finds exactly the md5 variant's pairs at sf0.01") {
    val dir = "/root/testdata/sf0.01"
    val md5p = Dedup.dMinhashLsh(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"), r.getAs[Double]("jaccard"))).toSet
    val x64p = Dedup.dMinhashLshX64(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"), r.getAs[Double]("jaccard"))).toSet
    assert(md5p.nonEmpty, "md5 variant found no pairs")
    // verification is shared code over the same shingle sets, so any
    // candidate surfaced by both bandings carries an identical jaccard —
    // full set equality means the 64-bit banding lost (and invented) nothing
    assert(x64p == md5p,
      s"md5-only: ${md5p -- x64p}; x64-only: ${x64p -- md5p}")
  }

  test("xxhash64 SimHash production variant finds the md5 variant's planted pairs at sf0.01") {
    val dir = "/root/testdata/sf0.01"
    val planted = Dedup.dNgramJaccard(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    val md5p = Dedup.dSimhashPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    val x64p = Dedup.dSimhashPairsX64(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    assert(md5p.nonEmpty, "md5 variant found no pairs")
    // different hash family and width → thresholds scale (≤3/32 vs
    // ≤10/64, measured) rather than transfer: require the 64-bit variant
    // to recover every md5 pair AND stay precise against the planted
    // ground truth (random pairs sit at hamming ≈ 32, far above 10)
    assert(md5p.subsetOf(x64p), s"x64 missed md5 pairs: ${md5p -- x64p}")
    val precision = (x64p & planted).size.toDouble / x64p.size
    assert(precision >= 0.9, s"x64 precision $precision")
  }

  test("exact-dedup stats are self-consistent") {
    val r = Dedup.dExactStats(spark, sfDir).collect().head
    val (docs, distinct, clusters, removable) =
      (r.getAs[Long]("n_docs"), r.getAs[Long]("n_distinct"),
        r.getAs[Long]("n_dup_clusters"), r.getAs[Long]("n_removable"))
    assert(docs == distinct + removable)
    assert(clusters <= removable || removable == 0)
  }

  test("cosine column matches a hand-computed dot/norm on a known pair") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val df = Seq(
      (Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (Array(1.0f, 2.0f, 2.0f), Array(2.0f, 4.0f, 4.0f))).toDF("a", "b")
    val sims = df.select(VectorFunctions.cosine($"a", $"b")).collect().map(_.getDouble(0))
    assert(math.abs(sims(0) - 1.0) < 1e-12)
    assert(math.abs(sims(1)) < 1e-12)
    assert(math.abs(sims(2) - 1.0) < 1e-12)
  }

  test("native VecDot/VecCosine are bit-identical to the HOF reference forms") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val e = graft.sources.Tables.load(spark, sfDir, "embeddings").limit(50)
    val pairs = e.select($"vec_id".as("i"), $"embedding".as("a"))
      .crossJoin(e.select($"vec_id".as("j"), $"embedding".as("b")))
      .filter($"i" < $"j")
    val diff = pairs.select(
        VectorFunctions.cosine($"a", $"b").as("native"),
        cosineHof($"a", $"b").as("hof"),
        VectorFunctions.dot($"a", $"b").as("dn"),
        dotHof($"a", $"b").as("dh"))
      .filter($"native" =!= $"hof" || $"dn" =!= $"dh")
      .count()
    assert(diff == 0, "native expression diverged from HOF fold")
  }

  test("property: native vec expressions match HOF forms on random vectors incl. nulls") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    def vec(n: Int, nullProb: Double): Array[java.lang.Float] =
      Array.fill[java.lang.Float](n)(
        if (rnd.nextDouble() < nullProb) null
        else java.lang.Float.valueOf((rnd.nextFloat() - 0.5f) * 10f))
    val rows = (1 to 300).map { _ =>
      val n = 1 + rnd.nextInt(8)
      val m = if (rnd.nextDouble() < 0.2) 1 + rnd.nextInt(8) else n
      (vec(n, 0.1), vec(m, 0.1))
    }
    val df = rows.toDF("a", "b")
    val bad = df.select(
        VectorFunctions.dot($"a", $"b").as("dn"),
        dotHof($"a", $"b").as("dh"),
        VectorFunctions.cosine($"a", $"b").as("cn"),
        cosineHof($"a", $"b").as("ch"))
      .filter(
        ($"dn".isNull =!= $"dh".isNull) || ($"dn" =!= $"dh") ||
        ($"cn".isNull =!= $"ch".isNull) ||
        // cosine can be NaN on degenerate vectors in BOTH forms — treat
        // NaN==NaN as agreement
        (!isnan($"cn") && !isnan($"ch") && $"cn" =!= $"ch"))
      .count()
    assert(bad == 0, s"$bad divergent rows between native and HOF forms")
  }

  test("vec expressions: NULL on length mismatch or null element (HOF parity)") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val df = Seq(
      (Array[java.lang.Float](1f, 2f), Array[java.lang.Float](1f, 2f, 3f)),
      (Array[java.lang.Float](1f, null, 3f), Array[java.lang.Float](1f, 2f, 3f)))
      .toDF("a", "b")
    val rows = df.select(
      VectorFunctions.dot($"a", $"b").as("d"),
      VectorFunctions.cosine($"a", $"b").as("c"),
      dotHof($"a", $"b").as("dh")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0), "native dot must be NULL")
      assert(r.isNullAt(1), "native cosine must be NULL")
      assert(r.isNullAt(2), "HOF reference is NULL too")
    }
  }

  test("brute-force topk and LSH ANN topk agree on the probe's bucket neighbors") {
    val exact = Similarity.sCosineTopk(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim")).toMap
    val ann = Similarity.sAnnTopk(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim")).toMap
    // every ANN hit that is also in the exact top-10 must carry the same score
    for ((id, sim) <- ann if exact.contains(id)) assert(sim == exact(id))
    assert(ann.nonEmpty, "ANN returned nothing — bucket degenerate?")
  }

  test("IVF ANN achieves recall@10 >= 0.9 vs the exact scan at sf0.01") {
    // this corpus's true neighbors sit at cosine 0.27-0.37 (θ≈70°) where
    // any sub-linear sign-LSH config has recall << 0.9 — IVF is the
    // measured scale path here (see Similarity scaladoc for the math)
    val dir = "/root/testdata/sf0.01"
    val exactIds = Similarity.sCosineTopk(spark, dir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val annIds = Similarity.sIvfTopk(spark, dir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = (annIds & exactIds).size.toDouble / exactIds.size
    assert(recall >= 0.9,
      s"IVF recall@10 = $recall (found ${(annIds & exactIds).size}/${exactIds.size})")
  }

  test("one-pass ANN topk is row-identical to the legacy two-pass explode/semi-join form") {
    // the r22 rewrite collapsed explode → isin → distinct → semi-join
    // into one scan with a row-local bucket predicate; the candidate
    // set (and so the output) must be bit-identical on every config
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01");
         flips <- Seq(0, 1); tbl <- Seq(1, 6)) {
      val now = Similarity.sAnnTopk(spark, dir,
        tables = tbl, probeFlips = flips).collect().toSeq
      val legacy = sAnnTopkTwoPass(spark, dir,
        tables = tbl, probeFlips = flips).collect().toSeq
      assert(now == legacy,
        s"one-pass ANN diverged at dir=$dir flips=$flips tables=$tbl: " +
          s"now=$now legacy=$legacy")
    }
  }

  test("multi-probe LSH recall is monotone over the plain band-OR probe") {
    val dir = "/root/testdata/sf0.01"
    val exactIds = Similarity.sCosineTopk(spark, dir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    def recall(flips: Int): Double = {
      val ids = Similarity.sAnnTopk(spark, dir, probeFlips = flips).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      (ids & exactIds).size.toDouble / exactIds.size
    }
    val (plain, mp) = (recall(0), recall(1))
    // Hamming-1 expansion only ADDS buckets, so the candidate set — and
    // therefore recall against the exact scan — can only grow
    assert(mp >= plain, s"multi-probe recall $mp < plain $plain")
    info(f"recall@10: plain=$plain%.2f multi-probe=$mp%.2f (wide-angle corpus; IVF is the 0.9+ path)")
  }

  test("band-OR LSH multi-table candidates strictly contain any single table's") {
    // the band-OR mechanism: table t's candidates are exactly the rows
    // matching the probe's bucket in that table, so the union over 6
    // tables can only grow — verify via the bucket histogram cardinality
    val single = Similarity.sAnnTopk(spark, sfDir, tables = 1).collect().length
    val multi = Similarity.sAnnTopk(spark, sfDir, tables = 6).collect().length
    assert(multi >= single, s"band-OR returned $multi < single-table $single")
  }

  test("persisted IVF index serves the same top-k as the in-query path, pruning to nprobe cells") {
    import spark.implicits._
    import graft.operators.IvfIndex
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    IvfIndex.build(spark, sfDir, idx)
    val probe = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .filter($"vec_id" === Similarity.ProbeId)
      .select($"embedding").head()
      .getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray
    val served = IvfIndex.probeTopK(spark, idx, probe,
      excludeId = Some(Similarity.ProbeId))
    // identical centroids (deterministic training) → identical candidate
    // cells → identical exact-cosine top-k
    val inQuery = Similarity.sIvfTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val fromIndex = served.collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(fromIndex == inQuery, s"index=$fromIndex vs query=$inQuery")
    // and the serving scan is partition-pruned to the probe's cells
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      "probe read must prune cell partitions at the FileIndex")
  }

  test("incremental IVF append: assignment parity with build, appended vectors immediately servable") {
    import spark.implicits._
    import graft.operators.IvfIndex
    import graft.sources.Tables
    val full = java.nio.file.Files.createTempDirectory("graft-ivf-full").toString
    IvfIndex.build(spark, sfDir, full)
    // PARITY: an index grown by append under the SAME frozen centroids
    // must serve identically to one whose build assigned everything —
    // copy the model, append the whole corpus in two waves
    val grown = java.nio.file.Files.createTempDirectory("graft-ivf-grown").toString
    // copy the model flat (no generation dirs): `grown` exercises the
    // LEGACY pre-generational layout end-to-end — append and probe
    // must resolve it whenever no committed generation exists
    spark.read.parquet(s"${IvfIndex.layoutRoot(spark, full)}/centroids")
      .coalesce(1).write.parquet(s"$grown/centroids")
    val corpus = Tables.load(spark, sfDir, "embeddings")
    IvfIndex.append(spark, grown, corpus.filter($"vec_id" % 2 === 0))
    IvfIndex.append(spark, grown, corpus.filter($"vec_id" % 2 =!= 0))
    val probe = corpus.filter($"vec_id" === Similarity.ProbeId)
      .select($"embedding").head()
      .getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray
    def serve(idx: String) = IvfIndex.probeTopK(spark, idx, probe,
        excludeId = Some(Similarity.ProbeId))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(serve(grown) == serve(full),
      "append-grown index must serve identically to the one-shot build")
    // FRESHNESS: a new vector (copy of the probe under a new id)
    // appended to the live index is found by the next probe at sim 1.0
    val newId = 900000L
    IvfIndex.append(spark, full,
      corpus.filter($"vec_id" === Similarity.ProbeId)
        .withColumn("vec_id", lit(newId)))
    val top = IvfIndex.probeTopK(spark, full, probe,
        excludeId = Some(Similarity.ProbeId))
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(top.exists { case (id, sim) => id == newId && sim == 1.0 },
      s"appended duplicate must serve immediately at sim 1.0, got " +
        top.take(3).mkString(", "))
  }

  test("IVF assignment plan size is independent of K: model rides as broadcast data, not literals") {
    import spark.implicits._
    import graft.operators.IvfIndex
    // synthetic orthogonal centroids at two K extremes, dim 8
    def centsDf(k: Int) = (0 until k).map { i =>
      (i, Array.tabulate(8)(d => if (d == i % 8) 1.0 + i / 8 else 0.0))
    }.toDF("cell", "centroid")
    val vecs = Seq(
      (1L, "a", Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (2L, "b", Array(0f, 0f, 2.0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val small = IvfIndex.assignCells(vecs, centsDf(8))
    val large = IvfIndex.assignCells(vecs, centsDf(256))
    // the assignment is a 1-row broadcast join, never K literal nodes
    val plan = large.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"assignment must join the broadcast model row, plan was:\n$plan")
    val (ls, ll) = (small.queryExecution.executedPlan.toString.length,
      plan.length)
    assert(ll < ls * 2,
      s"plan must not grow with K: K=8 -> $ls chars, K=256 -> $ll chars " +
        "(a literal-embedded model would be ~32x)")
    // argmax semantics: vec 1 aligns with cell 0's axis but cell 8's
    // centroid on the same axis has twice the magnitude -> max dot wins
    val got = large.select($"vec_id", $"cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(1L) == 248 && got(2L) == 250,
      s"dot-product argmax must pick the largest-magnitude aligned " +
        s"centroid (cells 248/250 at K=256), got $got")
  }

  test("quadratic near-dup diagnostic fails fast above its corpus-size cap") {
    // the 500-vector corpus trips a 100-row cap before any pair join runs
    val err = intercept[IllegalArgumentException] {
      Similarity.sNeardupPairs(spark, sfDir, maxRows = 100L)
    }
    assert(err.getMessage.contains("all-pairs diagnostic capped"))
    // and under the real cap the diagnostic still runs
    assert(Similarity.sNeardupPairs(spark, sfDir).collect().nonEmpty)
  }

  test("winnowing guarantee: docs sharing a long substring share a fingerprint") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $shared tail one two"),
      (2L, s"zeta eta theta iota $shared other ending words"),
      (3L, "completely unrelated text with nothing in common at all here today")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFps(docs).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[String]]("fps").toSet).toMap
    // the SWA guarantee: a shared run of >= WinnowW+2 tokens yields at
    // least one common window minimum
    assert((fps(1L) & fps(2L)).nonEmpty, "shared substring must share a fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty, "unrelated docs should not collide")
    // density: winnowing keeps ~1/w of the shingle hashes, never all
    val nShingles1 = docs.filter($"doc_id" === 1L).select(
      size(TextAnalysis.tokens($"text"))).head().getInt(0) - 2
    assert(fps(1L).size < nShingles1, "fingerprints must subsample the shingles")
  }

  test("winnow overlap recovers the planted near-dup pairs; funnel is monotone") {
    val planted = Dedup.dNgramJaccard(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    val overlap = Dedup.dWinnowOverlap(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    assert(overlap.nonEmpty)
    // winnowing guarantees shared >=(w+2)-token runs surface; jaccard-0.8
    // planted dups are full near-copies, so they must all appear
    assert(planted.subsetOf(overlap), s"missed planted pairs: ${planted -- overlap}")
    val r = Dedup.dCorpusFunnel(spark, sfDir).collect().head
    val (t, u, n, f) = (r.getAs[Long]("n_total"), r.getAs[Long]("n_unique"),
      r.getAs[Long]("n_quality"), r.getAs[Long]("n_final"))
    assert(t >= u && u >= n && n >= f, s"funnel must shrink: $t >= $u >= $n >= $f")
    assert(u < t, "near-dedup stage must remove the planted dup partners")
    assert(f > 0, "the en/length/unique intersection should be non-empty")
  }

  test("funnel dedup stage is transitive: one min-id survivor per component") {
    import spark.implicits._
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val Array(a, b, c) = docs.select($"doc_id").orderBy($"doc_id").limit(3)
      .collect().map(_.getLong(0))
    val total = docs.count()
    // chain a~b~c: one component, survivor = a, so b AND c both drop —
    // a pair-ordered policy could keep c once b (its only partner) drops
    val chain = Seq((a, b), (b, c)).toDF("i", "j")
    val r1 = Dedup.dCorpusFunnel(spark, sfDir, Some(chain)).collect().head
    assert(r1.getAs[Long]("n_total") == total)
    assert(r1.getAs[Long]("n_unique") == total - 2,
      s"chain must leave one survivor, got n_unique=${r1.getAs[Long]("n_unique")}")
    // star a~c, b~c: still one component {a,b,c} with survivor a — the
    // old pairwise drop-every-j rule kept BOTH a and b (n_unique-1 docs
    // dropped), which is exactly the inconsistency components repair
    val star = Seq((a, c), (b, c)).toDF("i", "j")
    val r2 = Dedup.dCorpusFunnel(spark, sfDir, Some(star)).collect().head
    assert(r2.getAs[Long]("n_unique") == total - 2,
      s"star must drop b and c, got n_unique=${r2.getAs[Long]("n_unique")}")
  }

  test("KS drift gate: hash split is distribution-clean, planted length bias trips it") {
    import spark.implicits._
    import graft.operators.Sampling
    val r = Sampling.dSplitDrift(spark, sfDir).head()
    val (na, nb, num) =
      (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("ks_num"))
    assert(na > 0 && nb > 0)
    // a key-hash split is independent of content, so the KS statistic
    // must stay small (generous bound for a 500-doc corpus)
    val ks = num.toDouble / (na.toDouble * nb.toDouble)
    assert(ks < 0.25, s"hash split shifted the length distribution: ks=$ks")
    // planted drift: whole corpus vs its longest 30% — the detector
    // must fire hard (the biased CDF lags until the 70th percentile)
    val xs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(size(TextAnalysis.tokens($"text")).cast("bigint").as("x"))
    val n = xs.count()
    val biased = xs.orderBy($"x".desc).limit((n * 3 / 10).toInt)
    val r2 = Sampling.ksNumerator(xs, biased).head()
    val ks2 = r2.getAs[Long]("ks_num").toDouble /
      (r2.getAs[Long]("n_a").toDouble * r2.getAs[Long]("n_b").toDouble)
    assert(ks2 > 0.5, s"planted length bias must trip the gate: ks=$ks2")
  }

  test("range-partitioned KS equals the global-window KS on ties, skew, and drift") {
    import spark.implicits._
    import graft.operators.Sampling
    // other suites' load-bearing caches may live in the shared session —
    // assert only that THIS operator adds none
    val preExisting = spark.sparkContext.getPersistentRDDs.keySet
    def pair(a: Seq[Long], b: Seq[Long]): ((Long, Long, Long), (Long, Long, Long)) = {
      def row(df: org.apache.spark.sql.DataFrame) = {
        val rs = df.collect()
        assert(rs.length == 1)
        (rs.head.getAs[Long]("n_a"), rs.head.getAs[Long]("n_b"),
          rs.head.getAs[Long]("ks_num"))
      }
      val da = a.toDF("x"); val db = b.toDF("x")
      // tiny partitions force values to straddle range boundaries
      (row(Sampling.ksNumerator(da, db)),
        row(Sampling.ksNumeratorRanged(da, db, partitions = 3)))
    }
    // heavy ties (duplicate x on both sides) + boundary straddling
    val t1 = pair(Seq(1L, 1L, 2L, 2L, 3L, 5L, 5L, 9L), Seq(1L, 2L, 2L, 7L, 9L, 9L))
    assert(t1._1 == t1._2, s"tied data diverged: $t1")
    // planted drift (disjoint ranges) — detector value must agree too
    val t2 = pair(Seq(1L, 2L, 3L, 4L), Seq(100L, 101L, 102L))
    assert(t2._1 == t2._2, s"drifted data diverged: $t2")
    assert(t2._1._3 == t2._1._1 * t2._1._2,
      "disjoint ranges must reach the maximal KS numerator")
    // skewed duplicates: one value dominates a partition
    val t3 = pair(Seq.fill(50)(7L) ++ Seq(1L, 9L), Seq.fill(30)(7L) ++ Seq(2L))
    assert(t3._1 == t3._2, s"skewed data diverged: $t3")
    // no pinned cache escapes the operator
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(preExisting),
      "ksNumeratorRanged must release its pid-pinning cache")
    // empty input: both variants return zero rows
    assert(Sampling.ksNumeratorRanged(
      Seq.empty[Long].toDF("x"), Seq.empty[Long].toDF("x")).count() == 0L)
  }

  test("weighted source mix hits its tiers and re-runs identically") {
    import graft.operators.Sampling
    val rows = Sampling.dSourceMix(spark, sfDir).collect()
    assert(rows.length == 20, "one row per source")
    rows.foreach { r =>
      val suffix = r.getAs[String]("source").stripPrefix("src").toLong
      val nominal = (suffix % 4 + 1).toDouble / 4.0
      val rate = r.getAs[Double]("rate")
      assert(r.getAs[Long]("keep_threshold") == (suffix % 4 + 1) * 16384)
      // 25 docs/source at sf0.01 — generous binomial slack, but the
      // 100% tier must be EXACT (threshold covers the whole hash range)
      if (nominal == 1.0) assert(rate == 1.0, s"src$suffix: $rate")
      else assert(math.abs(rate - nominal) < 0.35,
        s"src$suffix: rate $rate far from nominal $nominal")
    }
    val again = Sampling.dSourceMix(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "hash-of-key mix must be exactly reproducible")
  }

  test("hash split and stratified sample are deterministic and near their nominal rates") {
    val rows = graft.operators.Sampling.dHashSplit(spark, sfDir).collect()
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val total = bySplit.values.sum
    assert(bySplit.keySet == Set("train", "val", "test"))
    // nominal 75/12.5/12.5 — at 500 docs allow generous binomial slack
    assert(bySplit("train").toDouble / total > 0.6 &&
      bySplit("train").toDouble / total < 0.9, s"train share ${bySplit("train")}/$total")
    // identical re-run (hash-of-key assignment, no RNG anywhere)
    val again = graft.operators.Sampling.dHashSplit(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
    val samp = graft.operators.Sampling.dStratifiedSample(spark, sfDir).collect()
    samp.foreach { r =>
      val rate = r.getAs[Double]("rate")
      assert(rate > 0.02 && rate < 0.35, s"stratum ${r.getAs[String]("lang")} rate $rate")
    }
  }

  test("quality tiers are exhaustive and tokens positive") {
    val rows = TextAnalysis.tQualityScore(spark, sfDir).collect()
    assert(rows.length == 500)
    val tiers = rows.map(_.getAs[String]("tier")).toSet
    assert(tiers.subsetOf(Set("TOO_SHORT", "NATURAL", "JARGON", "LIST_LIKE")))
    rows.foreach(r => assert(r.getAs[Long]("n_tokens") > 0))
  }

  test("repetition stats: both flag values populated, ratios consistent") {
    val rows = TextAnalysis.tRepetitionStats(spark, sfDir).collect()
    assert(rows.length == 500)
    val rep = rows.count(_.getAs[Boolean]("repetitive"))
    assert(rep > 0 && rep < rows.length, s"degenerate flag split: $rep/500")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_tokens"))
      val dr = r.getAs[Double]("distinct_ratio")
      assert(dr > 0.0 && dr <= 1.0, s"doc ${r.getAs[Long]("doc_id")}: $dr")
      val bf = r.getAs[Double]("top_bigram_frac")
      assert(bf >= 0.0 && bf <= 1.0)
    }
  }

  test("shard packing: all writers used, shards consecutive, tokens conserved") {
    import graft.operators.Sampling
    val rows = Sampling.dShardPack(spark, sfDir).collect()
    val byWriter = rows.groupBy(_.getAs[Long]("writer"))
    assert(byWriter.keySet == (0L until Sampling.ShardWriters).toSet)
    byWriter.foreach { case (w, ws) =>
      // consecutive from 0 holds because every doc is far below the
      // budget (max 99 tokens vs 2048); a doc larger than the budget
      // would legitimately skip a shard index
      val shards = ws.map(_.getAs[Long]("shard")).sorted.toSeq
      assert(shards == (0L until shards.length.toLong),
        s"writer $w shards not consecutive: $shards")
      ws.foreach(r => assert(r.getAs[Long]("first_doc") <= r.getAs[Long]("last_doc")))
    }
    val total = rows.map(_.getAs[Long]("shard_tokens")).sum
    val expected = TextAnalysis.tTokenStats(spark, sfDir).collect()
      .map(_.getAs[Long]("total_tokens")).sum
    assert(total == expected, s"shard tokens $total != corpus tokens $expected")
  }

  test("semantic dedup: every drop is a true dup; recall vs quadratic truth measured") {
    val dir = "/root/testdata/sf0.01"
    VectorFunctions.register(spark)
    val unit = graft.sources.Tables.load(spark, dir, "embeddings")
      .withColumn("nrm", VectorFunctions.l2Norm(col("embedding")))
      .filter(col("nrm") > 0.0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / col("nrm")).as("u"))
    val a = unit.select(col("vec_id").as("i"), col("u").as("ua"))
    val b = unit.select(col("vec_id").as("j"), col("u").as("ub"))
    val trueDropIds = a.join(b, col("i") < col("j"))
      .withColumn("sim", round(VectorFunctions.dot(col("ua"), col("ub")), 3))
      .filter(col("sim") >= Similarity.SemDedupThreshold)
      .select("j").collect().map(_.getLong(0)).toSet
    assert(trueDropIds.nonEmpty, "threshold found no pairs — corpus drifted")
    val (_, dropped) = Similarity.semanticDropSet(
      spark, dir, Similarity.IvfCells, Similarity.SemDedupThreshold)
    val got = dropped.collect().map(_.getAs[Long]("vec_id")).toSet
    // precision 1.0 by construction: within-cell sims are exact
    assert(got.subsetOf(trueDropIds), s"false drops: ${got -- trueDropIds}")
    // recall is bounded by how often both endpoints share a top-2 cell —
    // the SemDeDup tradeoff; measured 0.86 (12/14) at K=16/assign-2
    // (single-assignment was 0.43), floor pinned just below
    val recall = got.size.toDouble / trueDropIds.size
    info(s"semantic-dedup recall vs quadratic truth: $recall " +
      s"(${got.size}/${trueDropIds.size})")
    assert(recall >= 0.8, s"recall $recall")
  }

  test("centroid cache: hit on unchanged data, invalidated by in-place rewrite") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ccache").toString
    val src = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    src.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val c1 = Similarity.ivfCentroids(spark, tmp, 4, 1)
    // unchanged data → cache hit (the memoized instance itself)
    assert(c1 eq Similarity.ivfCentroids(spark, tmp, 4, 1))
    // in-place rewrite with different data: the path-only key would
    // serve c1 silently; the fingerprint key must retrain
    src.filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val c2 = Similarity.ivfCentroids(spark, tmp, 4, 1)
    assert(!(c2 eq c1), "stale centroid model served after in-place rewrite")
    assert(c1.flatten.toSeq != c2.flatten.toSeq,
      "rewrite with half the corpus should move the centroids")
  }

  test("semantic dedup hot-cell blocking: forced split preserves the exact drop set") {
    val dir = "/root/testdata/sf0.01"
    // default target (2048): every cell is single-block at this sf —
    // the baseline is the plain cell equi-join
    val (_, base) = Similarity.semanticDropSet(
      spark, dir, Similarity.IvfCells, Similarity.SemDedupThreshold)
    val baseSet = base.collect().map(_.getAs[Long]("vec_id")).toSet
    assert(baseSet.nonEmpty, "threshold found no drops — corpus drifted")
    // target 16 << avg exploded cell size (500 vecs × 2 assignments /
    // 16 cells ≈ 62) forces nb ≥ 2 on every cell, exercising the
    // triangular block decomposition on the REAL corpus. The blocking
    // only re-partitions the pair space, so the drop set must be
    // IDENTICAL, not merely similar.
    val explodedPerCell = 2.0 * 500 / Similarity.IvfCells
    assert(explodedPerCell / 16 > 1.5, "sf0.01 no longer forces multi-block cells")
    val (_, blocked) = Similarity.semanticDropSet(
      spark, dir, Similarity.IvfCells, Similarity.SemDedupThreshold,
      hotCellTarget = 16)
    val blockedSet = blocked.collect().map(_.getAs[Long]("vec_id")).toSet
    assert(blockedSet == baseSet,
      s"blocking changed the drop set: only-base=${baseSet -- blockedSet} " +
        s"only-blocked=${blockedSet -- baseSet}")
  }

  test("incremental dedup: accounting sums, both dup classes exercised at sf0.01") {
    val r = Dedup.dIncrementalDedup(spark, "/root/testdata/sf0.01").collect().head
    val (nb, dve, ib, nn) = (r.getAs[Long]("n_batch"),
      r.getAs[Long]("n_dup_vs_existing"), r.getAs[Long]("n_intra_batch_dup"),
      r.getAs[Long]("n_new"))
    assert(nb == dve + ib + nn, s"accounting leak: $nb != $dve+$ib+$nn")
    assert(dve > 0, "no cross-partition dups — planted pairs should straddle the 75/25 split")
    assert(nn > 0 && nn < nb)
  }

  test("chunk windows tile every document: stride spacing, full token coverage") {
    val rows = TextAnalysis.tChunkWindows(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val nTokens = TextAnalysis.tTokenStats(spark, sfDir)
      .collect().map(_.getAs[Long]("total_tokens")).sum
    assert(rows.nonEmpty)
    var covered = 0L
    rows.foreach { case (doc, chunks) =>
      val sorted = chunks.sortBy(_.getAs[Long]("chunk_idx"))
      val starts = sorted.map(_.getAs[Long]("start_tok"))
      assert(starts.head == 0L, s"doc $doc first chunk must start at 0")
      starts.sliding(2).foreach {
        case Array(a, b) => assert(b - a == TextAnalysis.ChunkStride)
        case _ =>
      }
      val last = sorted.last
      val n = last.getAs[Long]("start_tok") + last.getAs[Long]("n_chunk_tokens")
      // stride < size ⇒ the final (possibly partial) window reaches the
      // last token exactly
      sorted.foreach { c =>
        val expectLen = math.min(TextAnalysis.ChunkSize.toLong,
          n - c.getAs[Long]("start_tok"))
        assert(c.getAs[Long]("n_chunk_tokens") == expectLen)
      }
      covered += n
    }
    assert(covered == nTokens,
      s"chunks cover $covered tokens, corpus has $nTokens")
  }

  test("r4 topk honors anti-pushdown: low-confidence docs still reachable") {
    // the synthetic confidence spans [0,0.99]; top-5 must all be >= 0.95
    // while r9 per-source must still see sub-threshold rows
    val top = RecallQueries.r4TopkMemory(spark, sfDir).collect()
    assert(top.length == 5)
    assert(top.forall(_.getAs[Double]("confidence") >= 0.9))
    val branches = RecallQueries.r9BranchPerSource(spark, sfDir).collect()
      .map(_.getAs[String]("branch")).toSet
    assert(branches.contains("SUCCESS"))
  }
}

/** Reference forms the engine's rewrites are checked against. Production
  * never calls them; they keep the replaced algorithm runnable. */
object PipelineOperatorsSpec {

  /** The `zip_with`/`aggregate` HOF forms of `vec_dot` and `vec_cosine`:
    * the same accumulation order, so bit-identical results. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (VectorFunctions.l2Norm(a) * VectorFunctions.l2Norm(b))

  /** The legacy two-pass ANN form of [[Similarity.sAnnTopk]] (explode to
    * (vec_id, bucket-string) rows → isin → distinct → self-semi-join). */
  def sAnnTopkTwoPass(s: SparkSession, dir: String,
      k: Int = 10, tables: Int = Similarity.AnnTables,
      bits: Int = Similarity.AnnBitsPerTable,
      probeFlips: Int = 0): DataFrame = {
    VectorFunctions.register(s)
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    val dim = e.select(size($"embedding")).head().getInt(0)
    def bucketArr(v: Column) =
      array((0 until tables).map { t =>
        val planes = Similarity.hyperplanes(nPlanes = bits, dim = dim,
          seed = 42L + t)
        concat((lit(s"$t:") +: planes.map { p =>
          val pc = array(p.map(lit): _*)
          when(VectorFunctions.dot(v, pc) >= 0, lit("1")).otherwise(lit("0"))
        }): _*)
      }: _*)
    val ex = e.select($"vec_id", explode(bucketArr($"embedding")).as("bkt"))
    val probeBkts = ex.filter($"vec_id" === Similarity.ProbeId)
      .select($"bkt").collect().map(_.getString(0)).toSeq
    val expanded =
      if (probeFlips == 0) probeBkts
      else probeBkts.flatMap { b =>
        val (pre, rest) = b.splitAt(b.indexOf(':') + 1)
        b +: rest.indices.map(i =>
          pre + rest.updated(i, if (rest(i) == '1') '0' else '1'))
      }
    val candIds = ex.filter($"bkt".isin(expanded: _*))
      .filter($"vec_id" =!= Similarity.ProbeId)
      .select($"vec_id").distinct()
    val probeVec = e.filter($"vec_id" === Similarity.ProbeId)
      .select($"embedding".as("p"))
    e.join(candIds, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(probeVec))
      .withColumn("sim", round(VectorFunctions.cosine($"embedding", $"p"), 3))
      .filter(!isnan($"sim") && $"sim".isNotNull)
      .select($"vec_id", $"label", $"sim")
      .orderBy($"sim".desc, $"vec_id")
      .limit(k)
  }
}
