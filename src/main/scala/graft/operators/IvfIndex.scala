package graft.operators

import graft.functions.VectorFunctions
import graft.sources.{MetaFiles, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index — the production serving shape for ANN at 100 TB.
  * [[Similarity.sIvfTopk]] retrains per query (fine for a benchmark,
  * wasteful for a serving fleet); here the index is built ONCE as a
  * GENERATIONAL lake layout:
  *
  *   <indexPath>/g<N>-<tag>/vectors/cell=<c>/...parquet  (cell-partitioned)
  *   <indexPath>/g<N>-<tag>/centroids/...parquet   (K rows of model state)
  *   <indexPath>/_gen/<N>                          (atomic commit claim)
  *
  * Each generation may additionally carry versioned SIDECARS, all on
  * one marker codec ([[SidecarMarker]]: dirs named inside a marker
  * `<kind>/<n>` published last, one grace version, each kind
  * deciding what a lost race means): PQ codes+books (`_pq`), SQ8 codes
  * (`_sq8`), per-(cell, label) counts (`_lstats`) and TOMBSTONES
  * (`_tomb` — versioned (vec_id, tomb_v) delete/update events every
  * serving path anti-joins at its exact re-rank against each row's
  * ingest version `wave_v`; a rebuild compacts the hidden rows
  * physically and publishes bare).
  * Lake ingest marks (`_lakesync`) live at the INDEX root so they
  * survive cutovers.
  *
  * and every probe reads ONLY its `nprobe` nearest cells — partition
  * pruning at the FileIndex, so a probe's scan cost is
  * ~nprobe/cells of the corpus regardless of corpus size, with zero
  * training work on the query path. Centroids are deterministic
  * ([[Similarity.ivfCentroids]]'s fixed-point means), so rebuilding the
  * index on the same corpus yields byte-identical assignments.
  *
  * COMMIT POINTS: the generation claim `_gen/<N>` and every sidecar
  * marker publish through [[graft.sources.MetaFiles.putIfAbsent]] —
  * the one claim primitive [[graft.sources.LakeLayout]]'s manifests
  * use: content first, then one atomic claim, so no claim or marker
  * is ever partial; only "the name is taken" is a lost race, and any
  * other I/O error propagates. The `_lakesync` marks are replaced
  * atomically ([[graft.sources.MetaFiles.replace]]).
  *
  * GENERATIONS are what make [[rebuild]] atomic: two overlapping
  * maintainers are mutually excluded BY CONSTRUCTION, not by
  * detection. A generation is staged into a writer-tagged hidden dir
  * (`.g<N>-stage-<tag>`), renamed whole into the equally writer-tagged
  * `g<N>-<tag>` (tag-unique — renames can never contend), and
  * committed by ONE claim of `_gen/<N>`, whose content names the
  * winning dir. Generation numbers are strictly sequential
  * (`N = live + 1`, derived from the claim log, never from dirs), so
  * that single claim is simultaneously the mutual-exclusion point
  * (two maintainers that derived from the same live generation race
  * for the same claim name — exactly one can ever win) and the
  * staleness pin (a maintainer whose source generation moved finds
  * its claim already taken and aborts loudly, its own dir discarded,
  * the live index untouched). Readers resolve the max claim ONCE and
  * read both dirs from the dir it names, so a probe racing a rebuild
  * always pairs vectors with the centroids that assigned them. Each
  * publish keeps the previously-committed generation as read grace
  * (a probe that resolved just before the swap still completes) and
  * reclaims older ones; a crash before the claim leaves an orphan
  * dir that readers never see (no claim names it), consumes NO
  * generation number, and a later publish sweeps it.
  *
  * APPEND vs REBUILD concurrency: [[append]] is the normal ingestion
  * path and may run beside a scheduled [[rebuild]] without losing
  * data. Rebuild pins its training input to an explicit FILE SNAPSHOT
  * of the live generation, then before publishing re-lists and folds
  * any files an overlapping append landed after the snapshot into the
  * new generation (assigned under the NEW centroids); a `_SOURCE`
  * manifest in each rebuilt generation records exactly which source
  * files were incorporated, and both a post-publish sweep and the
  * START of the next rebuild fold in stragglers that appended to the
  * grace generation after the cutover. The one residual window: an
  * append that resolved its generation and then stayed in flight
  * across an ENTIRE subsequent rebuild cycle can still lose its wave
  * when that generation is reclaimed two publishes later — appends
  * should complete within one rebuild period (minutes vs. the
  * scheduled-maintenance cadence). */
object IvfIndex {

  private def hp(p: String) = new org.apache.hadoop.fs.Path(p)

  private def fsOf(s: SparkSession, path: String) =
    hp(path).getFileSystem(s.sessionState.newHadoopConf())

  /** Immutable per-version state on the driver: a generation's
    * centroids, a PQ sidecar version's codebooks, a tombstone version's
    * events and a label-stats version's counts, so repeated probes of
    * an unchanged version skip re-reading them, plus the read of each
    * served cell-partitioned dir (`vectors`, `pqcodes-<n>`,
    * `sq8codes-<n>`, see [[scanOf]]). One slot per (index, kind) holds
    * the version served last: its dir, that dir's listing fingerprint
    * ([[Tables.listingFingerprint]], or the leaf listing's for a read)
    * and the state. Every probe checks both against what resolution
    * (claim log, markers) names: a rebuild, refresh or publish names a
    * new dir, and a dir re-written at the same path lists new part
    * files, so either replaces the slot. Superseded versions are never
    * kept. A read belongs to the session that made it; a probe from
    * another session replaces the slot. */
  private[graft] val versionMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, Long, AnyRef)]()

  private def memoized[T <: AnyRef](s: SparkSession, root: String,
      kind: String, dir: String)(load: => T): T =
    memoizedAt(s, root, kind, dir,
      Tables.listingFingerprint(fsOf(s, dir), hp(dir)))(load)

  private def memoizedAt[T <: AnyRef](s: SparkSession, root: String,
      kind: String, dir: String, fp: Long)(load: => T): T = {
    // a generation dir `g<N>-<tag>` shares its index's slot
    val index = hp(root).getName match {
      case TaggedGenName(_) => hp(root).getParent.toString
      case _ => root
    }
    def ours(v: AnyRef) = v match {
      case df: org.apache.spark.sql.Dataset[_] => df.sparkSession eq s
      case _ => true
    }
    versionMemo.get((index, kind)) match {
      case (`dir`, `fp`, v) if ours(v) => v.asInstanceOf[T]
      case _ =>
        val v = load
        versionMemo.put((index, kind), (dir, fp, v))
        v
    }
  }

  /** The read of a cell-partitioned dir under `root` and the data files
    * it lists now ([[listVectorFiles]]'s form). The read is a memo
    * slot keyed by the fingerprint of that leaf listing, so a probe of
    * an unchanged dir pays neither Spark's re-listing nor its
    * schema-inference job, while a synced wave, an append or a dir
    * re-written at its path lists other files and gets a new read. */
  private def scanOf(s: SparkSession, root: String, kind: String,
      dir: String): (DataFrame, Set[String]) = {
    val fs = fsOf(s, dir)
    val leaves =
      if (fs.exists(hp(dir))) Tables.dataFiles(fs, hp(dir)).toSeq else Nil
    (memoizedAt(s, root, kind, dir, Tables.fingerprint(leaves))(
      s.read.parquet(dir)), leaves.map(_.getPath.toString).toSet)
  }

  /** A generation's centroids, (cell, centroid) per cell. */
  private def centroids(s: SparkSession,
      root: String): Array[(Int, Array[Double])] =
    memoized(s, root, "centroids", s"$root/centroids") {
      s.read.parquet(s"$root/centroids").collect().map(r =>
        r.getAs[Int]("cell") ->
          r.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    }

  /** The `nprobe` cells whose centroids are nearest `probeU` (a unit
    * probe): max dot, ties to the lower cell. */
  private def nearestCells(s: SparkSession, root: String,
      probeU: Array[Double], nprobe: Int): Seq[Int] =
    centroids(s, root).toSeq
      .map { case (i, c) => (c.zip(probeU).map { case (a, b) => a * b }.sum, i) }
      .sortBy { case (sim, i) => (-sim, i) }.take(nprobe).map(_._2)

  private def unit(probe: Array[Double]): Array[Double] = {
    val n = math.sqrt(probe.map(x => x * x).sum)
    if (n > 0) probe.map(_ / n) else probe
  }

  /** A tombstone version's (vec_id, tomb_v) events, normalized. A
    * takedown frame's `vec_id` keeps its caller's type, so it is cast
    * here; a null id hides nothing and is dropped. */
  private def tombEvents(s: SparkSession, root: String,
      dir: String): Array[(Long, Long)] =
    memoized(s, root, "tombs", dir) {
      readTombstones(s, dir)
        .select(col("vec_id").cast("long"), col("tomb_v").cast("long"))
        .collect().collect { case r if !r.isNullAt(0) =>
          (r.getLong(0), r.getLong(1)) }
    }

  /** Whether a row of a read of a whole vectors dir is held in `files`
    * (listed paths): a predicate on `_metadata.file_path`, which Spark
    * applies to the file listing before any file is opened when it
    * stands alone. The column holds URI-encoded paths (a space reads
    * `%20`), so each listed path is encoded the same way. */
  private def inFiles(files: Set[String]): Column =
    col("_metadata.file_path")
      .isin(files.toSeq.sorted.map(f => hp(f).toUri.toString): _*)

  private val TaggedGenName = "g(\\d+)-[0-9a-f]+".r
  private val StageName = "\\.g(\\d+)-stage-.*".r

  private def claimsDir(indexPath: String) = hp(s"$indexPath/_gen")

  /** Parse a claim file name to its generation number. */
  private def claimGen(name: String): Option[Long] =
    if (name.forall(_.isDigit) && name.nonEmpty) Some(name.toLong) else None

  /** List the claim log: (gen → claimed dir name). A claim is
    * published AFTER its dir's rename completes, so every listed claim
    * names a complete generation dir (reclamation deletes a claim
    * BEFORE its dir, preserving the invariant from the other side). A
    * claim reclaimed between listStatus and the read is skipped (the
    * generation is gone), and so is an empty one: a claim is written
    * content first and never reads empty, but resolving one would
    * point a reader at `$indexPath/` itself. */
  private def listClaims(fs: org.apache.hadoop.fs.FileSystem,
      indexPath: String): Map[Long, String] = {
    val d = claimsDir(indexPath)
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).iterator
      .filter(_.isFile)
      .flatMap(st => claimGen(st.getPath.getName).flatMap(g =>
        MetaFiles.readText(fs, st.getPath).map(_.trim).filter(_.nonEmpty)
          .map(g -> _)))
      .toMap
  }

  /** Resolve the live generation ONCE: (gen, root dir) of the max
    * claim. None = no generation committed yet. */
  private def resolveLive(s: SparkSession,
      indexPath: String): Option[(Long, String)] = {
    val fs = fsOf(s, indexPath)
    if (!fs.exists(hp(indexPath))) return None
    val claims = listClaims(fs, indexPath)
    if (claims.isEmpty) None
    else {
      val g = claims.keys.max
      Some(g -> s"$indexPath/${claims(g)}")
    }
  }

  /** Max committed generation, or None before the first build. */
  private[graft] def committedGen(s: SparkSession,
      indexPath: String): Option[Long] =
    resolveLive(s, indexPath).map(_._1)

  /** The dir holding the CURRENT consistent (vectors, centroids) pair:
    * the max committed generation, or the index path itself (which
    * holds neither) before the first build. Resolve once per operation
    * — both reads must come from the same resolution or a racing
    * rebuild can mix generations. */
  private[graft] def layoutRoot(s: SparkSession, indexPath: String): String =
    resolveLive(s, indexPath).fold(indexPath)(_._2)

  /** Commit a fully-staged generation `gen` BY CONSTRUCTION: rename
    * the writer-tagged staging into the equally writer-tagged final
    * dir (tag-unique — never contended), then claim `_gen/<gen>`
    * naming it ([[MetaFiles.putIfAbsent]]). The claim is the single
    * commit point: of two maintainers that both derived from
    * generation `gen − 1`, exactly one claim can succeed — mutual
    * exclusion AND staleness detection in one atomic op (a maintainer
    * whose source moved targets an already-claimed number). The loser
    * deletes its own dir and fails loudly; the winner's files are
    * never touched. An I/O error at the claim propagates; like a crash
    * between rename and claim, it leaves an orphan dir no reader
    * resolves, consumes no generation number, and a later publish
    * sweeps it. After the claim: reclaim generations older
    * than the grace (previous live) generation and stale stagings
    * BELOW `gen`. */
  private def publishGen(s: SparkSession, indexPath: String, gen: Long,
      stage: org.apache.hadoop.fs.Path): Unit = {
    val fs = fsOf(s, indexPath)
    // `.g<gen>-stage-<tag>` → `g<gen>-<tag>`
    val tag = stage.getName.substring(stage.getName.lastIndexOf('-') + 1)
    val destName = s"g$gen-$tag"
    val dest = hp(s"$indexPath/$destName")
    if (!fs.rename(stage, dest))
      throw new IllegalStateException(
        s"ivf publish: rename of ${stage.getName} to $destName failed " +
          s"under $indexPath — staging left in place for inspection")
    val claim = new org.apache.hadoop.fs.Path(claimsDir(indexPath),
      gen.toString)
    // the commit point; an I/O error propagates with the dir in place
    val claimed = MetaFiles.putIfAbsent(fs, claim,
      destName.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (!claimed) {
      fs.delete(dest, true)
      throw new IllegalStateException(
        s"ivf publish lost the race for generation $gen of $indexPath " +
          "— another maintainer committed this generation first (or " +
          "the source generation moved since this rebuild snapshotted " +
          "it); this writer's staging was discarded and the live index " +
          "is untouched")
    }
    // staleness backstop: a rebuild stale by 2+ generations can find
    // its target claim number already RECLAIMED (publishGen deletes
    // claims < gen − 1) and win the claim for a long-dead number —
    // resolveLive (max claim) would never serve it, a silently lost
    // rebuild. The claim is still the atomic point; this check only
    // turns that silent loss into the loud abort the
    // commit-by-construction contract promises.
    val maxClaim = listClaims(fs, indexPath).keys.foldLeft(gen)(math.max)
    if (maxClaim > gen) {
      fs.delete(claim, false)
      fs.delete(dest, true)
      throw new IllegalStateException(
        s"ivf publish: generation $gen of $indexPath is stale — " +
          s"generation $maxClaim is already committed (this rebuild's " +
          "source moved two or more generations since it snapshotted); " +
          "its claim and staging were discarded and the live index is " +
          "untouched")
    }
    // reclamation: keep `gen` and the previous generation (read grace
    // for in-flight probes); claims are deleted BEFORE their dirs so
    // no claim ever names a missing dir. Only generations strictly
    // BELOW `gen` are touched — dirs at or above it may belong to a
    // live maintainer racing for the next claim (its own claim
    // attempt decides its fate; reclamation must never).
    val grace = gen - 1
    val claims = listClaims(fs, indexPath)
    // RESCUE before reclaim: a MARKED sync wave in a dying generation
    // that no successor ever incorporated would be silently lost with
    // the dir — breaking the `_lakesync` mark's exactly-once promise
    // (the mark survives, so the version is never re-synced). The
    // shape is a wave whose mark landed AFTER the successor's last
    // straggler sweep listed the dir (the double-cutover race the
    // single-maintainer contract used to paper over). Every fold
    // records what it incorporated in the successor's `_SOURCE`, so
    // "was it carried" is decidable here: fold forward (into the
    // generation this publish just claimed, under its frozen
    // centroids — an [[append]], safe on a committed dir) every
    // lsync-tagged file that is listed, not incorporated, and MARKED.
    // Unmarked waves stay owned by the sync protocol (its recovery
    // redoes them from the lake — deleting them here is correct), and
    // untagged files are never rescued: a plain [[build]] writes no
    // `_SOURCE` by design (it re-derives from the corpus), so rescuing
    // untagged vectors past one would duplicate the whole corpus.
    // Steady state cost: zero — dirs die only when `_SOURCE` already
    // accounts for their waves, so the rescue set is empty.
    val newRootDir = s"$indexPath/${claims(gen)}"
    claims.toSeq.sortBy(_._1).foreach { case (g, dirName) =>
      if (g < grace) {
        val dyingVecDir = s"$indexPath/$dirName/vectors"
        if (fs.exists(hp(dyingVecDir))) {
          val incorporated = claims.get(g + 1)
            .flatMap(d => readSource(fs, hp(s"$indexPath/$d")))
            .filter(_._1 == dyingVecDir).map(_._2)
            .getOrElse(Set.empty[String])
          val listed = listVectorFiles(fs, dyingVecDir) -- incorporated
          val tagged = listed.filter(f =>
            LsyncFileName.pattern.matcher(
              f.substring(f.lastIndexOf('/') + 1)).matches())
          val rescue = tagged -- unmarkedLsyncFiles(fs, indexPath, tagged)
          if (rescue.nonEmpty) {
            foldIn(s, dyingVecDir, rescue,
              s.read.parquet(s"$newRootDir/centroids"),
              s"$newRootDir/vectors")
            // carry the dying root's LAKE-VERSIONED tombstone events
            // with the wave — idempotent under the versioned
            // semantics (an event for an already-compacted row hides
            // nothing; post-images keep wave_v ≥ tomb_v). MaxValue
            // direct-takedown events stay behind: their rows were
            // compacted by the successor rebuild, and re-publishing
            // them would re-block lawful future re-inserts.
            readTombstoneDir(fs, s"$indexPath/$dirName").foreach { d =>
              val versioned = readTombstones(s, d)
                .filter(col("tomb_v") =!= Long.MaxValue)
              if (!versioned.isEmpty)
                unionPublishTombstones(s, newRootDir, versioned)
            }
          }
        }
        fs.delete(new org.apache.hadoop.fs.Path(claimsDir(indexPath),
          g.toString), false)
        fs.delete(hp(s"$indexPath/$dirName"), true)
      }
    }
    fs.listStatus(hp(indexPath)).foreach { st =>
      val drop = st.getPath.getName match {
        // orphan generation dirs (a claim loser's leavings, a crash
        // between rename and claim) strictly below this generation;
        // the claimed dirs of `gen` and `grace` are kept by number
        case TaggedGenName(n) => n.toLong < grace
        // stale stagings below `gen` are crash leftovers; stagings
        // at or above it may belong to a live maintainer whose own
        // claim attempt will decide its fate
        case StageName(n) => n.toLong < gen
        case _ => false
      }
      if (drop) fs.delete(st.getPath, true)
    }
  }

  /** Every data file currently under a vectors dir (qualified path
    * strings, `_`/`.`-prefixed bookkeeping skipped) — the snapshot
    * unit the rebuild/append race detection diffs on. An in-flight
    * Spark write's `_temporary` attempt dirs hold files already named
    * `part-*`; the walk never descends into them, so a snapshot/diff
    * never admits a half-written footer or counts a wave twice. Walks
    * `listStatus`, not `listFiles`, which starts a shell process per
    * file on a local file system ([[Tables.dataFiles]]). */
  private[graft] def listVectorFiles(fs: org.apache.hadoop.fs.FileSystem,
      vecDir: String): Set[String] = {
    val p = hp(vecDir)
    if (!fs.exists(p)) Set.empty
    else Tables.dataFiles(fs, p).map(_.getPath.toString).toSet
  }

  /** Read EXACTLY the given files of a cell-partitioned vectors dir
    * (basePath keeps the `cell` partition column derivable), projected
    * to the corpus schema — the pinned-snapshot read that makes
    * fold-in diffs exact: a file is either in the snapshot (read once)
    * or in a later diff (folded once), never both. */
  private def readVectorFiles(s: SparkSession, vecDir: String,
      files: Iterable[String]): DataFrame = {
    val df = s.read
      .option("basePath", vecDir)
      .parquet(files.toSeq.sorted: _*)
    // carry the ingest-version column through folds and rebuilds (its
    // absence — a pre-versioning file or index — reads as a base row,
    // −1, predating every lake version); rewriting it keeps the
    // layout's wave_v uniform across generations
    val wv =
      if (df.columns.contains("wave_v")) coalesce(col("wave_v"), lit(-1L))
      else lit(-1L)
    df.select(col("vec_id"), col("label"), col("embedding"),
      wv.as("wave_v"))
  }

  /** Assign `files` (vectors that landed in `srcVecDir` outside a
    * rebuild's snapshot) under `centsDf` and append them into
    * `destVecDir` — the fold-in step of the append/rebuild protocol. */
  private def foldIn(s: SparkSession, srcVecDir: String,
      files: Set[String], centsDf: DataFrame, destVecDir: String): Unit =
    if (files.nonEmpty)
      assignCells(readVectorFiles(s, srcVecDir, files), centsDf)
        .write.mode("append").partitionBy("cell").parquet(destVecDir)

  /** `_SOURCE` manifest inside a rebuilt generation: which source
    * vectors dir it was trained from and exactly which of its files
    * were incorporated — the next rebuild diffs the source's CURRENT
    * listing against this to fold in stragglers that appended to the
    * grace generation after the cutover. */
  private def writeSource(fs: org.apache.hadoop.fs.FileSystem,
      genDir: org.apache.hadoop.fs.Path, srcVecDir: String,
      files: Set[String]): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(genDir, "_SOURCE"), true)
    try out.write(
      (s"src $srcVecDir" +: files.toSeq.sorted.map("f " + _))
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readSource(fs: org.apache.hadoop.fs.FileSystem,
      genDir: org.apache.hadoop.fs.Path): Option[(String, Set[String])] = {
    MetaFiles.readText(fs, new org.apache.hadoop.fs.Path(genDir, "_SOURCE"))
      .flatMap { text =>
        val lines = text.linesIterator.toSeq
        lines.collectFirst { case l if l.startsWith("src ") => l.drop(4) }
          .map(_ -> lines.collect { case l if l.startsWith("f ") => l.drop(2) }
            .toSet)
      }
  }

  private val LsyncFileName = "lsync-([0-9a-f]+)-v(\\d+)-.*".r

  /** Files belonging to an IN-FLIGHT or CRASHED sync wave: lsync-tagged
    * data files whose `_lakesync/<srcTag>-<v>` mark is absent at the
    * index root. The sync protocol OWNS these — its recovery sweeps and
    * redoes the wave — so every fold that carries vectors between
    * generations (rebuild's snapshot and diff rounds, the straggler
    * sweep) must SKIP them: folding a partial wave would duplicate it
    * against the redo, and folding a complete-but-unmarked wave races
    * the mark. Marked waves fold like any other vectors. This is the
    * sync/rebuild arbitration BY CONSTRUCTION: the mark file is the
    * commit point on both sides. */
  private def unmarkedLsyncFiles(fs: org.apache.hadoop.fs.FileSystem,
      indexPath: String, files: Set[String]): Set[String] = {
    val tagged = files.filter(f =>
      LsyncFileName.pattern.matcher(
        f.substring(f.lastIndexOf('/') + 1)).matches())
    if (tagged.isEmpty) Set.empty
    else {
      val markDir = hp(s"$indexPath/_lakesync")
      val marks: Set[String] =
        if (!fs.exists(markDir)) Set.empty
        else fs.listStatus(markDir).iterator
          .filter(_.isFile).map(_.getPath.getName).toSet
      tagged.filter { f =>
        f.substring(f.lastIndexOf('/') + 1) match {
          case LsyncFileName(tag, v) => !marks.contains(s"$tag-$v")
          case _ => false
        }
      }
    }
  }

  /** Fold into the LIVE generation any files appended to its SOURCE
    * (grace) generation after the previous rebuild's final sweep —
    * the backstop that runs at the start of every rebuild AND every
    * sync pass, BEFORE the grace generation can be reclaimed by a
    * publish. This is also how a sync wave that completed just after a
    * rebuild's cutover reaches the new generation (its files landed in
    * what is now the grace dir). Assignment uses the live generation's
    * own frozen centroids (exactly an [[append]] of those vectors), so
    * it is safe on a committed generation. Unmarked sync-wave files
    * are skipped, NOT incorporated — their own sync's recovery or a
    * later marked state decides their fate
    * ([[unmarkedLsyncFiles]]). */
  private def sweepSourceStragglers(s: SparkSession,
      indexPath: String): Unit = {
    val fs = fsOf(s, indexPath)
    val live = layoutRoot(s, indexPath)
    readSource(fs, hp(live)).foreach { case (srcVecDir, incorporated) =>
      if (srcVecDir != s"$live/vectors" && fs.exists(hp(srcVecDir))) {
        val listed = listVectorFiles(fs, srcVecDir) -- incorporated
        val extras = listed -- unmarkedLsyncFiles(fs, indexPath, listed)
        if (extras.nonEmpty) {
          foldIn(s, srcVecDir, extras,
            s.read.parquet(s"$live/centroids"), s"$live/vectors")
          writeSource(fs, hp(live), srcVecDir, incorporated ++ extras)
        }
      }
    }
  }

  /** Nearest-centroid assignment whose PLAN SIZE is independent of K:
    * the model rides in as DATA (one broadcast row holding the packed
    * centroid array), never as K×dim literal expression nodes. The
    * literal form is fine at K=16 but production ANN wants cells ~√N
    * (thousands) × wide embeddings — millions of literal nodes, a
    * codegen/plan-size blowup. Here the argmax is a higher-order
    * `transform` + `array_max` over the broadcast array — map-side
    * only (a 1-row broadcast nested-loop join, no shuffle), with the
    * same tie-break as the literal form (array_max on (sim, cell)
    * structs: max sim, then max cell — position-independent, so the
    * packed array's order cannot matter). `centsDf` must be
    * (cell: Int, centroid: array<double>) — K rows of model state. */
  private[graft] def assignCells(vectors: DataFrame,
      centsDf: DataFrame): DataFrame = {
    val packed = broadcast(centsDf.agg(
      collect_list(struct(col("cell"), col("centroid"))).as("cents")))
    vectors.crossJoin(packed)
      .withColumn("cell",
        array_max(transform(col("cents"), c =>
          struct(
            VectorFunctions.dot(col("embedding"), c.getField("centroid"))
              .as("sim"),
            c.getField("cell").as("cell")))).getField("cell"))
      .drop("cents")
  }

  private def newStage(indexPath: String, gen: Long) =
    hp(s"$indexPath/.g$gen-stage-" +
      java.util.UUID.randomUUID().toString.take(8))

  /** Train centroids from the CORPUS TABLE and write the
    * cell-partitioned index as a fresh committed generation (staged +
    * atomic publish — see the object doc). Build re-derives from the
    * corpus, so waves [[append]]ed to a previous generation are
    * intentionally not carried — [[rebuild]] is the wave-preserving
    * retrain. */
  def build(s: SparkSession, dir: String, indexPath: String,
      cells: Int = Similarity.IvfCells,
      iters: Int = Similarity.IvfIters): Unit = {
    VectorFunctions.register(s)
    import s.implicits._
    val cents = Similarity.ivfCentroids(s, dir, cells, iters)
    val centsDf = cents.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
    val fs = fsOf(s, indexPath)
    // strictly sequential: one past the LIVE generation (claims are
    // the only number authority — orphan dirs consume nothing)
    val gen = resolveLive(s, indexPath).fold(0L)(_._1 + 1L)
    val stage = newStage(indexPath, gen)
    assignCells(Tables.load(s, dir, "embeddings")
        .withColumn("wave_v", lit(-1L)), centsDf)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$stage/vectors")
    centsDf
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/centroids")
    publishGen(s, indexPath, gen, stage)
  }

  /** INCREMENTAL maintenance: assign a batch of new vectors to the
    * nearest of the index's EXISTING centroids and append them
    * cell-partitioned — O(batch) per ingest wave, no retrain, no
    * rewrite of resident cells (parquet partition dirs append). The
    * growing-corpus shape: ANN serving cannot afford a full rebuild
    * per wave at 100 TB. Centroids are FROZEN, so assignment is
    * deterministic (append-then-probe equals assign-everything-at-
    * build with the same model, spec-pinned); as the data distribution
    * drifts the cell balance degrades gracefully — probes stay exact
    * within scanned cells, recall erodes only as drift moves true
    * neighbours outside nprobe cells — until a periodic [[rebuild]]
    * re-trains, the IVF analogue of compaction. Appends may run beside
    * a scheduled rebuild: the rebuild's snapshot-diff fold-in (see the
    * object doc) carries a concurrently-appended wave into the new
    * generation, so a completed append is never lost to the cutover.
    * `vectors` must carry the corpus schema (vec_id, label,
    * embedding). */
  def append(s: SparkSession, indexPath: String, vectors: DataFrame): Unit = {
    VectorFunctions.register(s)
    // one resolution for both the model read and the vector write: the
    // wave must land in the SAME generation whose frozen centroids
    // assigned it (mutating a committed generation is safe exactly
    // because assignment under its own frozen model stays consistent)
    val root = layoutRoot(s, indexPath)
    val wv =
      if (vectors.columns.contains("wave_v")) vectors
      else vectors.withColumn("wave_v", lit(-1L))
    assignCells(wv, s.read.parquet(s"$root/centroids"))
      .write.mode("append").partitionBy("cell")
      .parquet(s"$root/vectors")
  }

  /** REPLAY-SAFE ingest from a LAKE table — the production composition
    * (stream → lake with manifest provenance → the index pulls),
    * closing the one hazard direct [[append]] carries: a crashed and
    * replayed streaming wave re-delivered to `append` would duplicate
    * vectors, but a replayed wave never creates a second LAKE version
    * (the lake's (checkpoint, batchId) provenance skips it —
    * [[graft.sources.LakeLayout.lakeHasCommit]]), and this sync
    * ingests each lake version EXACTLY ONCE, measured at the serving
    * surface. Per unsynced version, the change feed's insert rows are
    * assigned under the live generation's frozen centroids, staged,
    * MOVED file-by-file into the cell dirs under version-tagged names
    * (`lsync-<srcTag>-v<N>-…`), and only then marked synced (a file
    * `_lakesync/<srcTag>-<N>` at the INDEX ROOT, so marks survive
    * generation cutovers). Crash recovery is idempotent: a version
    * with no mark first sweeps its tagged files, then redoes the whole
    * wave — a crash between move and mark can never double-serve.
    * DELETE and UPDATE change rows fold into the tombstone sidecar as
    * versioned events (full-set publish, idempotent under redo) — the
    * lake's takedown OR correction reaches every serving path on the
    * next probe (an update's post-image rides the same version's wave
    * and serves in place of the hidden pre-image; a re-insert after a
    * delete serves from its own later version), and the next
    * [[rebuild]] compacts the hidden rows physically. Only ids taken
    * down directly via [[tombstoneIds]] reject re-insertion until a
    * rebuild. Contract mirrors [[rebuild]]:
    * single sync maintainer per (lake, index) pair, and a crashed
    * sync's recovery must run before the next rebuild cutover.
    * Returns the number of lake versions ingested this pass. */
  def syncFromLake(s: SparkSession, lakePath: String,
      indexPath: String): Long =
    syncFromLakeImpl(s, lakePath, indexPath, _ => ())

  /** [[syncFromLake]] with a test seam: `afterMark` fires after each
    * version's mark write, before the post-mark cutover verification —
    * the widest point of the sync/rebuild reclamation race. */
  private[graft] def syncFromLakeImpl(s: SparkSession, lakePath: String,
      indexPath: String, afterMark: Long => Unit): Long = {
    VectorFunctions.register(s)
    // fold any MARKED wave a previous pass left stranded in the grace
    // generation (a rebuild cutover landed between that wave's moves
    // and now) — one listing + a diff when quiet, the same backstop
    // rebuild and maintainIvf run first
    sweepSourceStragglers(s, indexPath)
    val startGen = committedGen(s, indexPath)
    val root = layoutRoot(s, indexPath)
    val fs = fsOf(s, indexPath)
    val markDir = hp(s"$indexPath/_lakesync")
    val srcTag = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(lakePath).toLong
        & 0xffffffffL)
    // the mark NAME keys on a 32-bit path hash; the BODY carries the
    // full source path — verify it, so two lakes whose hashes collide
    // fail loudly instead of silently counting each other's versions
    // as synced (data never served)
    val synced: Set[Long] =
      if (!fs.exists(markDir)) Set.empty
      else fs.listStatus(markDir).iterator
        .filter(st => st.isFile &&
          st.getPath.getName.startsWith(s"$srcTag-"))
        .flatMap { st =>
          val v = st.getPath.getName.drop(srcTag.length + 1)
          if (v.isEmpty || !v.forall(_.isDigit)) None
          else {
            MetaFiles.readText(fs, st.getPath).getOrElse("").linesIterator
              .collectFirst { case l if l.startsWith("src ") => l.drop(4) }
              .foreach(src => require(src == lakePath,
                s"syncFromLake: mark ${st.getPath.getName} under " +
                  s"$indexPath records source '$src', not '$lakePath' — " +
                  s"two lake paths collide on tag $srcTag; give this " +
                  "index a dedicated path per source lake"))
            Some(v.toLong)
          }
        }
        .toSet
    val versions = graft.sources.LakeLayout.lakeVersions(s, lakePath)
      .filterNot(synced).sorted
    if (versions.isEmpty) return 0L
    versions.foreach { v =>
      val prefix = s"lsync-$srcTag-v$v-"
      var attempts = 0
      var committed = false
      while (!committed) {
      attempts += 1
      require(attempts <= 5,
        s"syncFromLake: version $v of $lakePath kept losing its " +
          "generation to concurrent rebuild cutovers (5 attempts) — " +
          "quiesce rebuilds during sync or slow their cadence")
      // re-resolve the LIVE generation PER VERSION (and per redo): a
      // cutover during an earlier version must not leave later waves
      // writing into a dead — or mkdirs-resurrected ghost — root
      val genAtStart = committedGen(s, indexPath)
      val root = layoutRoot(s, indexPath)
      val centsDf = s.read.parquet(s"$root/centroids")
      val vecsDir = hp(s"$root/vectors")
      // crash recovery: an UNMARKED partial wave is swept before redo
      if (fs.exists(vecsDir))
        Tables.dataFiles(fs, vecsDir)
          .filter(_.getPath.getName.startsWith(prefix))
          .foreach(st => fs.delete(st.getPath, false))
      val ch = graft.streaming.CdfStream
        .changesForVersion(s, lakePath, v, "vec_id")
      // DELETE and UPDATE changes fold into the tombstone sidecar as
      // VERSIONED events (vec_id, tomb_v = v) — full-set publish,
      // idempotent under crash-redo, so it can precede the mark like
      // the file moves do. An update's post-image rides this same
      // version's wave with wave_v = v, so the event hides exactly the
      // OLDER rows of the id (wave_v < v) and the correction serves on
      // the next probe; a delete has no post-image, and a later lake
      // re-insert lands at a later version — above the event — and
      // serves immediately. Publishing the events BEFORE the wave
      // moves means a probe mid-sync sees the delete-half applied
      // first (the id briefly absent), never two rows of one id. Only
      // an id taken down DIRECTLY ([[tombstoneIds]], tomb_v =
      // MaxValue) rejects re-insertion: no lake version rises above
      // MaxValue, so admitting the row would store data that never
      // serves.
      val tombs = ch.filter(col("_change").isin("delete", "update"))
        .select(col("vec_id"), lit(v).as("tomb_v"))
      val wave = ch.filter(col("_change").isin("insert", "update"))
        .select(col("vec_id"), col("label"), col("embedding"))
        .withColumn("wave_v", lit(v))
      readTombstoneDir(fs, root).foreach { dir =>
        val perma = readTombstones(s, dir)
          .filter(col("tomb_v") === Long.MaxValue)
          .select(col("vec_id"))
        require(wave.join(broadcast(perma), Seq("vec_id"), "left_semi")
            .isEmpty,
          s"syncFromLake: version $v of $lakePath re-inserts vec_ids " +
            "taken down directly (tombstoneIds) — rebuild the index " +
            "to compact its tombstones before re-inserting them")
      }
      if (!tombs.isEmpty)
        unionPublishTombstones(s, root, tombs)
      val stage = hp(s"$indexPath/.lsync-stage-$srcTag-v$v")
      fs.delete(stage, true)
      // one file per cell: every wave file is a tail file each
      // compressed probe opens until the next sidecar refresh
      assignCells(wave, centsDf)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(stage.toString)
      // move wave files into the live cell dirs under tagged names —
      // deterministic per (source, version), so recovery can target
      // exactly this wave's files
      fs.listStatus(stage)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("cell="))
        .foreach { cd =>
          val destDir = new org.apache.hadoop.fs.Path(vecsDir,
            cd.getPath.getName)
          fs.mkdirs(destDir)
          fs.listStatus(cd.getPath)
            .filter(f => f.isFile &&
              !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith("."))
            .foreach { f =>
              val dest = new org.apache.hadoop.fs.Path(destDir,
                prefix + f.getPath.getName)
              if (!fs.rename(f.getPath, dest))
                throw new IllegalStateException(
                  s"syncFromLake: move of ${f.getPath} to $dest failed")
            }
        }
      fs.delete(stage, true)
      // the mark is the commit point — written only after every file
      // of the wave is in place, content first (a redo replaces it)
      MetaFiles.replace(fs, new org.apache.hadoop.fs.Path(markDir, s"$srcTag-$v"),
        s"src $lakePath\nv $v\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      afterMark(v)
      // post-mark arbitration: a cutover DURING this version can have
      // reclaimed the generation the wave landed in before any sweep
      // saw the mark — and a written mark means nothing would ever
      // redo it. Filenames die at folds but `wave_v` rides the data,
      // so verify by CONTENT: fold marked stragglers forward, carry
      // tombstones, then count this wave's rows under the CURRENT
      // live root; a short count = the wave died with its dir —
      // unmark and redo against the new generation.
      if (committedGen(s, indexPath) == genAtStart) committed = true
      else {
        sweepSourceStragglers(s, indexPath)
        val newRoot = layoutRoot(s, indexPath)
        if (newRoot != root)
          readTombstoneDir(fs, root).foreach { d =>
            if (fs.exists(hp(d)))
              unionPublishTombstones(s, newRoot, readTombstones(s, d))
          }
        val expected = wave.count()
        val landedDf = s.read.option("mergeSchema", "true")
          .parquet(s"$newRoot/vectors")
        val landed =
          if (!landedDf.columns.contains("wave_v")) 0L
          else landedDf.filter(col("wave_v") === v)
            .join(broadcast(wave.select(col("vec_id"))), Seq("vec_id"),
              "left_semi")
            .count()
        if (landed == expected) committed = true
        else fs.delete(
          new org.apache.hadoop.fs.Path(markDir, s"$srcTag-$v"), false)
      }
      }
    }
    // a rebuild cutover DURING this pass leaves this pass's work in
    // the now-grace generation (the cutover's own fold rounds carry
    // only waves marked before they listed — unmarked ones are
    // deliberately skipped, [[unmarkedLsyncFiles]]): fold the marked
    // waves forward immediately instead of waiting for the next
    // maintenance pass, and re-publish the grace tombstone set onto
    // the new live root — idempotent, since a tombstone for a row the
    // rebuild already compacted away is a no-op at serving.
    if (committedGen(s, indexPath) != startGen) {
      sweepSourceStragglers(s, indexPath)
      val newRoot = layoutRoot(s, indexPath)
      if (newRoot != root)
        readTombstoneDir(fs, root).foreach { d =>
          if (fs.exists(hp(d)))
            unionPublishTombstones(s, newRoot, readTombstones(s, d))
        }
    }
    versions.size.toLong
  }

  /** DRIFT OBSERVABILITY — the measured trigger for the periodic
    * retrain ([[rebuild]]), so maintenance runs on imbalance, not
    * cadence. One row of index health, all bounded by K or one
    * distributed pass:
    *  - occupancy stats (min/max/mean/p50/p90, empty cells) and
    *    `occupancy_skew` = max/mean — detects HOT CELLS: an append
    *    wave the frozen model funnels into few cells makes probe costs
    *    lopsided (a probe hitting the hot cell scans far more than
    *    nprobe/cells of the corpus);
    *  - `mean_centroid_sim` — average cosine of each vector to its
    *    cell's centroid, the model-FIT signal: drift moves it down
    *    (appended vectors live far from every frozen centroid, so
    *    recall erodes — true neighbours fall outside nprobe cells),
    *    and a retrain moves it back up. Occupancy alone cannot see a
    *    wave that lands in one cell BECAUSE the model has no better
    *    centroid for it; the fit metric does.
    *  - `pq_fit` / `pq_tail_frac` — QUANTIZATION health when a PQ
    *    sidecar is committed (0 otherwise): mean cosine between each
    *    CODED vector's unit form and its codebook reconstruction (the
    *    measurable that degrades when append waves drift away from
    *    the frozen, corpus-global codebooks — ADC ranking quality
    *    tracks it), and the fraction of vectors serving from the raw
    *    uncompacted tail (each tail row pays float-scan cost on every
    *    ADC probe). Both feed [[maintainIvf]]'s measured sidecar
    *    refresh, the same policy template as the centroid retrain.
    * The (cell → count) frame is ≤ K rows — the same bounded model
    * state [[probeTopK]] collects. */
  def describeIvf(s: SparkSession, indexPath: String): DataFrame = {
    VectorFunctions.register(s)
    import s.implicits._
    // a just-created, empty, or partially-built index reports a
    // zero-health row — an observability call must never abort the
    // maintenance pass. An EMPTY layout has no parquet files at all
    // (partitionBy of an empty frame writes no partition dirs), so the
    // reads themselves can fail schema inference — treat that as zero.
    def tryRead(path: String) =
      try Some(s.read.parquet(path))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val root = layoutRoot(s, indexPath)
    val centsOpt = tryRead(s"$root/centroids")
    val vecsOpt = tryRead(s"$root/vectors")
    val k = centsOpt.fold(0L)(_.count()).toInt
    val occ = vecsOpt.fold(Map.empty[Int, Long])(
      _.groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap)
    val counts =
      if (k == 0) IndexedSeq(0L)
      else (0 until k).map(c => occ.getOrElse(c, 0L)).sorted
    val nVec = counts.sum
    val meanOcc = nVec.toDouble / math.max(1, k)
    def pct(p: Double): Long =
      counts(math.max(0, math.min(counts.size - 1, (p * k).toInt)))
    val meanSim =
      if (k == 0 || nVec == 0L) 0.0
      else Option(vecsOpt.get
        .join(broadcast(centsOpt.get), "cell")
        .agg(avg(VectorFunctions.cosine(col("embedding"), col("centroid"))))
        .head().get(0)).fold(0.0)(_.asInstanceOf[Double])
    // quantization health: codebook fit over a DETERMINISTIC HASH
    // SAMPLE of the current corpus (`xxhash64(vec_id) % mod = 0`; full
    // scan below PqFitFullScanFloor rows so tiny corpora keep full
    // signal) — each sampled vector is encoded ON
    // THE FLY under the committed codebooks (same deterministic
    // assignment that produced the stored codes, so coded rows score
    // identically) and compared to its reconstruction; tail vectors
    // the sidecar never saw are exactly the rows that drag the average
    // down when an append wave drifts away from the frozen codebooks.
    // A maintenance TICK must not scan the corpus at 100 TB — the
    // sample keeps the pass O(corpus/mod), stays deterministic across
    // ticks (hash, not RNG), and `pq_fit_sample` pins the row count so
    // drift in the metric is attributable. Tail drift is visible at
    // any mod: the hash is uniform over vec_ids, so a drifted wave
    // lands in the sample at its corpus-wide rate.
    val fs = fsOf(s, root)
    val pq = readCodes(fs, root, Pq)
    val (pqFit, pqFitSample) = (pq, vecsOpt) match {
      case (Some(side), Some(vecs)) if nVec > 0 =>
        val cb = Pq.model(s, root, side.dirs.tail)
        val (m, d) = (cb.length, cb(0)(0).length)
        val recon = flatten(transform(
          ProductQuant.codesCol(m, d), (c, j) =>
            element_at(element_at(col("books"), j + lit(1)),
              c + lit(1)).getField("cvec")))
        val mod = if (nVec < PqFitFullScanFloor) 1L else PqFitSampleMod
        val row = ProductQuant.withUnit(
            vecs.select(col("vec_id"), col("embedding"))
              .filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0))
          .crossJoin(broadcast(ProductQuant.packedBooks(s, cb)))
          .agg(avg(VectorFunctions.cosine(col("u"), recon)),
            count(lit(1)))
          .head()
        (Option(row.get(0)).fold(0.0)(_.asInstanceOf[Double]),
          row.getLong(1))
      case _ => (0.0, 0L)
    }
    // a codes tier's tail: rows appended after its snapshot (parquet
    // footer counts — no data pages open), each paying float-scan cost
    // on every probe of the tier. SQ8 has no fit metric by
    // construction — with no model there is nothing to drift — so its
    // tail fraction is the tier's whole health story, and a fleet
    // dashboard reading only this row sees it.
    def tailFrac(side: Option[SidecarMarker]): Double = side.fold(0.0) { m =>
      val tailFiles = listVectorFiles(fs, s"$root/vectors") -- m.files
      if (tailFiles.isEmpty || nVec == 0L) 0.0
      else vecsOpt.fold(0L)(_.filter(inFiles(tailFiles)).count())
        .toDouble / nVec
    }
    val pqTail = tailFrac(pq)
    val sq8Tail = tailFrac(readCodes(fs, root, Sq8))
    // tombstone fraction: committed deletes still physically resident
    // (served-around by the anti-join) as a share of the corpus — the
    // measured trigger for a compacting retrain, next to the tails
    val tombFrac = readTombstoneDir(fs, root) match {
      case None => 0.0
      case Some(dir) =>
        if (nVec == 0L) 0.0
        else tryRead(dir).fold(0.0)(_.count().toDouble / nVec)
    }
    Seq((k.toLong, nVec, counts.count(_ == 0L).toLong,
      counts.head, counts.last, meanOcc, pct(0.5), pct(0.9),
      if (meanOcc > 0) counts.last / meanOcc else 0.0, meanSim,
      pqFit, pqTail, pqFitSample, sq8Tail, tombFrac))
      .toDF("n_cells", "n_vectors", "empty_cells", "min_occupancy",
        "max_occupancy", "mean_occupancy", "p50_occupancy",
        "p90_occupancy", "occupancy_skew", "mean_centroid_sim",
        "pq_fit", "pq_tail_frac", "pq_fit_sample", "sq8_tail_frac",
        "tomb_frac")
  }

  /** Hash-sample modulus for the `pq_fit` maintenance metric: 1-in-8
    * of the corpus per tick (deterministic — the same vectors every
    * tick, so the metric moves only when the data does). Below
    * [[PqFitFullScanFloor]] vectors the pass stays a full scan: a
    * sample of a tiny corpus is noisier than it is cheap. */
  val PqFitSampleMod = 8L
  val PqFitFullScanFloor = 1024L

  /** RETRAIN as a new generation — the IVF analogue of compaction,
    * scheduled when [[describeIvf]]'s drift metrics say so. Trains
    * fresh centroids on the index's CURRENT vectors (original corpus +
    * every appended wave — unlike [[build]], which only sees the
    * corpus table), re-assigns everything into generation N+1, and
    * publishes it with one atomic marker create. Probes NEVER need
    * draining: a racing reader resolved either generation N (still on
    * disk as grace until the NEXT publish) or N+1, each an internally
    * consistent (vectors, centroids) pair; a racing [[append]] is
    * carried by the snapshot-diff fold-in (object doc). A crash before
    * the publish leaves the live generation untouched and an invisible
    * writer-tagged staging dir a later publish sweeps. Rebuild stays
    * single-writer by contract — a lost publish race discards only the
    * loser's own staging and fails loudly. */
  def rebuild(s: SparkSession, indexPath: String,
      cells: Int = Similarity.IvfCells,
      iters: Int = Similarity.IvfIters): Unit =
    rebuildImpl(s, indexPath, cells, iters, () => ())

  /** [[rebuild]] with a test seam (`afterStage` fires after the new
    * generation is staged but before the fold-in diff — the widest
    * point of the append/rebuild race window). */
  private[graft] def rebuildImpl(s: SparkSession, indexPath: String,
      cells: Int, iters: Int, afterStage: () => Unit): Unit = {
    VectorFunctions.register(s)
    import s.implicits._
    val fs = fsOf(s, indexPath)
    // backstop first: fold grace-generation stragglers into the live
    // generation BEFORE this rebuild snapshots it (and before this
    // rebuild's publish reclaims the grace dir they live in)
    sweepSourceStragglers(s, indexPath)
    // resolve the source generation ONCE and pin the publish to it:
    // the target number is source + 1, so an overlapping rebuild that
    // commits first takes the claim and OUR publish fails loudly at
    // its one atomic create instead of shadowing the newer generation
    val liveRes = resolveLive(s, indexPath)
    val srcGen = liveRes.map(_._1)
    val live = liveRes.fold(indexPath)(_._2)
    val liveVecDir = s"$live/vectors"
    val gen = srcGen.fold(0L)(_ + 1L)
    val stage = newStage(indexPath, gen)
    // pin training to an explicit file snapshot: everything in `snap`
    // is incorporated by the train+assign read below; everything a
    // concurrent append lands after it shows up as a listing diff and
    // is folded in exactly once
    // every listing this rebuild folds from skips IN-FLIGHT sync waves
    // (lsync-tagged files with no mark): their own sync's recovery owns
    // them — folding a partial wave here would duplicate it against
    // the redo ([[unmarkedLsyncFiles]])
    def listFoldable(): Set[String] = {
      val l = listVectorFiles(fs, liveVecDir)
      l -- unmarkedLsyncFiles(fs, indexPath, l)
    }
    var snap = listFoldable()
    require(snap.nonEmpty,
      s"rebuild: $indexPath has no vectors to retrain on")
    // COMPACTION of deletes and superseded pre-images: the retrain
    // neither trains on nor carries a HIDDEN vector — drop rows whose
    // id has a tombstone event postdating their wave (the serving
    // predicate, broadcast; bounded by events-between-retrains) from
    // the training snapshot AND every fold-in wave. Current rows —
    // update post-images, re-inserts after a delete — carry over. The
    // new generation is published with NO tombstone sidecar: the
    // hidden rows become physical absences at the cutover.
    val tombDirAtStart = readTombstoneDir(fs, live)
    val liveTombs = tombDirAtStart
      .map(d => broadcast(readTombstones(s, d)
        .select($"vec_id".as("__t_id"), $"tomb_v".as("__t_v"))))
    def dropTombs(df: DataFrame): DataFrame =
      liveTombs.fold(df)(t => df.join(t,
        df("vec_id") === col("__t_id") &&
          coalesce(df("wave_v"), lit(-1L)) < col("__t_v"),
        "left_anti"))
    val vecs = dropTombs(readVectorFiles(s, liveVecDir, snap))
    val cents = Similarity.trainIvfCentroidsFrom(s,
      vecs.select($"vec_id", $"embedding"), cells, iters)
    val centsDf = cents.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
    assignCells(vecs, centsDf)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$stage/vectors")
    centsDf.coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/centroids")
    afterStage()
    // fold in waves an overlapping append landed since the snapshot —
    // re-diff until quiet so a publish never drops a completed append
    var attempts = 0
    var fresh = listFoldable() -- snap
    while (fresh.nonEmpty && attempts < 5) {
      assignCells(dropTombs(readVectorFiles(s, liveVecDir, fresh)), centsDf)
        .write.mode("append").partitionBy("cell")
        .parquet(s"$stage/vectors")
      snap ++= fresh
      attempts += 1
      fresh = listFoldable() -- snap
    }
    if (fresh.nonEmpty) {
      fs.delete(stage, true)
      throw new IllegalStateException(
        s"rebuild of $indexPath: appends are landing faster than " +
          s"fold-in can absorb them ($attempts rounds) — quiesce the " +
          "append path during rebuild; staging discarded, live index " +
          "untouched")
    }
    writeSource(fs, stage, liveVecDir, snap)
    stageTombstoneDelta(s, live, stage, tombDirAtStart)
    publishGen(s, indexPath, gen, stage)
    // post-publish sweep: an append that resolved the OLD generation
    // just before the claim landed may have written after the final
    // pre-publish diff; appending to the now-committed generation
    // under its frozen centroids is safe, so fold those in too (the
    // next rebuild's start-of-run sweep is the backstop for anything
    // still in flight). Resolve the just-claimed dir from the log.
    val newRoot = s"$indexPath/${listClaims(fs, indexPath)(gen)}"
    val late = listFoldable() -- snap
    if (late.nonEmpty) {
      assignCells(dropTombs(readVectorFiles(s, liveVecDir, late)), centsDf)
        .write.mode("append").partitionBy("cell")
        .parquet(s"$newRoot/vectors")
      writeSource(fs, hp(newRoot), liveVecDir, snap ++ late)
    }
    carryTombstoneDelta(s, live, newRoot, tombDirAtStart)
  }

  /** Close the in-staging sync window: a sync that ran ENTIRELY inside
    * a rebuild/compaction's staging window published its tombstone
    * events to the OLD root AFTER the maintainer read them — the
    * cutover would discard those events while the sync's mark prevents
    * any re-sync, silently resurrecting the deleted rows at the
    * serving surface (the maintainer folded the wave's rows but never
    * saw its events, and the sync observed no cutover, so its own
    * re-publish never fires). After the publish, re-read the old
    * root's committed events and carry the DELTA — events beyond the
    * set the maintainer compacted against — onto the new generation's
    * sidecar. Versioned events are idempotent (a carried event for a
    * row the maintainer already dropped hides nothing), and a MaxValue
    * direct takedown that landed mid-staging still has its rows
    * resident in the new generation, so carrying it hides them exactly
    * as intended. Each tombstone publish creates a NEW versioned dir,
    * so "same dir" = nothing new — the common case costs one marker
    * read. If the start dir was itself reclaimed mid-staging (two+
    * tombstone publishes inside one staging window), the whole current
    * set carries — over-carrying is safe: superfluous versioned events
    * are serving no-ops, and a re-carried MaxValue event at worst
    * rejects a re-insert loudly until the next compaction. Syncs still
    * in flight ACROSS the publish are covered from their own side (the
    * post-mark and end-of-pass cutover checks re-publish onto the new
    * root); this delta covers the ones that COMPLETED before it. */
  private def carryTombstoneDelta(s: SparkSession, oldRoot: String,
      newRoot: String, dirAtStart: Option[String]): Unit = {
    val fs = fsOf(s, oldRoot)
    readTombstoneDir(fs, oldRoot).foreach { nowDir =>
      if (!dirAtStart.contains(nowDir)) {
        val now = readTombstones(s, nowDir)
        val delta = dirAtStart
          .filter(d => fs.exists(hp(d)))
          .map(d => now.except(readTombstones(s, d)))
          .getOrElse(now)
        val cur = readTombstoneDir(fs, newRoot)
          .map(nd => readTombstones(s, nd))
        // events the staged pre-publish carry already moved (or a
        // cutover-aware sync already re-published) are not pending
        val pending = cur.map(c => delta.except(c)).getOrElse(delta)
        if (!pending.isEmpty)
          unionPublishTombstones(s, newRoot, delta)
      }
    }
  }

  /** The crash-safe HALF of the mid-staging carry: just before the
    * claim create, re-read the old root's events and write any delta
    * (vs the set the maintainer compacted against) INTO THE STAGING
    * DIR — the atomic rename+claim then publishes vectors and carried
    * events together, so a maintainer crash right after the claim
    * cannot strand the events in the dying grace root. The remaining
    * exposure is an event landing between THIS read and the claim
    * create (microseconds, vs the whole staging window) — covered by
    * [[carryTombstoneDelta]] post-publish when the maintainer
    * survives, and by the sync's own post-mark cutover check when the
    * cutover precedes its mark; losing an event outright needs the
    * event in that gap AND a maintainer crash before the post-publish
    * carry AND the sync's mark written before the claim — the same
    * three-independent-failures class as the reclamation sliver
    * (SCALE.md round-20 residual #2). */
  private def stageTombstoneDelta(s: SparkSession, oldRoot: String,
      stage: org.apache.hadoop.fs.Path,
      dirAtStart: Option[String]): Unit = {
    val fs = fsOf(s, oldRoot)
    readTombstoneDir(fs, oldRoot).foreach { nowDir =>
      if (!dirAtStart.contains(nowDir)) {
        val now = readTombstones(s, nowDir)
        val delta = dirAtStart
          .filter(d => fs.exists(hp(d)))
          .map(d => now.except(readTombstones(s, d)))
          .getOrElse(now)
        if (!delta.isEmpty)
          unionPublishTombstones(s, stage.toString, delta)
      }
    }
  }

  /** Distributed raw byte copy of (src, dst) file pairs — the
    * untouched-file fast path of [[compactTombstones]]: no parquet
    * decode/encode, one stream per file, parallelized over the
    * executors. Hadoop's Configuration is not Serializable, so the
    * resolved entries ship as a plain map and each partition rebuilds
    * one Configuration from them. */
  private def copyFilesDistributed(s: SparkSession,
      pairs: Seq[(String, String)]): Unit = {
    if (pairs.isEmpty) return
    val confMap: Map[String, String] = {
      val c = s.sessionState.newHadoopConf()
      val b = Map.newBuilder[String, String]
      val it = c.iterator()
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    s.sparkContext
      .parallelize(pairs, math.max(1,
        math.min(pairs.size, s.sparkContext.defaultParallelism)))
      .foreachPartition { it: Iterator[(String, String)] =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confMap.foreach { case (k, v) => conf.set(k, v) }
        it.foreach { case (src, dst) =>
          val sp = new org.apache.hadoop.fs.Path(src)
          val dp = new org.apache.hadoop.fs.Path(dst)
          val sfs = sp.getFileSystem(conf)
          val dfs = dp.getFileSystem(conf)
          dfs.mkdirs(dp.getParent)
          org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp,
            false, true, conf)
        }
      }
  }

  /** Scheme-independent path form, for comparing a listing's qualified
    * paths against `input_file_name()`'s (file:/a vs file:///a). */
  private def pathKey(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** COMPACT tombstoned rows physically WITHOUT a retrain — the cheap
    * middle ground between serving-with-anti-join and a full
    * [[rebuild]]. A tombstoned index pays an anti-join broadcast plus
    * (on compressed tiers) tombstone-slack shortlist slots on EVERY
    * probe until something makes the hidden rows physical; rebuild does
    * that but at the price of k-means retraining (iters × corpus
    * passes) and a full re-encode of every sidecar. Compaction keeps
    * the FROZEN centroids — rows keep their cells, so there is no
    * assignment and no shuffle anywhere:
    *
    *  - ONE column-pruned pass over (vec_id, wave_v) finds the files
    *    that actually hold a hidden row (`wave_v < tomb_v` for some
    *    event — the serving predicate);
    *  - only THOSE files decode, drop their hidden rows, and rewrite
    *    (a map-only columnar write under the carried `cell` column);
    *  - every untouched file BYTE-COPIES into the new generation under
    *    its existing name — no decode, no encode, raw stream speed
    *    (for a clustered takedown, almost the whole corpus takes this
    *    path; lsync-tagged names survive the copy, and their marks
    *    live at the index root, so the sync protocol's bookkeeping is
    *    untouched);
    *  - committed PQ/SQ8 sidecars CARRY instead of retraining:
    *    codebooks did not move, so codes of undisturbed ids are kept
    *    as-is and only event-touched ids plus rows the old sidecar
    *    never encoded (its raw tail, this compaction's fold-ins)
    *    re-encode — O(events + tail) encode work, never O(corpus);
    *  - the cutover is the SAME staged-dir + claim publish
    *    as rebuild (fold-in diff rounds for racing appends, `_SOURCE`
    *    manifest, grace generation, loud lost-race), and the new
    *    generation publishes with NO tombstone sidecar — including
    *    direct MaxValue takedowns, whose ids become re-insertable
    *    again exactly as after a rebuild.
    *
    * Returns false (and leaves the index untouched) when the live
    * generation carries no tombstones. [[maintainIvf]] prefers this
    * over rebuild when ONLY `tomb_frac` crossed its threshold (skew
    * and fit healthy — the model is fine, the rows are just dead). */
  def compactTombstones(s: SparkSession, indexPath: String): Boolean =
    compactTombstonesImpl(s, indexPath, () => ())

  /** [[compactTombstones]] with a test seam (`afterStage` fires after
    * the compacted generation is staged but before the fold-in diff —
    * the widest point of the append/compaction race window). */
  private[graft] def compactTombstonesImpl(s: SparkSession,
      indexPath: String, afterStage: () => Unit): Boolean = {
    VectorFunctions.register(s)
    import s.implicits._
    val fs = fsOf(s, indexPath)
    sweepSourceStragglers(s, indexPath)
    val liveRes = resolveLive(s, indexPath)
    val srcGen = liveRes.map(_._1)
    val live = liveRes.fold(indexPath)(_._2)
    val liveVecDir = s"$live/vectors"
    val tombDir = readTombstoneDir(fs, live)
    if (tombDir.isEmpty) return false
    val events = broadcast(readTombstones(s, tombDir.get)
      .select($"vec_id".as("__t_id"), $"tomb_v".as("__t_v")))
    def dropTombs(df: DataFrame): DataFrame =
      df.join(events, df("vec_id") === col("__t_id") &&
        coalesce(df("wave_v"), lit(-1L)) < col("__t_v"), "left_anti")
    // read a pinned file set keeping the partition-derived `cell`
    // column (cells stay valid — the centroids are frozen)
    def readWithCell(files: Iterable[String]): DataFrame = {
      val df = s.read.option("basePath", liveVecDir)
        .parquet(files.toSeq.sorted: _*)
      val wv =
        if (df.columns.contains("wave_v")) coalesce(col("wave_v"), lit(-1L))
        else lit(-1L)
      df.select(col("vec_id"), col("label"), col("embedding"),
        wv.as("wave_v"), col("cell"))
    }
    def listFoldable(): Set[String] = {
      val l = listVectorFiles(fs, liveVecDir)
      l -- unmarkedLsyncFiles(fs, indexPath, l)
    }
    var snap = listFoldable()
    if (snap.isEmpty) return false
    val gen = srcGen.fold(0L)(_ + 1L)
    val stage = newStage(indexPath, gen)
    // ONE column-pruned pass finds the files holding a hidden row
    val touchedKeys = readWithCell(snap)
      .select($"vec_id", $"wave_v", input_file_name().as("__f"))
      .join(events,
        $"vec_id" === col("__t_id") && $"wave_v" < col("__t_v"),
        "left_semi")
      .select($"__f").distinct()
      .collect().map(r => pathKey(r.getString(0))).toSet
    val (touched, untouched) =
      snap.partition(f => touchedKeys.contains(pathKey(f)))
    if (touched.nonEmpty)
      dropTombs(readWithCell(touched))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$stage/vectors")
    else fs.mkdirs(hp(s"$stage/vectors"))
    val liveKey = pathKey(liveVecDir)
    copyFilesDistributed(s, untouched.toSeq.sorted.map { f =>
      val rel = pathKey(f).stripPrefix(liveKey).stripPrefix("/")
      (f, s"$stage/vectors/$rel")
    })
    // the frozen model carries over value-identical — no retrain
    s.read.parquet(s"$live/centroids").coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/centroids")
    afterStage()
    // fold in waves a racing append landed since the snapshot: their
    // cells were assigned under the SAME frozen centroids, so the fold
    // keeps them as-is (no reassignment), dropping hidden rows like
    // rebuild does
    def foldCompacted(files: Set[String], destVecDir: String): Unit =
      if (files.nonEmpty)
        dropTombs(readWithCell(files))
          .write.mode("append").partitionBy("cell").parquet(destVecDir)
    var attempts = 0
    var fresh = listFoldable() -- snap
    while (fresh.nonEmpty && attempts < 5) {
      foldCompacted(fresh, s"$stage/vectors")
      snap ++= fresh
      attempts += 1
      fresh = listFoldable() -- snap
    }
    if (fresh.nonEmpty) {
      fs.delete(stage, true)
      throw new IllegalStateException(
        s"compactTombstones of $indexPath: appends are landing faster " +
          s"than fold-in can absorb them ($attempts rounds) — quiesce " +
          "the append path during compaction; staging discarded, live " +
          "index untouched")
    }
    writeSource(fs, stage, liveVecDir, snap)
    stageTombstoneDelta(s, live, stage, tombDir)
    // resolve the old generation's sidecars BEFORE the cutover — they
    // carry across it (the old dir stays on disk as read grace)
    val oldCodes =
      CodesTiers.flatMap(tier => readCodes(fs, live, tier).map(tier -> _))
    publishGen(s, indexPath, gen, stage)
    val newRoot = s"$indexPath/${listClaims(fs, indexPath)(gen)}"
    val late = listFoldable() -- snap
    if (late.nonEmpty) {
      foldCompacted(late, s"$newRoot/vectors")
      writeSource(fs, hp(newRoot), liveVecDir, snap ++ late)
    }
    // events a sync published to the OLD root while this compaction
    // was staging carry onto the new generation — see the doc on
    // [[carryTombstoneDelta]]
    carryTombstoneDelta(s, live, newRoot, tombDir)
    // the start-of-compaction dir can be RECLAIMED inside the staging
    // window (publishTombstones keeps only versions n and n−1) — the
    // same hazard stageTombstoneDelta/carryTombstoneDelta guard with
    // fs.exists. Fall back to the old root's CURRENT committed set: a
    // superset of the start events, and over-dropping codes only causes
    // extra re-encode under the frozen books — safe (r21, advisor
    // item: the unguarded read threw after the generation had already
    // published, shipping it without its PQ/SQ8 sidecar).
    val eventDir = tombDir.filter(d => fs.exists(hp(d)))
      .orElse(readTombstoneDir(fs, live))
    val eventIds = eventDir
      .map(d => readTombstones(s, d).select($"vec_id").distinct())
      .getOrElse(s.range(0).select($"id".as("vec_id")))
    if (listVectorFiles(fs, s"$newRoot/vectors").nonEmpty)
      oldCodes.foreach { case (tier, side) =>
        carryCodes(s, tier, live, side, newRoot, eventIds)
      }
    true
  }

  /** Split a compacted generation's rows into (carry, re-encode) for a
    * sidecar carry: rows of files whose RELATIVE name survived the
    * byte-copy were encoded by the old sidecar iff the old snapshot
    * listed them. Re-encode work is O(events + never-encoded tail) —
    * NOT O(rows of touched files): a surviving row of a REWRITTEN file
    * whose id is undisturbed already holds a valid code under the
    * frozen books, so it CARRIES; only (a) every surviving row of an
    * event-touched id (its old codes are dropped wholesale: with no
    * wave_v on a code row, an id's pre- and post-image codes are
    * indistinguishable) and (b) rows the old sidecar never encoded
    * (its raw tail, this compaction's fold-ins) re-encode. (r21,
    * advisor item: the pre-r21 split put every id of every unmatched
    * file into dropIds and re-encoded all their rows, so a scattered
    * takedown with one hidden row per file re-encoded essentially the
    * whole corpus.) The price is one narrow anti-join of the unmatched
    * rows against the old codes' id column — id longs, never
    * embeddings — which at 100 TB is a narrow-column shuffle vs an
    * m·ks·d-flop re-encode per touched row. The old codes of every
    * event-touched id are dropped; returns (rows to re-encode, the new
    * generation's encoded-file snapshot for the fresh marker). */
  private def splitSidecarCarry(s: SparkSession, newRoot: String,
      oldSnapshot: Set[String], eventIds: DataFrame, oldCodesDir: String)
      : (DataFrame, Set[String]) = {
    import s.implicits._
    val fs = fsOf(s, newRoot)
    val newVecDir = s"$newRoot/vectors"
    val newFiles = listVectorFiles(fs, newVecDir)
    val oldRels = oldSnapshot.map(f =>
      pathKey(f).substring(pathKey(f).lastIndexOf("/vectors/") + 9))
    val (matched, unmatched) = newFiles.partition { f =>
      val k = pathKey(f)
      oldRels.contains(k.substring(k.lastIndexOf("/vectors/") + 9))
    }
    def readFiles(files: Set[String]): DataFrame =
      if (files.isEmpty)
        s.read.option("basePath", newVecDir).parquet(newVecDir)
          .select(col("vec_id"), col("embedding"), col("cell"))
          .limit(0)
      else s.read.option("basePath", newVecDir)
        .parquet(files.toSeq.sorted: _*)
        .select(col("vec_id"), col("embedding"), col("cell"))
    val evb = broadcast(eventIds)
    val oldIds = s.read.parquet(oldCodesDir).select(col("vec_id"))
    val unmatchedRows = readFiles(unmatched)
    val reencode = readFiles(matched)
      .join(evb, Seq("vec_id"), "left_semi")
      .union(unmatchedRows.join(evb, Seq("vec_id"), "left_semi"))
      .union(unmatchedRows.join(evb, Seq("vec_id"), "left_anti")
        .join(oldIds, Seq("vec_id"), "left_anti"))
    (reencode, newFiles)
  }

  /** Carry `tier`'s committed version `side` of the old generation
    * (`oldRoot`) across a [[compactTombstones]] cutover: the model did
    * not move, so codes of undisturbed ids are kept byte-as-is and only
    * the [[splitSidecarCarry]] targets re-encode under the SAME model —
    * O(events + tail) encode work, recorded in the tier's
    * `lastCarry`. The model's dirs copy over, and a fresh version-0
    * marker under the new root pins the carried tier to the new
    * generation's file snapshot. */
  private def carryCodes(s: SparkSession, tier: CodesTier, oldRoot: String,
      side: SidecarMarker, newRoot: String, eventIds: DataFrame): Unit = {
    val fs = fsOf(s, newRoot)
    val (reencode, newFiles) =
      splitSidecarCarry(s, newRoot, side.files, eventIds, side.dirs.head)
    val model = tier.model(s, oldRoot, side.dirs.tail)
    val rels = tier.dirs(0L)
    val carried = s.read.parquet(side.dirs.head)
      .join(eventIds, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"), col(tier.codes))
    val fresh = tier.encode(s, model, ProductQuant.withUnit(reencode))
    // carry-vs-encode accounting rides the write as observed metrics
    // (zero extra jobs) — the O(events + tail) encode-work contract is
    // spec-checked against this, not trusted from the docstring
    val obs = org.apache.spark.sql.Observation(
      s"graft-carry-${java.util.UUID.randomUUID().toString.take(8)}")
    carried.withColumn("__fresh", lit(0L))
      .union(fresh.withColumn("__fresh", lit(1L)))
      .observe(obs, sum(col("__fresh")).as("fresh"),
        count(lit(1)).as("total"))
      .drop("__fresh")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$newRoot/${rels.head}")
    val freshN = Option(obs.get("fresh")).fold(0L)(_.asInstanceOf[Long])
    val totalN = Option(obs.get("total")).fold(0L)(_.asInstanceOf[Long])
    tier.lastCarry.set((totalN - freshN, freshN))
    side.dirs.tail.zip(rels.tail).foreach { case (from, to) =>
      s.read.parquet(from).coalesce(1).write.mode("overwrite")
        .parquet(s"$newRoot/$to")
    }
    publishCodesMarker(fs, newRoot, tier.kind, 0L, rels, newFiles,
      "compactTombstones")
  }

  // ------------------------------------------------ sidecar markers
  /** One committed version `n` of a generation's versioned sidecar
    * (`_pq`, `_sq8`, `_tomb`, `_lstats` under its root): the marker
    * file `<root>/<kind>/<n>`, published LAST, whose `d` line
    * names the version's dirs under the root and whose `f` lines (codes
    * and label stats) record the vector-file snapshot it covers.
    * `dirs` are resolved against the root. */
  private final case class SidecarMarker(n: Long, dirs: Seq[String],
      files: Set[String])

  private def markerDir(root: String, kind: String) = hp(s"$root/$kind")

  /** The committed version numbers of `kind` under `root`. */
  private def markerVersions(fs: org.apache.hadoop.fs.FileSystem,
      root: String, kind: String): Set[Long] = {
    val dir = markerDir(root, kind)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).iterator
      .flatMap(st => claimGen(st.getPath.getName)).toSet
  }

  /** Marker `n` of `kind`; None when absent. */
  private def readMarker(fs: org.apache.hadoop.fs.FileSystem, root: String,
      kind: String, n: Long): Option[SidecarMarker] = {
    MetaFiles.readText(fs,
        new org.apache.hadoop.fs.Path(markerDir(root, kind), n.toString))
      .flatMap { text =>
        val lines = text.linesIterator.toSeq
        lines.collectFirst { case l if l.startsWith("d ") =>
          SidecarMarker(n, l.drop(2).trim.split(" ").toSeq.map(d => s"$root/$d"),
            lines.collect { case f if f.startsWith("f ") => f.drop(2) }.toSet)
        }
      }
  }

  /** Resolve the committed version of `kind` ONCE: the max marker. */
  private def latestMarker(fs: org.apache.hadoop.fs.FileSystem,
      root: String, kind: String): Option[SidecarMarker] = {
    val versions = markerVersions(fs, root, kind)
    if (versions.isEmpty) None else readMarker(fs, root, kind, versions.max)
  }

  /** Publish marker `n` of `kind` naming `dirs` (relative to `root`)
    * and the covered `files` — the sidecar's commit point, through
    * [[MetaFiles.putIfAbsent]]. False when another writer holds `n`
    * (each kind decides what a lost race means); an I/O error
    * propagates. */
  private def createMarker(fs: org.apache.hadoop.fs.FileSystem,
      root: String, kind: String, n: Long, dirs: Seq[String],
      files: Set[String]): Boolean =
    MetaFiles.putIfAbsent(fs,
      new org.apache.hadoop.fs.Path(markerDir(root, kind), n.toString),
      (s"d ${dirs.mkString(" ")}" +: files.toSeq.sorted.map("f " + _))
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Reclaim the listed versions of `kind` below `grace`, each marker
    * BEFORE its dirs so no marker ever names a missing dir. */
  private def reclaimMarkers(fs: org.apache.hadoop.fs.FileSystem,
      root: String, kind: String, versions: Set[Long], grace: Long): Unit =
    versions.filter(_ < grace).foreach { v =>
      readMarker(fs, root, kind, v).foreach { m =>
        fs.delete(new org.apache.hadoop.fs.Path(markerDir(root, kind),
          v.toString), false)
        m.dirs.foreach(d => fs.delete(hp(d), true))
      }
    }

  /** The PQ/SQ8 commit: a lost marker race discards this version's
    * dirs and fails loudly — the codes sidecars are single-maintainer
    * by contract. */
  private def publishCodesMarker(fs: org.apache.hadoop.fs.FileSystem,
      root: String, kind: String, n: Long, dirs: Seq[String],
      files: Set[String], verb: String): Unit =
    if (!createMarker(fs, root, kind, n, dirs, files)) {
      dirs.foreach(d => fs.delete(hp(s"$root/$d"), true))
      throw new IllegalStateException(
        s"$verb lost the marker race for version $n under $root — the " +
          "sidecar is single-maintainer by contract; this version's " +
          "dirs were discarded")
    }

  /** What one [[maintainIvf]] pass saw and did. */
  final case class IvfMaintenanceReport(skew: Double, fit: Double,
      rebuilt: Boolean, pqFit: Double = 0.0, pqTail: Double = 0.0,
      sidecarRebuilt: Boolean = false, sq8Tail: Double = 0.0,
      sq8Rebuilt: Boolean = false, tombFrac: Double = 0.0,
      compacted: Boolean = false)

  /** ONE-CALL measured maintenance — the policy layer over
    * [[describeIvf]] + [[rebuild]] + [[compactTombstones]] +
    * [[buildPqSidecar]], mirroring the lake's `maintainLake`: retrain
    * exactly when the measured drift says so (`occupancy_skew` above
    * `maxSkew` — hot cells make probe costs lopsided — or
    * `mean_centroid_sim` below `minFit` — the frozen model no longer
    * represents the corpus and recall erodes), never on cadence; a
    * tombstone fraction above `maxTombFrac` with HEALTHY skew/fit
    * compacts instead (frozen centroids, carried sidecars — the rows
    * are dead, the model is not). The PQ sidecar follows the SAME
    * measured template: it refreshes when quantization fit (`pq_fit`,
    * reconstruction cosine) drops below `minPqFit` — append waves
    * from a new distribution degrade ADC ranking against the frozen
    * corpus-global codebooks — or when the raw uncompacted tail
    * exceeds `maxPqTail` of the corpus (each tail row pays float-scan
    * cost per probe); and a centroid retrain ALWAYS re-derives the
    * sidecar when the previous generation carried one (a new
    * generation starts bare — serving would silently fall back to
    * raw scans forever otherwise). An idle pass costs one K-row
    * aggregate and two corpus-pass averages; thresholds sit loose by
    * default so only genuine drift triggers the O(corpus) work. */
  def maintainIvf(s: SparkSession, indexPath: String,
      maxSkew: Double = 4.0, minFit: Double = 0.15,
      cells: Int = Similarity.IvfCells,
      iters: Int = Similarity.IvfIters,
      minPqFit: Double = 0.85, maxPqTail: Double = 0.25,
      maxTombFrac: Double = 0.25): IvfMaintenanceReport = {
    // fold grace-generation stragglers in FIRST (one listing + a diff
    // when quiet) so the health reading — and any triggered retrain —
    // sees every wave, including one stranded by a cutover race
    sweepSourceStragglers(s, indexPath)
    val root0 = layoutRoot(s, indexPath)
    val fs0 = fsOf(s, root0)
    val had = CodesTiers.map(tier => tier -> readCodes(fs0, root0, tier).isDefined)
      .toMap
    val d = describeIvf(s, indexPath).collect()(0)
    val skew = d.getAs[Double]("occupancy_skew")
    val fit = d.getAs[Double]("mean_centroid_sim")
    val pqFit = d.getAs[Double]("pq_fit")
    val pqTail = d.getAs[Double]("pq_tail_frac")
    val nVec = d.getAs[Long]("n_vectors")
    val any = nVec > 0
    // SQ8 tail comes from the health row (describeIvf measures it from
    // footer counts). No fit metric exists by construction: with no
    // codebook there is nothing to drift, so the tail fraction is the
    // ONLY refresh trigger besides a retrain
    val sq8Tail = d.getAs[Double]("sq8_tail_frac")
    // tombstones accumulate until something makes them physical: each
    // resident hidden row pays anti-join + (on compressed tiers) a
    // wasted shortlist slot per probe. When ONLY the tombstone
    // fraction crossed its threshold (skew and fit healthy — the
    // model is fine, the rows are just dead), [[compactTombstones]]
    // is the right tool: frozen centroids, untouched files byte-copy,
    // sidecars carry — no k-means passes, no sidecar re-encode. A
    // skew/fit trigger still retrains (which also compacts).
    val tombFrac = d.getAs[Double]("tomb_frac")
    val trigger = any && (skew > maxSkew || fit < minFit)
    val compactOnly = any && !trigger && tombFrac > maxTombFrac
    if (trigger) rebuild(s, indexPath, cells, iters)
    else if (compactOnly) compactTombstones(s, indexPath)
    // a retrain ALWAYS re-derives a tier the previous generation
    // carried (the new generation starts bare); compaction CARRIED the
    // tiers (absorbing their raw tails into the fresh encoded
    // snapshot), so otherwise only model drift (PQ's codebooks; SQ8
    // has none) or a raw tail paying float-scan cost on too many
    // probes re-derives a tier
    def refreshes(tier: CodesTier, drift: Boolean, tail: Double) =
      had(tier) && any &&
        (trigger || drift || (!compactOnly && tail > maxPqTail))
    val refresh = refreshes(Pq, pqFit < minPqFit, pqTail)
    if (refresh) buildPqSidecar(s, indexPath)
    val sq8Refresh = refreshes(Sq8, false, sq8Tail)
    if (sq8Refresh) buildSq8Sidecar(s, indexPath)
    IvfMaintenanceReport(skew, fit, trigger, pqFit, pqTail, refresh,
      sq8Tail, sq8Refresh, tombFrac, compactOnly)
  }

  /** Serve a top-k query from the persisted index: rank cells against
    * the probe on the driver (K rows of model state), then scan ONLY the
    * nprobe nearest cell partitions with exact cosine. `excludeId` drops
    * a known self-match (parity with [[Similarity.sIvfTopk]]).
    *
    * `where` is the FILTERED-ANN form ("nearest WHERE label = X" — the
    * metadata-predicate search every serving stack treats as
    * first-class): the predicate applies INSIDE the probed cells, so
    * the scan stays nprobe/cells of the corpus and the filter + pruned
    * projection reach the parquet reader together. Contract: recall is
    * relative to the probed cells — a selective filter thins survivors
    * per cell, so callers WIDEN nprobe as selectivity rises (the
    * standard filtered-ANN lever; the spec pins exact parity with the
    * brute-force filtered scan at a widened nprobe). */
  def probeTopK(s: SparkSession, indexPath: String, probe: Array[Double],
      k: Int = 10, nprobe: Int = Similarity.IvfProbes,
      excludeId: Option[Long] = None,
      where: Option[Column] = None): DataFrame = {
    VectorFunctions.register(s)
    import s.implicits._
    // one resolution pins the generation for BOTH the model collect
    // and the cell scan — a rebuild landing mid-probe cannot mix them
    val root = layoutRoot(s, indexPath)
    val probeCells = nearestCells(s, root, unit(probe), nprobe)
    val scanned = scanOf(s, root, "vectors", s"$root/vectors")._1
      .filter($"cell".isin(probeCells: _*))
    val kept0 = excludeId.fold(scanned)(id => scanned.filter($"vec_id" =!= id))
    exactTopK(antiTombstones(s, liveTombstones(s, root),
      where.fold(kept0)(kept0.filter)), probe, k)
  }

  /** Per-probe cell ranking over the packed 1-row broadcast model —
    * the shared front stage of every batch serving path. Returns one
    * row per (probe, probed cell): (probe_id, probe_emb, pcell), with
    * [[probeTopK]]'s exact tie-break (max sim, then min cell — the
    * struct sort on (-dot, cell) is position-independent; scaling by
    * the probe's norm cannot change a per-probe ordering, so the raw
    * dot ranks identically to cosine). */
  private def rankProbeCells(s: SparkSession, root: String,
      probes: DataFrame, nprobe: Int): DataFrame = {
    import s.implicits._
    val packed = broadcast(centroids(s, root).toSeq.toDF("cell", "centroid")
      .agg(collect_list(struct(col("cell"), col("centroid"))).as("cents")))
    probes
      .select($"probe_id", $"embedding".as("probe_emb"))
      .crossJoin(packed)
      .withColumn("pcell",
        explode(transform(
          slice(array_sort(transform($"cents", c =>
            struct(
              (-VectorFunctions.dot($"probe_emb", c.getField("centroid")))
                .as("negsim"),
              c.getField("cell").as("cell")))), 1, nprobe),
          s => s.getField("cell"))))
      .drop("cents")
  }

  /** The probed-cell union of [[rankProbeCells]]' rows, bounded by K —
    * collected so the scan carries a LITERAL partition filter (file
    * pruning at the index). */
  private def probedCells(ranked: DataFrame): Array[Int] =
    ranked.select(col("pcell")).distinct()
      .collect().map(_.getInt(0)).sorted

  /** The exact cosine top-k of `cand` against `probe`:
    * (vec_id, label, sim) by (sim desc, vec_id). */
  private def exactTopK(cand: DataFrame, probe: Array[Double],
      k: Int): DataFrame =
    cand
      .withColumn("sim",
        round(VectorFunctions.cosine(col("embedding"), typedLit(probe)), 3))
      .filter(!isnan(col("sim")) && col("sim").isNotNull)
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)

  /** The exact cosine top-k per probe of candidate rows carrying
    * (probe_id, vec_id, label, embedding, probe_emb):
    * (probe_id, vec_id, label, sim, rank) with `rank` 1..k by
    * (sim desc, vec_id); `excludeSelf` drops vec_id == probe_id hits.
    * Both vectors are shed before the per-probe ranking shuffle — the
    * window needs four narrow columns, not the embeddings that
    * produced `sim`. */
  private def exactTopKPerProbe(cand: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hits = cand
      .withColumn("sim",
        round(VectorFunctions.cosine(col("embedding"), col("probe_emb")), 3))
      .filter(!isnan(col("sim")) && col("sim").isNotNull)
    val kept = if (excludeSelf) hits.filter(col("vec_id") =!= col("probe_id"))
      else hits
    kept
      .select(col("probe_id"), col("vec_id"), col("label"), col("sim"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id"), col("label"), col("sim"),
        col("rank"))
  }

  /** BATCH serving from the persisted index — one distributed pass for
    * a whole frame of probes (the offline-inference shape: score a
    * query table against the corpus, not one vector at a time from the
    * driver). `probes` must carry (probe_id: long, embedding); returns
    * (probe_id, vec_id, label, sim, rank) with `rank` 1..k per probe.
    *
    * The plan keeps both IVF economies at batch scale:
    *  - cell RANKING rides the packed 1-row broadcast model (plan size
    *    independent of K, same argmax shape as [[assignCells]]), and
    *    per-probe tie-breaks match [[probeTopK]] exactly (max sim,
    *    then min cell — the struct sort is position-independent);
    *  - the vectors SCAN reads only the UNION of probed cells — the
    *    probed-cell set (≤ K values, collected like every other
    *    bounded model state) lands as a partition filter, so the scan
    *    cost is ~|cells probed|/K of the corpus, not the corpus;
    *  - the probe side (|probes| × nprobe rows) BROADCASTS onto the
    *    pruned scan — no shuffle of corpus vectors; the only shuffle
    *    is the per-probe top-k window over candidate hits. For probe
    *    batches too big to broadcast, shard the probe frame and union
    *    — each shard keeps this plan.
    * `excludeSelf` drops vec_id == probe_id hits (corpus-vs-itself
    * queries, parity with [[probeTopK]]'s excludeId).
    *
    * `where` is the FILTERED batch form: the predicate applies inside
    * the probed cells, reaching the pruned scan together with the
    * partition filter — recall contract identical to [[probeTopK]]'s
    * filtered form (widen nprobe as selectivity rises). */
  def probeTopKBatch(s: SparkSession, indexPath: String, probes: DataFrame,
      k: Int = 10, nprobe: Int = Similarity.IvfProbes,
      excludeSelf: Boolean = false,
      where: Option[Column] = None): DataFrame = {
    VectorFunctions.register(s)
    import s.implicits._
    // one resolution pins the generation for model, pruning, and scan
    val root = layoutRoot(s, indexPath)
    val ranked = rankProbeCells(s, root, probes, nprobe)
    val cellsNeeded = probedCells(ranked)
    val cand0 = scanOf(s, root, "vectors", s"$root/vectors")._1
      .filter($"cell".isin(cellsNeeded.map(Int.box).toSeq: _*))
    val cand = antiTombstones(s, liveTombstones(s, root),
      where.fold(cand0)(cand0.filter))
    exactTopKPerProbe(cand.join(broadcast(ranked), $"cell" === $"pcell"), k,
      excludeSelf)
  }

  /** BATCH serving from the COMPRESSED index — [[probeTopKBatch]]
    * composed with the PQ sidecar, the serving-fleet shape at 100 TB:
    * N probes in ONE job whose wide scan reads (vec_id, codes) only —
    * ~25× smaller than the float scan the raw batch path pays, on top
    * of the same probed-cell-union partition pruning. Stages
    * ([[probeCodesBatch]]):
    *  - cell ranking per probe over the packed 1-row broadcast model
    *    (shared with [[probeTopKBatch]] — exact [[probeTopK]]
    *    tie-breaks);
    *  - each probe computes its OWN ADC lookup table IN the plan
    *    ([[ProductQuant.lutCol]] over the one-row broadcast codebook —
    *    m·ks doubles per probe ride the broadcast probe side, plan
    *    size independent of m·ks);
    *  - ADC shortlist per probe over the pruned CODES scan (window
    *    top-`shortlist` with [[probeTopKAdc]]'s exact ordering), plus
    *    the raw uncompacted tail (files appended after the sidecar
    *    snapshot — always candidates, exact by file identity);
    *  - exact cosine re-ranks only shortlist ∪ tail per probe.
    * Exact per-probe parity with [[probeTopKAdc]] is spec-pinned
    * (IvfBatchProbeSpec's recipe); the codes scan's no-floats plan
    * assertion lives in IvfPqSidecarSpec's recipe.
    *
    * `where` is the FILTERED batch-compressed form — the serving-fleet
    * query (the reference's own KB search is a source-filtered
    * match_count search, `reference/archon-workflow.md:38-57`). Codes
    * carry no metadata, so the predicate applies at the EXACT re-rank,
    * whose float scan holds the metadata columns; the ADC shortlist is
    * computed over unfiltered codes and WIDENS ITSELF by the measured
    * survivor rate ([[widenedShortlist]] — one narrow scan of the
    * probed-cell union, shared across the batch), capped at
    * exhaustive. `shortlist` names the post-filter width the caller
    * wants, selectivity-independent. */
  def probeTopKBatchAdc(s: SparkSession, indexPath: String,
      probes: DataFrame, k: Int = 10,
      nprobe: Int = Similarity.IvfProbes,
      shortlist: Int = ProductQuant.RerankShortlist,
      excludeSelf: Boolean = false,
      where: Option[Column] = None): DataFrame =
    probeCodesBatch(s, Pq, "probeTopKBatchAdc", indexPath, probes, k,
      nprobe, shortlist, excludeSelf, where)

  // ------------------------------------------------------ codes tiers
  /** A compressed tier of the serving ladder (raw floats, SQ8 at 4×,
    * PQ at ~25×): the codes format and its approximate score, the one
    * decision the tiers differ in. Build, read, compaction carry,
    * single and batch probe, tail measurement and refresh rule are one
    * body over a tier. Version `n` persists under the generation root
    * as the dirs `<dirKinds(i)>-<n>` — the cell-partitioned
    * (vec_id, `codes`) rows, then the model's — named inside the marker
    * `<kind>/<n>`, which also records the vector-file snapshot the
    * codes encode; each dir kind is also its [[versionMemo]] kind.
    * `score` names the approximate-score column the shortlist orders
    * by. A tier without a model keeps the no-model defaults. */
  private[graft] sealed abstract class CodesTier(val kind: String,
      val dirKinds: Seq[String], val name: String, val builder: String,
      val codes: String, val score: String) {
    /** Driver-side state the codes are encoded and scored with. */
    type Model
    /** (codes carried byte-as-is, rows freshly encoded) by this tier's
      * last [[carryCodes]]. */
    val lastCarry =
      new java.util.concurrent.atomic.AtomicReference[(Long, Long)]((0L, 0L))
    def dirs(n: Long): Seq[String] = dirKinds.map(d => s"$d-$n")
    /** A committed version's model, read from its model dirs. */
    def model(s: SparkSession, root: String, modelDirs: Seq[String]): Model
    def writeModel(s: SparkSession, model: Model,
        modelDirs: Seq[String]): Unit = ()
    /** (vec_id, cell, codes) of rows carrying the unit vector `u`. */
    def encode(s: SparkSession, model: Model, uv: DataFrame): DataFrame
    /** A codes row's score against the unit probe `probeU`. */
    def probeScore(model: Model, probeU: Array[Double]): Column
    /** [[rankProbeCells]]' rows plus the state [[batchScore]] reads. */
    def withProbeState(s: SparkSession, model: Model,
        ranked: DataFrame): DataFrame = ranked
    /** A codes row's score against the probe row it joined. */
    def batchScore(model: Model): Column
  }

  /** PQ (IVFADC): `m` sub-codes per row against codebooks trained at
    * build ([[ProductQuant]]), scored by ADC over a per-probe lookup
    * table — a literal for one probe, an in-plan column per batch
    * probe. */
  private[graft] object Pq extends CodesTier("_pq",
      Seq("pqcodes", "pqbooks"), "PQ", "buildPqSidecar", "codes", "adc") {
    type Model = Array[Array[Array[Double]]]
    /** The version's codebooks, `cb(sub)(code)`. */
    def model(s: SparkSession, root: String,
        modelDirs: Seq[String]): Model =
      memoized(s, root, dirKinds(1), modelDirs.head) {
        val books = s.read.parquet(modelDirs.head).collect()
        val cb = Array.ofDim[Array[Double]](
          books.map(_.getAs[Int]("sub")).max + 1,
          books.map(_.getAs[Int]("code")).max + 1)
        books.foreach { r =>
          cb(r.getAs[Int]("sub"))(r.getAs[Int]("code")) =
            r.getAs[scala.collection.Seq[Double]]("cvec").toArray
        }
        cb
      }
    override def writeModel(s: SparkSession, cb: Model,
        modelDirs: Seq[String]): Unit = {
      import s.implicits._
      cb.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (c, i) => (j, i, c) }
      }.toSeq.toDF("sub", "code", "cvec")
        .coalesce(1)
        .write.mode("overwrite").parquet(modelDirs.head)
    }
    def encode(s: SparkSession, cb: Model, uv: DataFrame): DataFrame =
      uv.crossJoin(broadcast(ProductQuant.packedBooks(s, cb)))
        .withColumn(codes, ProductQuant.codesCol(cb.length, cb(0)(0).length))
        .select(col("vec_id"), col("cell"), col(codes))
    def probeScore(cb: Model, probeU: Array[Double]): Column =
      ProductQuant.adcScore(ProductQuant.lutFor(cb, probeU), cb.length,
        cb(0).length)
    // per-probe LUT as data: raw-probe dots against the broadcast
    // books folded into a flat m·ks column (unnormalized BY DESIGN —
    // see ProductQuant.lutCol: scaling by the probe's norm cannot
    // change a per-probe ordering, and the unit division inside the
    // per-entry lambda was the measured interpreted-HOF hot spot);
    // probes then broadcast WITH their LUTs
    override def withProbeState(s: SparkSession, cb: Model,
        ranked: DataFrame): DataFrame =
      ranked.crossJoin(broadcast(ProductQuant.packedBooks(s, cb)))
        .withColumn("lut", ProductQuant.lutCol(
          transform(col("probe_emb"), x => x.cast("double")), cb(0)(0).length))
        .drop("books")
    def batchScore(cb: Model): Column =
      ProductQuant.adcScoreWith(col("lut"), cb.length, cb(0).length)
  }

  /** SQ8: one signed byte per dimension of the unit vector and no
    * model, scored by one codegen'd dot of the byte codes against the
    * float probe ([[ScalarQuant.sq8Encode]], [[ScalarQuant.sq8Score]]). */
  private[graft] object Sq8 extends CodesTier("_sq8", Seq("sq8codes"),
      "SQ8", "buildSq8Sidecar", "q", "approx") {
    type Model = Unit
    def model(s: SparkSession, root: String, modelDirs: Seq[String]): Unit =
      ()
    def encode(s: SparkSession, model: Unit, uv: DataFrame): DataFrame =
      uv.withColumn(codes, ScalarQuant.sq8Encode(col("u")))
        .select(col("vec_id"), col("cell"), col(codes))
    def probeScore(model: Unit, probeU: Array[Double]): Column =
      ScalarQuant.sq8Score(typedLit(probeU))
    // scaling by 127 or the probe's norm cannot change a per-probe
    // ordering — skipped
    def batchScore(model: Unit): Column = ScalarQuant.sq8Dot(
      transform(col("probe_emb"), x => x.cast("double")))
  }

  private val CodesTiers: Seq[CodesTier] = Seq(Pq, Sq8)

  /** Resolve a tier's committed version ONCE: its marker, naming the
    * codes dir, then the model's dirs, and the encoded-file snapshot. */
  private def readCodes(fs: org.apache.hadoop.fs.FileSystem, root: String,
      tier: CodesTier): Option[SidecarMarker] =
    latestMarker(fs, root, tier.kind)

  /** [[readCodes]] for a probe named `verb`, failing loudly when no
    * version is committed. */
  private def servedCodes(s: SparkSession, root: String, tier: CodesTier,
      verb: String): SidecarMarker =
    readCodes(fsOf(s, root), root, tier).getOrElse(
      throw new IllegalStateException(
        s"$verb: no committed ${tier.name} sidecar under $root — run " +
          s"${tier.builder} first"))

  /** Encode a pinned file snapshot of the live generation as `tier`'s
    * next version, its model derived by `train` from the snapshot's
    * unit rows; the marker publishes LAST, versions below the grace
    * are reclaimed. */
  private def buildCodes(s: SparkSession, indexPath: String,
      tier: CodesTier)(train: DataFrame => tier.Model): Unit = {
    VectorFunctions.register(s)
    val root = layoutRoot(s, indexPath)
    val fs = fsOf(s, root)
    val files = listVectorFiles(fs, s"$root/vectors")
    require(files.nonEmpty, s"${tier.builder}: no vectors under $root")
    val prior = markerVersions(fs, root, tier.kind)
    val n = prior.foldLeft(-1L)(math.max) + 1L
    val rels = tier.dirs(n)
    val uv = ProductQuant.withUnit(s.read.option("basePath", s"$root/vectors")
      .parquet(files.toSeq.sorted: _*)
      .select(col("vec_id"), col("embedding"), col("cell")))
    val model = train(uv)
    tier.encode(s, model, uv)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/${rels.head}")
    tier.writeModel(s, model, rels.tail.map(r => s"$root/$r"))
    publishCodesMarker(fs, root, tier.kind, n, rels, files, tier.builder)
    reclaimMarkers(fs, root, tier.kind, prior, n - 1)
    // label stats over the same pinned snapshot: one narrow
    // (cell, label) aggregation at BUILD time so filtered probes skip
    // their per-query measuring scan while this file set serves —
    // whichever tier lands last pins the stats to ITS snapshot
    // (serving re-checks the live listing, so an older stats version
    // is just unused)
    buildLabelStats(s, root, files)
  }

  /** A single compressed probe of `tier`, for the entry `verb`: the
    * codes stage scans only (vec_id, codes) of the `nprobe` nearest
    * cells and collects its top `shortlist` ids (plus the tombstone
    * slack, widened under `where`) to the driver; exact cosine then
    * re-ranks one scan of the probed cells keeping those ids and every
    * row of the tail files (listed files not in the tier's snapshot),
    * after the `where` predicate and the tombstone anti-join — the one
    * stage whose scan carries the metadata columns. This equals
    * re-ranking the rows whose id is in shortlist ∪ tail ids except
    * where an id has rows both in the tail and outside it: a snapshot
    * row then serves only if shortlisted. [[syncFromLake]] tombstones
    * such a row (an update's pre-image), so only a duplicate id
    * [[append]]ed outside the sync can tell. */
  private def probeCodes(s: SparkSession, tier: CodesTier, verb: String,
      indexPath: String, probe: Array[Double], k: Int, nprobe: Int,
      shortlist: Int, excludeId: Option[Long],
      where: Option[Column]): DataFrame = {
    VectorFunctions.register(s)
    import s.implicits._
    // one resolution pins generation + sidecar + tail diff together
    val root = layoutRoot(s, indexPath)
    val side = servedCodes(s, root, tier, verb)
    val probeU = unit(probe)
    val probeCells = nearestCells(s, root, probeU, nprobe)
    val score = tier.probeScore(tier.model(s, root, side.dirs.tail), probeU)
    val (read, files) = scanOf(s, root, "vectors", s"$root/vectors")
    val tombs = liveTombstones(s, root)
    // measured widening: a predicate thins the exact re-rank's input,
    // so the unfiltered codes cut is widened by the measured survivor
    // rate (capped at exhaustive) — recall no longer rides a
    // caller-managed width
    val effShortlist = where.fold(shortlist)(p =>
      widenedShortlist(s, root, (read, files), probeCells, shortlist, p)) +
      tombs.length
    val codes = scanOf(s, root, tier.dirKinds.head, side.dirs.head)._1
      .filter($"cell".isin(probeCells: _*))
    val ids = excludeId.fold(codes)(id => codes.filter($"vec_id" =!= id))
      .withColumn(tier.score, score)
      .orderBy(col(tier.score).desc, $"vec_id").limit(effShortlist)
      .select($"vec_id").collect().map(_.get(0))
    val tail = files -- side.files
    val shortlisted = $"vec_id".isin(ids: _*)
    val scanned0 = read.filter($"cell".isin(probeCells: _*) &&
      (if (tail.isEmpty) shortlisted else shortlisted || inFiles(tail)))
    val scanned = antiTombstones(s, tombs,
      where.fold(scanned0)(scanned0.filter))
    exactTopK(excludeId.fold(scanned)(id => scanned.filter($"vec_id" =!= id)),
      probe, k)
  }

  /** A batch of compressed probes of `tier`, for the entry `verb`, in
    * one distributed pass — the stages [[probeTopKBatchAdc]] lists. */
  private def probeCodesBatch(s: SparkSession, tier: CodesTier,
      verb: String, indexPath: String, probes: DataFrame, k: Int,
      nprobe: Int, shortlist: Int, excludeSelf: Boolean,
      where: Option[Column]): DataFrame = {
    VectorFunctions.register(s)
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // one resolution pins generation + sidecar + tail diff together
    val root = layoutRoot(s, indexPath)
    val side = servedCodes(s, root, tier, verb)
    // bounded model state: the same memoized read the single probe pays
    val model = tier.model(s, root, side.dirs.tail)
    val ranked = tier.withProbeState(s, model,
      rankProbeCells(s, root, probes, nprobe))
    val cellsNeeded = probedCells(ranked)
    val scan = scanOf(s, root, "vectors", s"$root/vectors")
    // one tombstone resolution for the slack and the anti-join
    val tombs = liveTombstones(s, root)
    // measured widening over the probed-cell UNION (shared across the
    // batch — one narrow scan, not one per probe)
    val effShortlist = where.fold(shortlist)(p =>
      widenedShortlist(s, root, scan, cellsNeeded.toSeq, shortlist, p)) +
      tombs.length
    // codes stage: codes-only scan of the probed-cell union, each hit
    // scored against its probe — per-probe top-`shortlist` with the
    // single-probe path's exact ordering (score desc, vec_id)
    val hits = scanOf(s, root, tier.dirKinds.head, side.dirs.head)._1
      .filter($"cell".isin(cellsNeeded.map(Int.box).toSeq: _*))
      .join(broadcast(ranked), $"cell" === $"pcell")
      .withColumn(tier.score, tier.batchScore(model))
    val kept = if (excludeSelf) hits.filter($"vec_id" =!= $"probe_id")
      else hits
    // SHED the model columns before the per-probe window: the ranking
    // shuffle must carry three narrow columns per candidate, never the
    // m·ks-double LUT or the probe vector that scored it (leaving them
    // attached made the exchange ~500× wider than the data it ranks —
    // the plan-width discipline every other serving path keeps)
    val shortlisted = kept
      .select($"probe_id", $"vec_id", col(tier.score))
      .withColumn("arank", row_number().over(Window.partitionBy($"probe_id")
        .orderBy(col(tier.score).desc, $"vec_id")))
      .filter($"arank" <= effShortlist)
      .select($"probe_id", $"vec_id")
    // uncompacted tail: appended after the sidecar — always candidates
    // for every probe whose probed cells they landed in
    val vectors = scan._1
      .filter($"cell".isin(cellsNeeded.map(Int.box).toSeq: _*))
    val tailFiles = scan._2 -- side.files
    val cand =
      if (tailFiles.isEmpty) shortlisted
      else shortlisted.union(
        vectors.filter(inFiles(tailFiles))
          .select($"cell", $"vec_id")
          .join(broadcast(ranked.select($"probe_id", $"pcell")),
            $"cell" === $"pcell")
          .select($"probe_id", $"vec_id"))
    // exact re-rank of shortlist ∪ tail only: the float read is
    // O(probes × shortlist), never the corpus. The metadata predicate
    // applies HERE — the one stage whose scan carries those columns
    exactTopKPerProbe(
      antiTombstones(s, tombs, where.fold(vectors)(vectors.filter))
        .select($"vec_id", $"label", $"embedding")
        .join(broadcast(cand.distinct()), Seq("vec_id"))
        .join(broadcast(probes.select($"probe_id", $"embedding"
          .as("probe_emb"))), Seq("probe_id")), k, excludeSelf)
  }

  // ------------------------------------------------- PQ codes sidecar
  /** PQ CODES SIDECAR — generation-pinned compression for serving
    * ([[ProductQuant]]'s codes, persisted next to the vectors they
    * encode), itself VERSIONED so a refresh is atomic:
    *
    *   <root>/pqcodes-<n>/cell=<c>/...parquet  (vec_id, codes) per cell
    *   <root>/pqbooks-<n>/...parquet           (sub, code, cvec)
    *   <root>/_pq/<n>                          (marker: dirs + file
    *                                            manifest, written LAST)
    *
    * Trains codebooks on the INDEX's own vectors (a pinned file
    * snapshot of the live generation — same posture as [[rebuild]]'s
    * training input) and encodes that snapshot cell-partitioned.
    * Vectors [[append]]ed AFTER the sidecar are served as a raw
    * UNCOMPACTED TAIL by [[probeTopKAdc]] (the snapshot diff is exact
    * by file identity — a vector is either coded or in the tail,
    * never both, never neither); re-running buildPqSidecar absorbs
    * the tail, the same compaction cadence as [[rebuild]]. Each
    * sidecar version's codes and books live in THEIR OWN dirs named
    * inside its marker, and the marker is published LAST —
    * so one marker resolution pins a consistent codes+books pair even
    * while a refresh overlaps reads (the r17 in-place overwrite could
    * serve new codes against old codebooks mid-refresh); the previous
    * version is kept as read grace and older ones reclaimed. A crash
    * mid-build leaves unreferenced dirs no probe resolves; a rebuild
    * publishes a NEW generation with no sidecar, so a stale sidecar
    * can never pair with centroids that didn't assign it.
    * Maintenance posture: single sidecar maintainer per index, like
    * [[rebuild]]'s contract — a lost marker race fails loudly. */
  def buildPqSidecar(s: SparkSession, indexPath: String,
      m: Int = ProductQuant.Subspaces,
      ks: Int = ProductQuant.CodebookSize,
      iters: Int = ProductQuant.TrainIters): Unit =
    buildCodes(s, indexPath, Pq)(uv => ProductQuant.trainCodebooksFrom(s,
      uv.select(col("vec_id"), col("u")), m, ks, iters))

  /** Serving from the COMPRESSED index: the ADC stage scans only
    * (vec_id, codes) of the probed cells — at [[ProductQuant]]'s 10
    * bytes/vector that read is ~25× smaller than the float scan
    * [[probeTopK]] pays, on top of the same nprobe/cells partition
    * pruning (spec asserts the executed plan's pqcodes scan reads no
    * embedding column) — and its top-`shortlist` ids are collected to
    * the driver (one job, no shuffle, at most `shortlist` ids plus the
    * tombstone slack). Exact cosine then re-ranks one scan of the
    * probed cells keeping the shortlisted ids plus every row of the
    * uncompacted tail (files appended after the sidecar snapshot —
    * read raw, always candidates; [[probeCodes]]), so the result
    * matches [[probeTopK]] whenever the true top-k survives the
    * shortlist cut (the same spec-gated margin contract as
    * [[ProductQuant.sPqRerank]]). Fails loudly if no committed
    * sidecar exists.
    *
    * `where` is the FILTERED compressed form: codes carry no metadata,
    * so the predicate applies at the exact re-rank (whose float scan
    * holds the metadata columns) and the ADC shortlist WIDENS ITSELF
    * by the measured survivor rate ([[widenedShortlist]]), capped at
    * exhaustive — `shortlist` names the post-filter width the caller
    * wants, selectivity-independent; spec-pinned equal to the
    * brute-force filtered scan at DEFAULT widths. */
  def probeTopKAdc(s: SparkSession, indexPath: String,
      probe: Array[Double], k: Int = 10,
      nprobe: Int = Similarity.IvfProbes,
      shortlist: Int = ProductQuant.RerankShortlist,
      excludeId: Option[Long] = None,
      where: Option[Column] = None): DataFrame =
    probeCodes(s, Pq, "probeTopKAdc", indexPath, probe, k, nprobe,
      shortlist, excludeId, where)

  // ------------------------------------------------ SQ8 codes sidecar
  /** SQ8 CODES SIDECAR — the MIDDLE compression tier, persisted and
    * generation-pinned like the PQ sidecar but with NO model to train:
    *
    *   <root>/sq8codes-<n>/cell=<c>/...parquet  (vec_id, q) per cell
    *   <root>/_sq8/<n>                          (marker: dir + file
    *                                             manifest, written LAST)
    *
    * One signed byte per dimension (`q_i = round(127·u_i)` over the
    * unit vector — [[ScalarQuant]]'s exact encoding, so the corpus
    * drive and the persisted tier score identically): 4× smaller scans
    * than floats where PQ's 25× is too lossy, and because there is no
    * codebook the sidecar can never drift — maintenance is
    * append-encode only (re-run absorbs the raw tail, nothing
    * retrains). Same atomicity story as the PQ sidecar: each version's
    * codes live in their own dir named inside a marker published last;
    * the previous version is read grace; a rebuild publishes a
    * new generation bare. Single sidecar maintainer per index — a lost
    * marker race fails loudly. */
  def buildSq8Sidecar(s: SparkSession, indexPath: String): Unit =
    buildCodes(s, indexPath, Sq8)(_ => ())

  /** Serving from the SQ8 tier: the shortlist stage scans only
    * (vec_id, q) of the probed cells — 4× smaller than the float scan,
    * on the same nprobe/cells partition pruning (spec asserts the
    * sq8codes scan reads no embedding column) — and collects its
    * top-`shortlist` ids to the driver; exact cosine then re-ranks one
    * scan of the probed cells keeping those ids plus every row of the
    * raw uncompacted tail (files appended after the sidecar;
    * [[probeCodes]]). Scoring is asymmetric: the exact unit probe
    * against the byte codes, one codegen'd dot per row. `where`
    * follows the compressed-tier filtered contract: the predicate
    * applies at the exact re-rank and the shortlist widens itself by
    * the measured survivor rate ([[widenedShortlist]]). Fails loudly
    * if no committed sidecar exists. */
  def probeTopKSq8(s: SparkSession, indexPath: String,
      probe: Array[Double], k: Int = 10,
      nprobe: Int = Similarity.IvfProbes,
      shortlist: Int = ScalarQuant.Shortlist,
      excludeId: Option[Long] = None,
      where: Option[Column] = None): DataFrame =
    probeCodes(s, Sq8, "probeTopKSq8", indexPath, probe, k, nprobe,
      shortlist, excludeId, where)

  /** BATCH serving from the SQ8 tier — [[probeTopKBatchAdc]]'s shape
    * minus the LUT machinery (asymmetric int8 scoring needs no
    * codebook: each candidate costs ONE codegen'd dot of its byte
    * codes against the broadcast probe): cell ranking per probe over
    * the packed 1-row model, 4×-compressed codes-only scan of the
    * probed-cell union, per-probe shortlist window (model columns shed
    * before the exchange), raw tail unioned, exact cosine re-rank of
    * shortlist ∪ tail. `where` follows the compressed-tier filtered
    * contract (predicate at the exact re-rank; the shortlist widens
    * itself by the measured survivor rate, [[widenedShortlist]]).
    * Exact per-probe parity with [[probeTopKSq8]] is spec-pinned. */
  def probeTopKSq8Batch(s: SparkSession, indexPath: String,
      probes: DataFrame, k: Int = 10,
      nprobe: Int = Similarity.IvfProbes,
      shortlist: Int = ScalarQuant.Shortlist,
      excludeSelf: Boolean = false,
      where: Option[Column] = None): DataFrame =
    probeCodesBatch(s, Sq8, "probeTopKSq8Batch", indexPath, probes, k,
      nprobe, shortlist, excludeSelf, where)

  // ------------------------------------------------ tombstone sidecar
  /* TOMBSTONE SIDECAR — the DELETE and UPDATE path to the serving
    * surface. The lake deletes and updates in O(touched keys)
    * (`deleteFromLake`, DV deletes, SQL DELETE/UPDATE/MERGE — the
    * takedown/GDPR and correction shapes), but an IVF layout cannot
    * cheaply remove a row from a cell-partitioned parquet dir; before
    * this tier a deleted vector kept SERVING until the next full
    * retrain and an updated one could not reach the index at all. The
    * sidecar is the PQ/SQ8 marker-publish recipe with no model at all —
    * one versioned set of tombstone EVENTS:
    *
    *   <root>/tombs-<n>/...parquet   ((vec_id, tomb_v) — the FULL
    *                                  current event set, one row per
    *                                  delete/update event)
    *   <root>/_tomb/<n>              (marker naming the dir,
    *                                  published LAST)
    *
    * Events are VERSIONED: `tomb_v` is the lake version of the
    * delete/update (Long.MaxValue for a direct [[tombstoneIds]]
    * takedown), and every resident vector carries the `wave_v` it
    * arrived under (−1 for build/append/rebuild base rows, the lake
    * version for synced waves — a DATA column, so it survives fold
    * rewrites between generations). A row is hidden iff SOME event for
    * its id has `tomb_v > wave_v` — which is exactly "superseded by a
    * later delete or update": an UPDATE at version v tombstones the
    * pre-image (every older row of the id) while its post-image, synced
    * in the same version's wave with `wave_v = v`, keeps serving; a
    * RE-INSERT after a delete lands at a later version and serves
    * immediately. One row per event also makes the shortlist slack
    * ([[antiTombstones]]) exact: the lake's key uniqueness means each
    * event hides exactly one previously-served row, so the event count
    * IS the hidden-resident row count.
    *
    * Every serving path anti-joins the resolved set at its EXACT
    * re-rank stage — the same stage the `where` predicate rides — so a
    * tombstoned row never leaves any tier (raw/ADC/SQ8 × single/batch ×
    * plain/filtered). On compressed tiers hidden rows still occupy
    * ADC/SQ8 shortlist slots until a rebuild compacts them (they carry
    * no metadata at the codes scan); the fraction is bounded by
    * [[maintainIvf]]'s `maxTombFrac` retrain trigger, and the paths
    * widen `shortlist` by the event count ([[antiTombstones]]).
    * Publishing FULL sets (not deltas) keeps replay idempotent — a
    * re-published union is byte-equivalent — and keeps resolution one
    * marker read; the set is small by policy (events between retrains),
    * so a single coalesced file suffices. Two paths make the hidden
    * rows physical: [[compactTombstones]] (the CHEAP one — frozen
    * centroids, byte-copied untouched files, carried sidecars;
    * [[maintainIvf]] prefers it when only `tomb_frac` fired) and
    * [[rebuild]] (the retrain drops hidden rows — same versioned
    * predicate — from its training snapshot and every fold-in wave).
    * Either way the new generation starts with NO sidecar — the
    * deletes and superseded pre-images become physical at the cutover
    * while current post-images carry over. A direct takedown's id-only
    * input publishes as `tomb_v = Long.MaxValue` ([[normalizeTombs]]);
    * vectors without `wave_v` read as base rows. */
  /** Thrown when a tombstone publish observes a marker version other
    * than the one its union was computed from — the lost-update signal
    * [[unionPublishTombstones]] retries on (r21, advisor item: the
    * read-union-publish shape used to publish a union built from a
    * stale `cur`, silently dropping a concurrent publisher's events). */
  private final class TombstoneVersionMoved(msg: String)
      extends IllegalStateException(msg)

  /** Publish a FULL tombstone set as marker version `observed`+1 —
    * compare-and-swap semantics: `observed` is the max marker version
    * the caller's set was computed FROM (None = no marker existed). A
    * cheap pre-check aborts if the listing already moved; the marker
    * claim is the true commit point — two racers targeting the
    * same pinned version resolve to exactly one winner, and the loser
    * throws [[TombstoneVersionMoved]] instead of silently shadowing the
    * winner's events under a higher version (the pre-r21 behavior
    * allocated max+1 at publish time, so a stale union could bury a
    * concurrent publish's events). */
  private def publishTombstones(s: SparkSession, root: String,
      tombs: DataFrame, observed: Option[Long]): Unit = {
    val fs = fsOf(s, root)
    val prior = markerVersions(fs, root, "_tomb")
    val curMax = prior.maxOption
    if (curMax != observed)
      throw new TombstoneVersionMoved(
        s"publishTombstones under $root: marker listing moved from " +
          s"$observed to $curMax since the union was computed — " +
          "re-read and retry")
    val n = observed.fold(0L)(_ + 1L)
    val rel = s"tombs-$n"
    normalizeTombs(tombs).distinct()
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$root/$rel")
    if (!createMarker(fs, root, "_tomb", n, Seq(rel), Set.empty)) {
      fs.delete(hp(s"$root/$rel"), true)
      throw new TombstoneVersionMoved(
        s"publishTombstones lost the marker race for version $n under " +
          s"$root — a concurrent publisher won; this build's dir was " +
          "discarded")
    }
    reclaimMarkers(fs, root, "_tomb", prior, n - 1)
  }

  /** The read-union-publish shape every carry/sync site needs, with
    * lost-update protection: read the current committed set, union the
    * caller's events in, publish pinned to the observed version; if a
    * concurrent publisher moved the marker between the read and the
    * publish ([[TombstoneVersionMoved]]), re-read and retry — the loud
    * retry the rest of the protocol promises, instead of the silent
    * stale-union overwrite. Bounded attempts: a site that keeps losing
    * is contending with a runaway publisher and should fail loudly. */
  private def unionPublishTombstones(s: SparkSession, root: String,
      extra: DataFrame, maxAttempts: Int = 5): Unit = {
    val fs = fsOf(s, root)
    var attempts = 0
    var done = false
    while (!done) {
      val obs = readTombstoneState(fs, root)
      val cur = obs.map { case (_, d) => readTombstones(s, d) }
      try {
        publishTombstones(s, root, cur.fold(extra)(_.union(extra)),
          obs.map(_._1))
        done = true
      } catch {
        case e: TombstoneVersionMoved =>
          attempts += 1
          if (attempts >= maxAttempts)
            throw new IllegalStateException(
              s"unionPublishTombstones under $root: lost the publish " +
                s"race $attempts times — a concurrent publisher is " +
                "runaway; giving up loudly", e)
      }
    }
  }

  /** Resolve the committed tombstone set ONCE: the dir of the max
    * versioned marker, or None when the generation carries no deletes. */
  private def readTombstoneDir(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Option[String] =
    readTombstoneState(fs, root).map(_._2)

  /** As [[readTombstoneDir]], also returning the marker VERSION the dir
    * was resolved from — the observed version a CAS publish pins to. */
  private def readTombstoneState(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Option[(Long, String)] =
    latestMarker(fs, root, "_tomb").map(m => m.n -> m.dirs.head)

  /** What the last filtered-compressed probe MEASURED and CHOSE —
    * (survivor rate over the probed cells, effective shortlist) — the
    * observability hook for the auto-widening below (the spec reads
    * it; a fleet would export it). */
  private[graft] val lastFilterWidening =
    new java.util.concurrent.atomic.AtomicReference[(Double, Int)]((1.0, 0))

  /** Widening-provenance counters: how many filtered probes paid the
    * O(probed rows) measuring scan vs were served from the label-stats
    * sidecar. Spec hooks (like [[graft.sources.LakeLayout]]'s
    * `bloomRefineJobs`), not policy. */
  private[graft] val widenMeasureScans =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val widenStatsServed =
    new java.util.concurrent.atomic.AtomicLong(0L)

  // ------------------------------------------- label-stats sidecar
  /** PER-(cell, label) COUNT SIDECAR — metadata that lets a filtered
    * compressed probe derive its survivor rate WITHOUT the
    * O(probed rows) measuring scan. Built from the same pinned file
    * snapshot the codes sidecars encode, on the same versioned-marker
    * recipe (`<root>/lstats-<n>` named by `_lstats/<n>`, one grace
    * version). The table is bounded model state:
    * cells × distinct labels rows, read whole like the centroids.
    *
    * Staleness contract: the marker records the EXACT vector-file set
    * the counts cover; a serving path may use the stats only while the
    * live listing equals that set (any append/compaction diverges the
    * listing and the probe falls back to measuring). Equality — not
    * subset — so removed/rewritten files can never serve stale counts.
    * A lost marker race is swallowed (unlike the codes sidecars):
    * stats are advisory, and a racing maintainer over the same
    * generation pins the same file set, hence identical counts. */
  private[graft] def buildLabelStats(s: SparkSession, root: String,
      files: Set[String]): Unit = {
    import s.implicits._
    val fs = fsOf(s, root)
    // the committed stats already cover exactly this snapshot (the
    // PQ and SQ8 builders both call in during one staging pass) —
    // re-aggregating would publish identical counts
    if (readLabelStats(fs, root).exists(_._2 == files)) return
    val snap = s.read.option("basePath", s"$root/vectors")
      .parquet(files.toSeq.sorted: _*)
    if (!snap.columns.contains("label")) return
    val prior = markerVersions(fs, root, "_lstats")
    val n = prior.foldLeft(-1L)(math.max) + 1L
    val rel = s"lstats-$n"
    snap.groupBy($"cell", $"label").agg(count(lit(1)).as("cnt"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$root/$rel")
    // a lost race is swallowed: the winner pinned the same file set
    if (createMarker(fs, root, "_lstats", n, Seq(rel), files))
      reclaimMarkers(fs, root, "_lstats", prior, n - 1)
    else fs.delete(hp(s"$root/$rel"), true)
  }

  /** A label-stats version's (cell, label, cnt) rows and schema, on
    * the driver: cells × distinct labels rows, read whole like the
    * centroids. */
  private def labelCounts(s: SparkSession, root: String, statsDir: String)
      : (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row]) =
    memoized(s, root, "lstats", statsDir) {
      val df = s.read.parquet(statsDir)
      (df.schema, df.collect())
    }

  /** Resolve the committed label stats ONCE: (stats dir, covered
    * vector-file snapshot). */
  private def readLabelStats(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Option[(String, Set[String])] =
    latestMarker(fs, root, "_lstats").map(m => (m.dirs.head, m.files))


  /** MEASURED shortlist widening for the filtered compressed tiers.
    * Codes carry no metadata, so a `where` predicate can only apply at
    * the exact re-rank — of an UNFILTERED shortlist, only ~rate·|list|
    * rows survive, so a selective predicate at a fixed width silently
    * degrades recall. Instead of a caller-managed contract, MEASURE
    * the survivor rate — one narrow scan of the predicate's columns
    * over the probed cells (column-pruned at the parquet reader;
    * O(probed rows), never the corpus) — and widen the shortlist to
    * 2·⌈asked/rate⌉ (EXPECTED survivors ≈ 2× what the caller asked
    * for — the margin absorbs survivor clustering low in the
    * approximate order), capped at the probed row count (exhaustive =
    * exact, the natural ceiling; a selective predicate at production
    * widths usually lands here). Zero survivors means the filtered
    * result is empty at any width — the original shortlist is kept
    * and the probe returns empty honestly. The measured (rate, width)
    * pair lands in [[lastFilterWidening]]. */
  private def widenedShortlist(s: SparkSession, root: String,
      vectors: (DataFrame, Set[String]), cells: Seq[Int], shortlist: Int,
      pred: Column): Int = {
    import s.implicits._
    val (read, vecFiles) = vectors
    // metadata-sourced rate (guide §6 — don't scan what stats already
    // answer): when the committed label-stats sidecar covers exactly
    // the live vector-file set (`vecFiles`, the probe's own listing)
    // AND the predicate resolves against the (cell, label) stats
    // schema — i.e. it references only the columns the counts are
    // grouped by — the (total, kept) pair comes from the cells × labels
    // count table (bounded model state, memoized; the predicate is
    // evaluated over it as a local relation, no job) instead of an
    // O(probed rows) scan. EXACT, not approximate: a deterministic
    // predicate over (cell, label) is constant within each count
    // group, so Σ cnt·pred equals the row-level count(when(pred, 1));
    // the file-set equality pins the rows to precisely the aggregated
    // ones. A predicate naming any other column (vec_id, embedding,
    // wave_v) fails ANALYSIS on the stats frame and falls back to the
    // measuring scan — never a wrong width, only a slower one.
    val fromStats: Option[(Long, Long)] =
      readLabelStats(fsOf(s, root), root)
        .filter { case (_, snap) => vecFiles == snap }
        .flatMap { case (statsDir, _) =>
          scala.util.Try {
            val (schema, rows) = labelCounts(s, root, statsDir)
            s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .filter($"cell".isin(cells.map(Int.box): _*))
              .select($"cnt", when(pred, $"cnt").otherwise(0L))
              .collect()
              .foldLeft((0L, 0L)) { case ((t, k), r) =>
                (t + r.getLong(0), k + r.getLong(1)) }
          }.toOption.map { tk => widenStatsServed.incrementAndGet(); tk }
        }
    val (total, kept) = fromStats.getOrElse {
      widenMeasureScans.incrementAndGet()
      val row = read
        .filter($"cell".isin(cells.map(Int.box): _*))
        .agg(count(lit(1)).as("total"),
          count(when(pred, 1)).as("kept")).head()
      (row.getLong(0), row.getLong(1))
    }
    val eff =
      if (kept <= 0L || total <= 0L) shortlist
      else {
        val rate = kept.toDouble / total
        math.max(shortlist,
          math.min(2.0 * math.ceil(shortlist / rate),
            total.toDouble).toInt)
      }
    lastFilterWidening.set(
      (if (total > 0) kept.toDouble / total else 1.0, eff))
    eff
  }

  /** Normalize a tombstone frame to the (vec_id, tomb_v) event schema:
    * id-only frames (direct-takedown inputs) read as
    * `tomb_v = Long.MaxValue` — hide every resident row of the id. */
  private def normalizeTombs(df: DataFrame): DataFrame =
    if (df.columns.contains("tomb_v"))
      df.select(col("vec_id"),
        coalesce(col("tomb_v"), lit(Long.MaxValue)).as("tomb_v"))
    else df.select(col("vec_id"), lit(Long.MaxValue).as("tomb_v"))

  /** The committed tombstone EVENTS of `dir`, normalized. */
  private def readTombstones(s: SparkSession, dir: String): DataFrame =
    normalizeTombs(s.read.parquet(dir))

  /** The live generation's tombstone events, resolved ONCE per probe:
    * the shortlist slack (their count) and the anti-join must come from
    * the same version, or a publish landing between them widens by the
    * old set and hides by the new one. Empty when no sidecar exists. */
  private def liveTombstones(s: SparkSession,
      root: String): Array[(Long, Long)] =
    readTombstoneDir(fsOf(s, root), root)
      .fold(Array.empty[(Long, Long)])(tombEvents(s, root, _))

  /** Anti-join resolved tombstone events out of a candidate frame —
    * the one stage every serving path shares. A candidate is dropped
    * iff some event for its id postdates the wave it arrived under
    * (`wave_v < tomb_v`; frames or files without `wave_v` read as base
    * rows, −1 — predating every lake version). The event set rides a
    * broadcast (bounded by events-between-retrains, the [[maintainIvf]]
    * `maxTombFrac` policy); no events = no join.
    *
    * On the compressed tiers the events' COUNT is also the exact
    * shortlist slack: a hidden row still holds codes, so it can occupy
    * an ADC/SQ8 shortlist slot only to be anti-joined away here — up
    * to |events| asked-for slots vanish (each event hides exactly one
    * previously-served row — lake key uniqueness), so widening by the
    * count restores the caller's width as a GUARANTEE, not an
    * expectation. */
  private def antiTombstones(s: SparkSession, tombs: Array[(Long, Long)],
      df: DataFrame): DataFrame =
    if (tombs.isEmpty) df
    else {
      import s.implicits._
      val t = broadcast(tombs.toSeq.toDF("__t_id", "__t_v"))
      val wv =
        if (df.columns.contains("wave_v"))
          coalesce(df("wave_v"), lit(-1L))
        else lit(-1L)
      df.join(t, df("vec_id") === col("__t_id") && wv < col("__t_v"),
        "left_anti")
    }

  /** Direct takedown: fold `ids` (a frame carrying `vec_id`) into the
    * live generation's tombstone set — the serving-surface twin of
    * [[graft.sources.LakeLayout.deleteFromLake]] for callers not
    * routing deletes through a lake. Takes effect on the NEXT probe
    * (every serving path anti-joins the committed set); the next
    * [[compactTombstones]] or [[rebuild]] makes it physical. Single
    * maintainer per index, like every sidecar — a lost marker race
    * fails loudly. */
  def tombstoneIds(s: SparkSession, indexPath: String,
      ids: DataFrame): Unit = {
    val root = layoutRoot(s, indexPath)
    // a direct takedown is permanent until the compacting rebuild:
    // tomb_v = MaxValue hides every resident AND future row of the id
    // (a later lake re-insert of a directly-taken-down id is rejected
    // by [[syncFromLake]] rather than silently never served)
    val incoming = normalizeTombs(ids.select(col("vec_id")))
    unionPublishTombstones(s, root, incoming)
  }
}
