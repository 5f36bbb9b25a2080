package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The manifest lake: a table is a directory of immutable parquet data
  * dirs plus a `_commits` log of versioned manifests. Every commit
  * claims its version through [[MetaFiles.putIfAbsent]] inside one
  * commit loop; DML (upsert, MERGE, copy-on-write and deletion-vector
  * delete, SQL UPDATE), time travel, maintenance (compaction, Z-order,
  * vacuum, orphan sweep), constraints and bloom data skipping are
  * file-granular over that log. The registry drives that exercise it
  * live in [[LakeQueries]].
  */
object LakeLayout {

  // ------------------------------------------- manifest-pointer commits
  /** A TYPED per-file key bound. Long-keyed tables store numeric
    * bounds; STRING-keyed tables (the training-corpus norm — dedup
    * keys on md5-hex doc ids) store the min/max string, compared in
    * UNSIGNED UTF-8 BYTE order — exactly Spark's binary string
    * ordering (UTF8String.compareTo) and DuckDB's default varchar
    * collation, so the same file is pruned by all three judges of the
    * range. Without typed bounds a string-keyed lake silently loses
    * ALL file granularity (a cast-to-long nulls every stat) and each
    * upsert degrades to an O(table) rewrite. */
  sealed trait KeyBound { def enc: String }
  final case class LongKey(v: Long) extends KeyBound {
    def enc: String = "l" + v
  }
  final case class StrKey(v: String) extends KeyBound {
    def enc: String = "s" + java.net.URLEncoder.encode(v, "UTF-8")
  }
  object KeyBound {
    def decode(s: String): Option[KeyBound] = s match {
      case "-" => None
      case _ if s.startsWith("l") => Some(LongKey(s.drop(1).toLong))
      case _ if s.startsWith("s") =>
        Some(StrKey(java.net.URLDecoder.decode(s.drop(1), "UTF-8")))
      case _ => throw new IllegalArgumentException(
        s"key bound '$s' has no l/s type prefix")
    }
    /** a <= b in unsigned UTF-8 byte order (Spark's string ordering;
      * java String.compareTo would disagree on supplementary chars). */
    def strLeq(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length <= y.length
    }
  }

  /** One data file of a committed version: `path` is RELATIVE to the
    * table root.
    *  - `minKey`/`maxKey` bound the table's primary (clustering/merge)
    *    key. They make upserts FILE-GRANULAR: a batch can only touch
    *    files whose [minKey, maxKey] intersects its keys (a base row
    *    with key k lives in a file whose range contains k by
    *    definition), so everything else is carried into the next
    *    version by reference. None = stats unknown → the file is
    *    conservatively always rewritten.
    *  - `minTs`/`maxTs` optionally bound a SECOND dimension (typically
    *    event time), read from the same footer pass — zero extra I/O —
    *    so range reads prune on either axis. A Z-ordered layout makes
    *    both bounds tight per file; files without second-dimension
    *    stats are simply never ts-pruned.
    *  - `dv` is an optional DELETION-VECTOR reference (a dir under
    *    `data/` holding the DELETED KEYS for this file as a tiny parquet
    *    whose single column is named after the table key) — the
    *    merge-on-read delete shape: a delete writes O(deleted keys)
    *    sidecar bytes and re-points manifest entries instead of
    *    rewriting every touched file. Readers apply `dv` as a broadcast
    *    anti-join; compaction/rewrites materialize it away (new files
    *    always carry `dv = None`).
    *  - `axes` are NAMED per-axis min/max bounds for Z-order dimensions
    *    BEYOND the two the positional fields cover. Recorded at
    *    OPTIMIZE-ZORDER time from the same footer pass as the other
    *    stats; [[readLakeAxisRange]] consults them so a predicate on
    *    axis 3+ prunes whole files instead of relying on row-group
    *    stats inside every file. Files written by later non-OPTIMIZE
    *    commits carry no axis bounds and stay conservative candidates. */
  final case class LakeFile(path: String, minKey: Option[KeyBound],
      maxKey: Option[KeyBound], minTs: Option[KeyBound] = None,
      maxTs: Option[KeyBound] = None, dv: Option[String] = None,
      rows: Option[Long] = None, bytes: Option[Long] = None,
      bloom: Option[String] = None,
      axes: Seq[(String, KeyBound, KeyBound)] = Seq.empty)

  /** Wire codec for the `axes` manifest field: items `name:min:max`
    * joined by ';'. The name is URL-encoded and [[KeyBound.enc]] never
    * emits ':'/';' bare (LongKey is `l<digits>`; StrKey URL-encodes),
    * so the two separators are unambiguous. "-" = no axis bounds. */
  private def encodeAxes(axes: Seq[(String, KeyBound, KeyBound)]): String =
    if (axes.isEmpty) "-"
    else axes.map { case (n, lo, hi) =>
      s"${java.net.URLEncoder.encode(n, "UTF-8")}:${lo.enc}:${hi.enc}"
    }.mkString(";")

  private def decodeAxes(s: String): Seq[(String, KeyBound, KeyBound)] =
    if (s == "-" || s.isEmpty) Seq.empty
    else s.split(";").toSeq.flatMap { item =>
      item.split(":") match {
        case Array(n, lo, hi) =>
          for (l <- KeyBound.decode(lo); h <- KeyBound.decode(hi))
            yield (java.net.URLDecoder.decode(n, "UTF-8"), l, h)
        case _ => None
      }
    }

  /** Resolve a manifest entry's path against the table root. Entries
    * written by this engine are RELATIVE (`data/v…/part-….parquet`);
    * a [[cloneLakeShallow]] manifest references the SOURCE table's
    * files by absolute qualified URI — those pass through untouched.
    * Every path-to-filesystem translation goes through these two
    * helpers, so absolute references work uniformly across reads,
    * stats fallbacks, and rewrites. */
  private def lakeFilePath(table: org.apache.hadoop.fs.Path,
      rel: String): org.apache.hadoop.fs.Path =
    if (rel.startsWith("/") || rel.contains(":/"))
      new org.apache.hadoop.fs.Path(rel)
    else new org.apache.hadoop.fs.Path(table, rel)
  private def lakeFileUri(tablePath: String, rel: String): String =
    if (rel.startsWith("/") || rel.contains(":/")) rel
    else s"$tablePath/$rel"

  /** A manifest entry's physical size: recorded at write time (the
    * writer lists its output dir anyway, so the length is free) or ONE
    * stat for an entry without one. This is what keeps maintenance
    * census, DESCRIBE, and write accounting O(manifest) instead of
    * O(files) serial namenode RPCs — at the 800 k-file design point a
    * per-file stat loop was ~800 k round trips per maintenance pass. */
  private def fileLen(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path, f: LakeFile): Long =
    f.bytes.getOrElse {
      // resolve against the ENTRY's own filesystem: an absolute
      // shallow-clone reference may live on a different store than
      // the clone's root (same-fs entries get the cached instance)
      val p = lakeFilePath(table, f.path)
      p.getFileSystem(fs.getConf).getFileStatus(p).getLen
    }
  private def bytesOf(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path, files: Seq[LakeFile]): Long =
    files.map(fileLen(fs, table, _)).sum

  /** One committed table version: the FILE LIST the version is made of
    * (possibly spanning several data dirs — untouched files are carried
    * across versions by reference), the dir this version's own write
    * landed in, and the (checkpoint, batchId) provenance used for
    * exactly-once replay detection. An empty file list is an empty
    * table. `schemaJson` is the version's TABLE schema (Iceberg's
    * schema-in-metadata idea), recorded by every commit: readers apply
    * it to every listed file, so files written before a column existed
    * null-fill it without any footer merging. `op` types the commit for
    * incremental consumers: `data` commits change rows; `compact`
    * commits provably move only bytes (CDC and metric consumers skip
    * them without opening a single data file); `delete` commits only
    * remove rows. `instantMs` is the commit's store-clock instant
    * ([[storeNowMillis]] at publish). */
  final case class LakeCommit(version: Long, dataDir: String,
      checkpoint: String, batchId: Long, files: Seq[LakeFile],
      schemaJson: String, op: String, tsClusterCol: Option[String],
      instantMs: Long) {
    def schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  private def commitsDir(table: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(table, "_commits")
  private def versionName(v: Long): String = f"v$v%020d"
  private def manifestPath(table: org.apache.hadoop.fs.Path, v: Long) =
    new org.apache.hadoop.fs.Path(commitsDir(table), versionName(v) + ".manifest")

  /** Manifest-pointer table commits — the atomicity layer a plain-parquet
    * lake table needs so writers can replace table state without a
    * visibility window. The protocol is the Delta-log core idea:
    *  - data files for version v are written to `data/v<padded>` —
    *    never mutated once any manifest references them;
    *  - the commit POINT is one atomic rename of a tmp file to
    *    `_commits/v<padded>.manifest`, whose content lists the version's
    *    data FILES (with per-file key stats) plus (checkpoint, batchId)
    *    provenance;
    *  - readers resolve the HIGHEST manifest and read exactly the files
    *    it lists — they see the old version until the rename lands, the
    *    new one after, never a mix and never nothing;
    *  - a crash after the data write but before the rename leaves an
    *    orphan data dir no manifest references; the retry recomputes the
    *    same next version number and overwrites it — safe because
    *    unreferenced.
    * Writers: every commit goes through one claim-and-retry loop
    * ([[commitLoop]]). An OCC verb (`...Occ`, with a `writerId`) writes
    * writer-tagged data dirs and retries a lost claim against the new
    * snapshot; the single-writer verbs (the streaming sinks, the
    * registry drives) run the same loop with one attempt, so a lost
    * race fails loudly.
    *
    * Manifest wire format (one file per version). A FULL manifest
    * lists every file of the version:
    * {{{
    * format:4
    * <dataRel>            dir this version's own write landed in
    * <checkpoint>
    * <batchId>
    * s <TAB> <tableSchemaJson>
    * o <TAB> <op>                             (non-`data` commits)
    * c <TAB> <clusterAxis>                    (when the table has one)
    * t <TAB> <commitInstantMs>
    * f <TAB> relpath <TAB> minKey|- <TAB> maxKey|- [<TAB> ...]  (per file)
    * }}}
    * The per-file fields are [[encodeFileLine]]'s; a key bound is
    * `l<long>`, `s<url-encoded string>` or `-` (unknown).
    *
    * format:5 is the DELTA form — the fix for the one genuine
    * scale-killer of full-list manifests: at 100 TB / ~800 k live
    * files a full list is ~80 MB REWRITTEN PER COMMIT, while a
    * steady-state upsert changes a handful of files. A delta manifest
    * records only the change against its parent (always v−1):
    * {{{
    * format:5
    * <dataRel> / <checkpoint> / <batchId>     (as above)
    * p <TAB> <parentVersion>
    * s / o / c / t lines                      (as above)
    * a <TAB> relpath <TAB> min <TAB> max ...  (file added vs parent)
    * r <TAB> relpath                          (file removed vs parent)
    * }}}
    * Any other header is a malformed manifest and fails the read.
    * Readers resolve `files = parent.files − removes + adds`, walking
    * the chain to the nearest FULL base. Two artifacts bound the walk
    * (Delta-log checkpointing, re-derived):
    *  - every [[checkpointEvery]]-th commit also writes a sidecar
    *    `v<padded>.checkpoint` holding the version's FULL resolved
    *    list in the format:4 form (its `o` line always present, no `c`
    *    or `t` line: only its files are read). It is a resolution
    *    accelerator, not a commit: its content is a pure function of
    *    the committed chain, so it is written best-effort AFTER the
    *    atomic claim (a crash between claim and checkpoint only makes
    *    later reads walk further);
    *  - [[vacuumLake]] materializes a checkpoint for the oldest KEPT
    *    version before dropping older manifests, so a retained
    *    delta's chain never dangles.
    * Writers self-select the form: a commit whose delta would not be
    * smaller than its full list (first commit, full compaction, full
    * rewrite, empty parent) publishes the full format — so manifest
    * bytes per commit are O(changed files) with an O(live files)
    * ceiling, never the reverse. */
  private val checkpointEvery = 8
  private def checkpointFilePath(table: org.apache.hadoop.fs.Path, v: Long) =
    new org.apache.hadoop.fs.Path(commitsDir(table), versionName(v) + ".checkpoint")

  /** A manifest as WRITTEN (no chain resolution): `Left` = delta
    * against parent, `Right` = self-contained full commit. */
  private final case class DeltaManifest(version: Long, dataRel: String,
      checkpoint: String, batchId: Long, parent: Long, adds: Seq[LakeFile],
      removes: Set[String], schemaJson: String, op: String,
      tsClusterCol: Option[String], instantMs: Long)

  /** The file entries tagged `tag` (`f` full, `a` added). Fields 5/6
    * are the optional second-dimension (time) bounds, 7 the
    * deletion-vector dir reference, 8 the exact row count, 9 the byte
    * length, 10 the key bloom filter (base64 bitset) and 11 the named
    * axis bounds for Z-order axes 3+ ([[encodeAxes]]); an entry stops
    * after its last recorded field. */
  private def fileEntries(body: Seq[String], tag: String): Seq[LakeFile] =
    body.filter(_.startsWith(tag + "\t")).map { ln =>
      val p = ln.split("\t")
      LakeFile(p(1), KeyBound.decode(p(2)), KeyBound.decode(p(3)),
        if (p.length > 5) KeyBound.decode(p(4)) else None,
        if (p.length > 5) KeyBound.decode(p(5)) else None,
        if (p.length > 6 && p(6) != "-") Some(p(6)) else None,
        if (p.length > 7 && p(7) != "-") Some(p(7).toLong) else None,
        if (p.length > 8 && p(8) != "-") Some(p(8).toLong) else None,
        if (p.length > 9 && p(9) != "-") Some(p(9)) else None,
        if (p.length > 10) decodeAxes(p(10)) else Seq.empty)
    }

  private def parseManifest(content: String, v: Long)
      : Either[DeltaManifest, LakeCommit] = {
    val lines = content.split("\n").toSeq
    val body = lines.drop(4)
    def line(tag: String) =
      body.find(_.startsWith(tag + "\t")).map(_.drop(tag.length + 1))
    def required(tag: String, what: String) = line(tag).getOrElse(
      throw new IllegalArgumentException(s"no `$tag` ($what) line"))
    val schema = required("s", "table schema")
    val op = line("o").getOrElse("data")
    // `c` = the table's persisted CLUSTER AXIS (second/time dimension) —
    // a table property every writer carries forward so mid-ingest
    // rewrites keep recording ts bounds without callers threading it;
    // `t` = the commit's STORE-CLOCK instant, persisted at publish so
    // AS-OF resolution survives manifest copies that re-stamp mtimes
    val cluster = line("c")
    val instant = required("t", "commit instant").toLong
    lines.head match {
      case "format:4" =>
        Right(LakeCommit(v, lines(1), lines(2), lines(3).toLong,
          fileEntries(body, "f"), schema, op, cluster, instant))
      case "format:5" =>
        Left(DeltaManifest(v, lines(1), lines(2), lines(3).toLong,
          required("p", "parent version").toLong, fileEntries(body, "a"),
          body.filter(_.startsWith("r\t")).map(_.split("\t")(1)).toSet,
          schema, op, cluster, instant))
      case h => throw new IllegalArgumentException(
        s"unknown header '$h' (manifests are format:4 or format:5)")
    }
  }

  /** A checkpoint's resolved file list (the format:4 form). */
  private def parseCheckpoint(content: String): Seq[LakeFile] = {
    val lines = content.split("\n").toSeq
    require(lines.head == "format:4",
      s"unknown header '${lines.head}' (checkpoints are format:4)")
    fileEntries(lines.drop(4), "f")
  }

  /** Parsed-manifest cache. SOUND BY IMMUTABILITY: a manifest file is
    * never modified after its atomic claim (the whole protocol rests
    * on that), and a checkpoint sidecar's content is a deterministic
    * function of the committed chain (last-write-wins identical), so a
    * (path → parsed) entry can never go stale. Liveness checks (does
    * this version still exist?) always hit the filesystem — the cache
    * only skips re-READING content, which is what turns a ≤8-deep
    * delta-chain walk per resolution into ≤8 map hits in steady state
    * (the read amplification the checkpoint protocol bounds, now
    * mostly amortized away within a process). Coarse size cap: long
    * test runs create thousands of throwaway tables; clearing on
    * overflow is always safe (it is only a cache). */
  private val manifestCache =
    new scala.collection.concurrent.TrieMap[String, AnyRef]()
  // approximate entry count — TrieMap.size is O(n), too hot for a
  // per-read guard; over/undercounting a few entries is harmless for
  // a clear-on-overflow bound
  private val manifestCacheN = new java.util.concurrent.atomic.AtomicInteger
  /** Drop every cached parse under `tablePath`. The cache's soundness
    * argument (manifest immutability) has one implicit invariant: a
    * table path is never WHOLESALE deleted and re-created within one
    * JVM — the new table's v0 would collide with the old parse. Any
    * table-drop/reset path must call this to restore the invariant;
    * [[vacuumLake]] evicts its dropped versions itself so a vacuumed
    * manifest fails loudly instead of resolving from cache. */
  def invalidateManifestCache(tablePath: String): Unit = {
    // qualified prefix: cache keys are built from fs.makeQualified
    // ([[cacheKey]]), so an invalidation with a bare path must qualify
    // the same way or a caller mixing `file:/tmp/t` and `/tmp/t`
    // would silently evict nothing
    val p = new org.apache.hadoop.fs.Path(tablePath)
    // qualify with the ACTIVE session's Hadoop conf when one exists —
    // cache keys were built through that conf's filesystems, and a
    // spark.hadoop.* override (fs.defaultFS, per-bucket settings)
    // would make a classpath-default qualification miss every key
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = p.getFileSystem(conf)
    val prefix = fs.makeQualified(p).toString + "/"
    manifestCache.keySet.filter(_.startsWith(prefix)).foreach { k =>
      if (manifestCache.remove(k).isDefined) manifestCacheN.decrementAndGet()
    }
  }

  /** The ONE cache-key form: the fully-qualified URI, so the same
    * physical location always yields the same key string no matter
    * which path spelling (bare, scheme-qualified) the caller used. */
  private def cacheKey(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = fs.makeQualified(p).toString

  /** `parse` of the file at `p` (version `v`), cached. A file that does
    * not parse fails loudly, naming its table and version. Manifest and
    * checkpoint paths differ by suffix, so each key only ever holds its
    * own parser's result. */
  private def cachedParse[T <: AnyRef](fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, v: Long)(parse: String => T): T = {
    if (manifestCacheN.get > 8192) {
      manifestCache.clear(); manifestCacheN.set(0)
    }
    val key = cacheKey(fs, p)
    manifestCache.get(key) match {
      case Some(hit) => hit.asInstanceOf[T]
      case None =>
        // a version vacuumed mid-resolution surfaces as FileNotFound,
        // which the history readers skip
        val content = MetaFiles.readText(fs, p)
          .getOrElse(throw new java.io.FileNotFoundException(p.toString))
        val parsed =
          try parse(content)
          catch {
            case scala.util.control.NonFatal(e) =>
              throw new IllegalStateException(
                s"malformed ${p.getName} of lake table " +
                  s"${p.getParent.getParent} at version $v: ${e.getMessage}", e)
          }
        if (manifestCache.putIfAbsent(key, parsed).isEmpty)
          manifestCacheN.incrementAndGet()
        parsed
    }
  }

  private def readRawManifest(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path, v: Long)
      : Either[DeltaManifest, LakeCommit] =
    cachedParse(fs, manifestPath(table, v), v)(parseManifest(_, v))

  /** The version's full resolved file list: nearest checkpoint, else
    * walk the delta chain to its full base. Chain length is bounded by
    * [[checkpointEvery]] in steady state (longer only across a crash
    * window or un-checkpointed history — still terminating at the full
    * base the table started from). */
  private def resolvedFileList(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path, v: Long,
      raw: Either[DeltaManifest, LakeCommit]): Seq[LakeFile] = raw match {
    case Right(full) => full.files
    case Left(d) =>
      val ckpt = checkpointFilePath(table, d.version)
      if (fs.exists(ckpt)) cachedParse(fs, ckpt, d.version)(parseCheckpoint)
      else {
        val parentRaw = readRawManifest(fs, table, d.parent)
        resolvedFileList(fs, table, d.parent, parentRaw)
          .filterNot(f => d.removes(f.path)) ++ d.adds
      }
  }

  /** The fully-RESOLVED commit record for version `v`: delta chains
    * applied, checkpoints used when present. Every read path goes
    * through here, so the delta protocol is invisible above this
    * line. */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path, v: Long): LakeCommit =
    readRawManifest(fs, table, v) match {
      case Right(full) => full
      case raw @ Left(d) =>
        LakeCommit(v, d.dataRel, d.checkpoint, d.batchId,
          resolvedFileList(fs, table, v, raw), d.schemaJson, d.op,
          d.tsClusterCol, d.instantMs)
    }

  /** The one wire encoder for a file entry (manifests AND checkpoints —
    * a checkpoint that dropped later fields would resurrect dv-deleted
    * rows and lose the metadata row/byte counts on resolution). Later
    * fields force the earlier optional ones (as "-") so field positions
    * stay fixed; an entry stops after its last recorded field. */
  private def encodeFileLine(tag: String, f: LakeFile,
      b: StringBuilder): Unit = {
    b.append(tag).append('\t').append(f.path).append('\t')
      .append(f.minKey.map(_.enc).getOrElse("-")).append('\t')
      .append(f.maxKey.map(_.enc).getOrElse("-"))
    val hasAxes = f.axes.nonEmpty
    val hasLater = f.dv.isDefined || f.rows.isDefined ||
      f.bytes.isDefined || f.bloom.isDefined || hasAxes
    if (f.minTs.isDefined || f.maxTs.isDefined || hasLater)
      b.append('\t').append(f.minTs.map(_.enc).getOrElse("-"))
        .append('\t').append(f.maxTs.map(_.enc).getOrElse("-"))
    if (hasLater) b.append('\t').append(f.dv.getOrElse("-"))
    if (f.rows.isDefined || f.bytes.isDefined || f.bloom.isDefined || hasAxes)
      b.append('\t').append(f.rows.map(_.toString).getOrElse("-"))
    if (f.bytes.isDefined || f.bloom.isDefined || hasAxes)
      b.append('\t').append(f.bytes.map(_.toString).getOrElse("-"))
    if (f.bloom.isDefined || hasAxes)
      b.append('\t').append(f.bloom.getOrElse("-"))
    if (hasAxes) b.append('\t').append(encodeAxes(f.axes))
    b.append('\n')
  }

  /** Attempt to claim version `v`: publish its manifest with
    * [[MetaFiles.putIfAbsent]] (content first, then one atomic claim).
    * Returns false iff another writer already claimed this version
    * number — the OCC conflict signal; an I/O error propagates.
    *
    * `parentFiles` (the parent version's RESOLVED list, empty = no
    * parent or an empty one) enables the format:5 delta form: when the
    * add/remove set is smaller than the full list, only the delta is
    * written — O(changed files) manifest bytes per commit. The parent
    * is always v−1: a successful claim of v proves the snapshot the
    * caller resolved was v−1 (anyone else claiming v first makes this
    * claim fail), so the delta's parent pointer is correct by the same
    * argument that makes OCC serializable. After a successful claim,
    * every [[checkpointEvery]]-th version also writes its sidecar
    * checkpoint (full list) best-effort. */
  private def tryPublishManifest(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path, v: Long, dataRel: String,
      checkpoint: String, batchId: Long, files: Seq[LakeFile],
      schemaJson: String, op: String,
      parentFiles: Seq[LakeFile], tsClusterCol: Option[String]): Boolean = {
    // the commit's DURABLE instant, read from the store's own clock
    // (one probe per publish): AS-OF resolution reads this line, so a
    // migration tool that copies `_commits` without preserving mtimes
    // can no longer re-stamp the table's history
    val instantMs = storeNowMillis(fs, table)
    def commonLines(body: StringBuilder): Unit = {
      body.append("s\t").append(schemaJson).append('\n')
      if (op != "data") body.append("o\t").append(op).append('\n')
      tsClusterCol.foreach(c => body.append("c\t").append(c).append('\n'))
      body.append("t\t").append(instantMs).append('\n')
    }
    def fullBody: String = {
      val body = new StringBuilder()
        .append("format:4\n")
        .append(dataRel).append('\n')
        .append(checkpoint).append('\n').append(batchId).append('\n')
      commonLines(body)
      files.foreach(f => encodeFileLine("f", f, body))
      body.toString
    }
    def deltaBody(adds: Seq[LakeFile], removes: Seq[String]): String = {
      val body = new StringBuilder()
        .append("format:5\n")
        .append(dataRel).append('\n')
        .append(checkpoint).append('\n').append(batchId).append('\n')
        .append("p\t").append(v - 1).append('\n')
      commonLines(body)
      adds.foreach(f => encodeFileLine("a", f, body))
      removes.foreach(p => body.append("r\t").append(p).append('\n'))
      body.toString
    }
    val content =
      if (parentFiles.isEmpty) fullBody
      else {
        // ENTRY equality, not path membership: a file whose metadata
        // changed in place (a deletion-vector attached or merged) must
        // ride the delta as remove+re-add, or resolution would keep the
        // parent's stale entry
        val parentByPath = parentFiles.map(f => f.path -> f).toMap
        val childPaths = files.map(_.path).toSet
        val adds = files.filterNot(f => parentByPath.get(f.path).contains(f))
        val removes = parentFiles.map(_.path).filterNot(childPaths) ++
          adds.map(_.path).filter(parentByPath.contains)
        if (adds.size + removes.size < files.size) deltaBody(adds, removes)
        else fullBody
      }
    val claimed = MetaFiles.putIfAbsent(fs, manifestPath(table, v),
      content.getBytes("UTF-8"))
    if (claimed && v > 0 && v % checkpointEvery == 0)
      writeCheckpointFile(fs, table, v, dataRel, checkpoint, batchId,
        files, schemaJson, op)
    claimed
  }

  /** Sidecar checkpoint: the version's FULL resolved list in the
    * format:4 wire form (self-contained — [[parseCheckpoint]] reads it).
    * Idempotent and deterministic (content is a function of the
    * committed chain), so last-write-wins is harmless; written
    * best-effort — failure only lengthens later resolution walks. */
  private def writeCheckpointFile(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path, v: Long, dataRel: String,
      checkpoint: String, batchId: Long, files: Seq[LakeFile],
      schemaJson: String, op: String): Unit =
    try {
      val body = new StringBuilder()
        .append("format:4\n")
        .append(dataRel).append('\n')
        .append(checkpoint).append('\n').append(batchId).append('\n')
        .append("s\t").append(schemaJson).append('\n')
        .append("o\t").append(op).append('\n')
      // the SHARED entry encoder: a checkpoint is a resolution
      // substitute for the chain, so dropping any per-file field here
      // (dv! rows, bytes) would change what resolution returns — a
      // dv-delete landing on a checkpoint boundary would resurrect
      // its deleted rows (CheckpointFidelitySpec pins this)
      files.foreach(f => encodeFileLine("f", f, body))
      MetaFiles.replace(fs, checkpointFilePath(table, v),
        body.toString.getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The files of a just-written data dir with per-file bounds of
    * `statsKey` (plus `tsKey` and `extraAxes`), read from the PARQUET
    * FOOTERS driver-side — no Spark job, no second pass over the bytes
    * just written. Bounds are TYPED by the column: UTF-8 strings record
    * [[StrKey]] bounds, signed integers and UTC timestamps (as epoch
    * seconds, cast-to-long semantics) record [[LongKey]]; any other
    * type, or an absent column, leaves the stats unknown. Footer chunk
    * statistics are exact when present (parquet-mr drops, never truncates,
    * chunk-level min/max — truncation applies only to column indexes),
    * and their sort orders match the pruning comparators: signed for
    * int64 = [[LongKey]], unsigned lexicographic for UTF-8 binary =
    * [[KeyBound.strLeq]]. Any file/chunk without usable stats yields
    * `None` bounds — the file is simply never pruned, correct by
    * construction. Footers are read concurrently (bounded pool): on
    * object storage each is one small ranged GET, and files-per-commit
    * is already capped by sizeParts. */
  private def fileStats(spark: SparkSession, tablePath: String,
      dataRel: String, statsKey: Option[String],
      tsKey: Option[String] = None,
      extraAxes: Seq[String] = Seq.empty): Seq[LakeFile] = {
    val dir = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(tablePath), dataRel)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    // one listing yields names AND byte lengths — recording sizes in
    // the manifest costs zero extra RPCs here and saves an O(files)
    // serial stat loop in every census/DESCRIBE/accounting path later
    val statuses = fs.listStatus(dir)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName).toSeq
    val names = statuses.map(_.getPath.getName)
    val lenOf = statuses.map(st => st.getPath.getName -> st.getLen).toMap
    if (names.isEmpty) Seq.empty
    else if (statsKey.isEmpty && tsKey.isEmpty && extraAxes.isEmpty)
      names.map(n => LakeFile(s"$dataRel/$n", None, None,
        bytes = Some(lenOf(n))))
    else {
        // one footer open per file; bounds for the primary key, the
        // optional second (time) dimension AND any further Z-order
        // axes all come from the same footer — extra axes cost zero
        // extra I/O
        def boundsOf(name: String): ((Option[KeyBound], Option[KeyBound]),
            (Option[KeyBound], Option[KeyBound]),
            Seq[(String, KeyBound, KeyBound)], Long) = {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(dir, name), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val footer = reader.getFooter
            val schema = footer.getFileMetaData.getSchema
            def colBounds(k: String): (Option[KeyBound], Option[KeyBound]) = {
            if (!schema.containsField(k)) return (None, None)
            val tpe = schema.getType(Seq(k): _*)
            if (!tpe.isPrimitive) return (None, None)
            val prim = tpe.asPrimitiveType().getPrimitiveTypeName
            import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
            val chunks = scala.jdk.CollectionConverters
              .ListHasAsScala(footer.getBlocks).asScala.flatMap { b =>
                scala.jdk.CollectionConverters
                  .ListHasAsScala(b.getColumns).asScala
                  .find(_.getPath.toDotString == k)
              }
            val stats = chunks.map(_.getStatistics)
            // every chunk must carry usable stats or the bound is
            // unknowable (a chunk of all-nulls or dropped stats could
            // hide rows outside the other chunks' range)
            if (stats.isEmpty ||
                stats.exists(s => s == null || s.isEmpty || !s.hasNonNullValue))
              return (None, None)
            // The LOGICAL type annotation decides whether the raw
            // physical value means what the pruning side's
            // cast-to-long means. Spark writes TimestampType as INT64
            // TIMESTAMP(MICROS, adjustedToUTC) but `cast(key as long)`
            // yields epoch-SECONDS (floorDiv) — raw micros bounds
            // would judge matching files non-intersecting and carry
            // stale rows through an upsert. floorDiv is monotonic, so
            // converting footer micros/millis with the same floorDiv
            // gives exact cast-semantics bounds and KEEPS pruning for
            // timestamp keys. DECIMAL (scale>0 unscaled ints), UINT,
            // TIME, DATE (Spark cast date→long is null) and
            // non-String BINARY have no such conversion: unknown
            // bounds, file conservatively touched — never wrong.
            import org.apache.parquet.schema.LogicalTypeAnnotation
            import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
            val ann = tpe.asPrimitiveType().getLogicalTypeAnnotation
            def plainSignedInt: Boolean = ann match {
              case null => true
              case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                i.isSigned
              case _ => false
            }
            // cast(timestamp as long) semantics: floorDiv to seconds
            def tsToSeconds: Option[Long => Long] = ann match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                  if t.isAdjustedToUTC =>
                t.getUnit match {
                  case TimeUnit.MICROS =>
                    Some(v => Math.floorDiv(v, 1000000L))
                  case TimeUnit.MILLIS =>
                    Some(v => Math.floorDiv(v, 1000L))
                  case _ => None // NANOS: not a Spark-written unit
                }
              case _ => None
            }
            def utf8String: Boolean = ann match {
              case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
                true
              case _ => false
            }
            def longBounds(conv: Long => Long) = {
              val los = stats.map(s => conv(s.genericGetMin
                .asInstanceOf[java.lang.Long].longValue()))
              val his = stats.map(s => conv(s.genericGetMax
                .asInstanceOf[java.lang.Long].longValue()))
              (Some(LongKey(los.min)), Some(LongKey(his.max)))
            }
            prim match {
              case INT64 if plainSignedInt => longBounds(identity)
              case INT64 if tsToSeconds.isDefined =>
                longBounds(tsToSeconds.get)
              case INT32 if plainSignedInt =>
                val los = stats.map(_.genericGetMin
                  .asInstanceOf[java.lang.Integer].longValue())
                val his = stats.map(_.genericGetMax
                  .asInstanceOf[java.lang.Integer].longValue())
                (Some(LongKey(los.min)), Some(LongKey(his.max)))
              case BINARY if utf8String =>
                val los = stats.map(_.genericGetMin
                  .asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8)
                val his = stats.map(_.genericGetMax
                  .asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8)
                (Some(StrKey(los.reduce((a, b) =>
                    if (KeyBound.strLeq(a, b)) a else b))),
                  Some(StrKey(his.reduce((a, b) =>
                    if (KeyBound.strLeq(a, b)) b else a))))
              case _ => (None, None)
            }
            }
            // the footer is already open: the file's exact row count is
            // free and makes COUNT(*) a metadata-only read
            (statsKey.map(colBounds).getOrElse((None, None)),
              tsKey.map(colBounds).getOrElse((None, None)),
              extraAxes.flatMap { a =>
                colBounds(a) match {
                  case (Some(lo), Some(hi)) => Some((a, lo, hi))
                  case _ => None
                }
              },
              scala.jdk.CollectionConverters.ListHasAsScala(footer.getBlocks)
                .asScala.map(_.getRowCount).sum)
          } finally reader.close()
        }
        // bounded-parallel footer reads; preserves `names` order. The
        // await scales with file count (each read is one bounded
        // ranged GET) so slow object storage degrades to slowness,
        // never a commit-failing timeout after the data was written.
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, names.size))
        try {
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          val futs = names.map(n =>
            scala.concurrent.Future(n -> boundsOf(n)))
          scala.concurrent.Await
            .result(scala.concurrent.Future.sequence(futs),
              scala.concurrent.duration.Duration(
                math.max(300L, names.size * 5L), "s"))
            .map { case (n, ((lo, hi), (tLo, tHi), ax, nRows)) =>
              LakeFile(s"$dataRel/$n", lo, hi, tLo, tHi,
                rows = Some(nRows), bytes = Some(lenOf(n)), axes = ax) }
        } finally pool.shutdown()
    }
  }

  /** Read a set of committed files with their DELETION VECTORS applied
    * — the single choke point every lake read (snapshots, pruned
    * ranges, rewrite merges, compactions, change regions) goes
    * through, so merge-on-read deletes are invisible above this line.
    * Files are grouped by dv reference (one read per group, never per
    * file); each group's sidecar keys anti-join BROADCAST (sidecars
    * are O(deleted keys), tiny by construction). A left_anti join
    * keeps exactly the left side's columns in order, so grouping +
    * unionByName is schema-stable. Every file is read under the table
    * `schema` (files written before a column was added null-fill it —
    * no footer merging, no inference); no files is the empty table,
    * read without a job. `withPath` adds each row's file URI as column
    * `__file`, taken at the scan (`input_file_name()` above a dv group's
    * anti-join has two sources and fails analysis). */
  private[graft] def filesFrame(spark: SparkSession, tablePath: String,
      files: Seq[LakeFile],
      schema: org.apache.spark.sql.types.StructType,
      withPath: Boolean = false): DataFrame =
    if (files.isEmpty) spark.read.schema(schema).parquet()
    else files.groupBy(_.dv).toSeq.sortBy(_._1.getOrElse("")).map {
      case (dvRef, group) =>
        val scan = spark.read.schema(schema).parquet(group.map(f =>
          lakeFileUri(tablePath, f.path)): _*)
        val df =
          if (withPath) scan.withColumn("__file", col("_metadata.file_path"))
          else scan
        dvRef match {
          case None => df
          case Some(d) =>
            val keys = spark.read.parquet(lakeFileUri(tablePath, d))
            df.join(broadcast(keys.select(keys.columns.head).distinct()),
              Seq(keys.columns.head), "left_anti")
        }
    }.reduce(_ unionByName _)

  /** The table's carried cluster axis, DROPPED when the current schema
    * no longer has the column: a full rewrite may legally rename or
    * drop it, and re-persisting a dangling name would crash every
    * later maintenance pass with no API path to unset it. */
  private def carriedTsCluster(cur: LakeCommit): Option[String] =
    cur.tsClusterCol.filter(cur.schema.fieldNames.contains)

  /** The DataFrame of a commit: explicit file paths, so a pinned reader
    * keeps its exact version even as newer commits land. */
  private def commitFrame(spark: SparkSession, tablePath: String,
      c: LakeCommit): DataFrame =
    filesFrame(spark, tablePath, c.files, c.schema)

  def latestLakeCommit(spark: SparkSession, tablePath: String): Option[LakeCommit] = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val versions = liveManifestStatuses(fs, table).map(_._1)
    if (versions.isEmpty) None
    else Some(readManifest(fs, table, versions.max))
  }

  /** All live versions' manifest statuses, ascending — the ONE place
    * the `_commits` listing is parsed (any change to the manifest
    * naming scheme lands here and nowhere else). */
  private def liveManifestStatuses(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path)
      : Seq[(Long, org.apache.hadoop.fs.FileStatus)] = {
    val dir = commitsDir(table)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.getPath.getName.startsWith("v") &&
        st.getPath.getName.endsWith(".manifest"))
      .map(st => st.getPath.getName.stripSuffix(".manifest")
        .stripPrefix("v").toLong -> st)
      .sortBy(_._1)
  }

  /** COUNT(*) from MANIFEST METADATA — zero data files opened when the
    * stats cover the table (the Delta-log trick: the footer pass that
    * records key bounds gets each file's exact row count for free, so
    * the most common warehouse query becomes an O(manifest) read).
    * Files without a recorded count (statless commits) or carrying a
    * DELETION VECTOR (physical count ≠
    * logical count, and the sidecar may over-approximate this file's
    * keys) fall back to scanning JUST those files — correctness never
    * depends on the fast path. None before the first commit. */
  def lakeRowCount(spark: SparkSession, tablePath: String): Option[Long] =
    latestLakeCommit(spark, tablePath).map { c =>
      val (counted, scanned) = c.files.partition(f =>
        f.rows.isDefined && f.dv.isEmpty)
      counted.flatMap(_.rows).sum +
        (if (scanned.isEmpty) 0L
         else filesFrame(spark, tablePath, scanned, c.schema).count())
    }

  /** The committed table, resolved through the latest manifest; None
    * before the first commit. */
  def readLake(spark: SparkSession, tablePath: String): Option[DataFrame] =
    latestLakeCommit(spark, tablePath).map(commitFrame(spark, tablePath, _))

  // ------------------------------------------------------ commit loop
  /** One commit attempt as [[commitLoop]] hands it to a verb's body:
    * the snapshot it resolved (None = no commit yet), the version `v`
    * it will claim, its 1-based number `n`, and its own data dir
    * `dataRel` (`data/v<padded><tag><suffix>`), which a lost claim
    * deletes. */
  private final case class Attempt(cur: Option[LakeCommit], v: Long, n: Int,
      dataRel: String)

  /** A body's answer: [[Done]] ends the loop without a commit (a no-op
    * verb); [[Publish]] asks it to claim [[Attempt.v]]. */
  private sealed trait Step[+R]
  private final case class Done[R](result: R) extends Step[R]
  /** Claim the attempt's version with `files`. `dataRel` is the dir the
    * manifest records (the attempt's own, except for a restore);
    * `result` runs after a won claim. `rebase` runs after a lost one,
    * before the attempt counts as lost: Some = it committed the
    * attempt's files another way. */
  private final case class Publish[R](dataRel: String, checkpoint: String,
      files: Seq[LakeFile], schemaJson: String, op: String,
      tsClusterCol: Option[String], result: () => R,
      rebase: () => Option[R] = () => None) extends Step[R]

  /** THE commit loop — every lake commit publishes through here. Each
    * attempt resolves the latest snapshot, runs `body` against it, and
    * claims the next version ([[tryPublishManifest]]). A lost claim
    * means another writer committed first: unless the body's rebase
    * lands, the attempt's own data dir (unreferenced by construction)
    * is deleted and, after a jittered backoff, the body recomputes
    * against the new snapshot. The backoff breaks the livelock two
    * writers with equal-length attempts otherwise fall into (observed:
    * the loser's recompute finishing just after each winner's claim, 8
    * straight losses); it is seeded per (writer, batch) so racing
    * writers desynchronize deterministically.
    *
    * `writer` = Some(writerId) is an OCC writer: its id tags the data
    * dirs (`data/v<N>-<id><dirSuffix>`) so racing writers never
    * interleave bytes before the claim decides the winner. None is a
    * single writer: untagged dirs (`data/v<N><dirSuffix>`) and, by
    * contract, `maxAttempts = 1`, so a lost race fails loudly. Either
    * way the loop gives up with an IllegalStateException after
    * `maxAttempts` lost claims. */
  private def commitLoop[R](spark: SparkSession, tablePath: String,
      verb: String, writer: Option[String], batchId: Long,
      maxAttempts: Int, dirSuffix: String = "")(body: Attempt => Step[R]): R = {
    writer.foreach(w => require(w.nonEmpty && !w.contains("/"),
      "writerId must be a non-empty path-safe token"))
    val tag = writer.map(w => s"-$w").getOrElse("")
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val rnd = new scala.util.Random(writer.getOrElse("").hashCode * 31 + batchId)
    var attempt = 0
    while (attempt < maxAttempts) {
      if (attempt > 0) Thread.sleep(rnd.nextInt(40 * attempt) + 5L)
      attempt += 1
      val cur = latestLakeCommit(spark, tablePath)
      val v = cur.map(_.version + 1).getOrElse(0L)
      val dataRel = s"data/${versionName(v)}$tag$dirSuffix"
      body(Attempt(cur, v, attempt, dataRel)) match {
        case Done(r) => return r
        case p: Publish[R] =>
          if (tryPublishManifest(fs, table, v, p.dataRel, p.checkpoint,
              batchId, p.files, p.schemaJson, p.op,
              cur.map(_.files).getOrElse(Seq.empty), p.tsClusterCol))
            return p.result()
          val rebased = p.rebase()
          if (rebased.isDefined) return rebased.get
          // a restore names its target's dir and wrote none of its own
          if (p.dataRel == dataRel)
            fs.delete(new org.apache.hadoop.fs.Path(table, dataRel), true)
      }
    }
    throw new IllegalStateException(writer match {
      case None => s"$verb lost a commit race on $tablePath (single-writer " +
        "contract); concurrent writers must use its OCC form"
      case Some(_) => s"$verb: $maxAttempts consecutive commit conflicts " +
        s"on $tablePath — raise maxAttempts or reduce writer fan-in"
    })
  }

  /** Write `df` in FULL as the next table version and atomically
    * publish it. Pass `statsKey` to record per-file min/max key stats
    * in the manifest — the metadata [[upsertIntoLake]] needs to later
    * rewrite only the files a batch touches. Returns the committed
    * version number. */
  def commitLakeVersion(df: DataFrame, tablePath: String,
      checkpoint: String, batchId: Long,
      statsKey: Option[String] = None, op: String = "data",
      tsStatsKey: Option[String] = None, bloomBits: Int = 0): Long =
    commitLakeVersionEx(df, tablePath, checkpoint, batchId, statsKey,
      op, tsStatsKey, bloomBits, validate = true)

  /** [[commitLakeVersion]] with an internal validation switch:
    * maintenance callers whose rows are RESIDENT BY CONSTRUCTION
    * (full compaction reads the committed snapshot and writes it
    * back) skip the constraint pass — every resident row already
    * passed at the write that created it, so re-validating the whole
    * table per compaction is a pure O(table) tax. Every row-changing
    * caller keeps `validate = true`. */
  private def commitLakeVersionEx(df: DataFrame, tablePath: String,
      checkpoint: String, batchId: Long,
      statsKey: Option[String], op: String,
      tsStatsKey: Option[String], bloomBits: Int,
      validate: Boolean): Long = {
    val s = df.sparkSession
    commitLoop(s, tablePath, "commitLakeVersion", None, batchId, 1) { at =>
      // the table's persisted cluster axis: set it when the caller
      // declares one, else carry the table property forward so every
      // rewrite keeps recording second-axis bounds (wide bounds beat no
      // bounds — a stat-less file is ALWAYS a band candidate). An
      // EXPLICITLY declared key must exist (exact case) — silently
      // dropping a typo here would also erase a valid carried axis via
      // the orElse; the CARRIED axis filters quietly instead (a full
      // rewrite may legally drop the column — that clears the property)
      tsStatsKey.foreach(k => require(df.schema.fieldNames.contains(k),
        s"tsStatsKey '$k' is not a column of the committed frame " +
          s"(columns: ${df.schema.fieldNames.mkString(", ")})"))
      val effTs = tsStatsKey.orElse(at.cur.flatMap(carriedTsCluster)
        .filter(df.schema.fieldNames.contains))
      if (validate) enforceLakeConstraints(s, tablePath, df)
      // overwrite: an orphan dir from a crashed previous attempt at this
      // same version is unreferenced by construction
      df.write.mode("overwrite").parquet(s"$tablePath/${at.dataRel}")
      // a full rewrite's delta is adds+removes ≥ the full list, so the
      // publisher self-selects the full form; passing the parent is
      // still correct and keeps the decision in one place. A persisted
      // bloom index implies per-file stats on its key even when the
      // caller passed none (the footer pass records the row counts the
      // auto-sizing needs, and key bounds beat no bounds).
      val effStats = statsKey.orElse(lakeBloomIndex(s, tablePath).map(_._1)
        .filter(df.schema.fieldNames.contains))
      val stats = withKeyBlooms(s, tablePath, at.dataRel,
        fileStats(s, tablePath, at.dataRel, effStats, effTs),
        df.schema.fieldNames.toSeq,
        explicitKey = statsKey, explicitBits = bloomBits)
      Publish(at.dataRel, checkpoint, stats, df.schema.json, op,
        effTs, () => at.v)
    }
  }

  /** Per-upsert accounting, returned so callers (and the endurance
    * spec / SCALE.md) can assert the write amplification: bytesWritten
    * is the NEW files only; tableBytes the whole committed version. */
  final case class LakeUpsertResult(version: Long, filesCarried: Int,
      filesRewritten: Int, filesAdded: Int, bytesWritten: Long,
      tableBytes: Long, attempts: Int = 1)

  /** Output-partition count for a commit write of ~`estBytes`:
    * ⌈bytes / target-file-size⌉, target `graft.lake.targetFileMB`
    * (default 128 — the parquet sweet spot), capped so a wildly-off
    * optimizer estimate can't spray tens of thousands of tiny files. */
  private def sizeParts(spark: SparkSession, estBytes: BigInt): Int = {
    val mb = spark.conf.getOption("graft.lake.targetFileMB").map { s =>
      val v = scala.util.Try(s.trim.toLong).getOrElse(
        throw new IllegalArgumentException(
          s"graft.lake.targetFileMB must be a positive integer, got '$s'"))
      require(v > 0 && v <= 16384,
        s"graft.lake.targetFileMB out of range (1..16384): $v")
      v
    }.getOrElse(128L)
    val target = BigInt(mb * 1024L * 1024L)
    ((estBytes + target - 1) / target).max(1).min(4096).toInt
  }

  /** The insert-side byte estimate for [[sizeParts]]. Statless plans
    * (RDD-backed / streaming-derived batches) report
    * `spark.sql.defaultSizeInBytes` = Long.MaxValue from the optimizer —
    * feeding that to sizeParts pins every such upsert at the 4096-part
    * cap, paying a huge range-sample shuffle for a tiny batch. Treat
    * anything at/above the configured default as UNKNOWN and fall back
    * to rows × estimated-row-width (from the schema's default sizes —
    * the same per-type table the optimizer itself uses).
    *
    * JOIN-derived batches (a MERGE lowering's target⋈source, a CDC
    * change set) must NOT trust the top-level estimate: without CBO
    * row counts the optimizer's join estimate is a MULTIPLICATIVE
    * guess over the inputs — a few-MB merge batch can "estimate"
    * terabytes, pinning sizeParts at the 4096-file cap and turning one
    * small commit into thousands of stat-and-bloomed files (measured:
    * the conditional-MERGE drive at 74 s vs ~3 s). For those, SUM THE
    * LEAVES instead: file-backed leaves report real bytes, and every
    * upsert batch here is a KEY-UNIQUE merge (joins on the table's
    * merge key, then filters/anti-joins/unions), so its output volume
    * is bounded by its inputs — a free, honest upper bound where an
    * exact `count()` would re-evaluate the whole change-set plan once
    * per commit (measured +10 % on the CDC-replication drive).
    * BELIEVABLE join estimates are kept: the override applies only
    * when the top-level estimate is implausible (at/above the unknown
    * default, or orders of magnitude past the leaf sum — the
    * multiplicative-guess signature), so a genuinely expanding
    * one-to-many batch still sizes by what the optimizer saw instead
    * of under-partitioning into oversized files. */
  private def insertBytesEstimate(df: DataFrame): BigInt = {
    val plan = df.queryExecution.optimizedPlan
    val stats = plan.stats
    val unknown = BigInt(
      df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val joinInflated = plan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isDefined
    if (!joinInflated && stats.sizeInBytes < unknown) stats.sizeInBytes
    else {
      val leafSizes = plan.collectLeaves().map(_.stats.sizeInBytes)
      if (joinInflated && leafSizes.nonEmpty &&
          leafSizes.forall(_ < unknown)) {
        val leafSum = leafSizes.sum
        if (stats.sizeInBytes < unknown &&
            stats.sizeInBytes <= leafSum * 8) stats.sizeInBytes
        else leafSum
      }
      else {
        val rowWidth = math.max(8L,
          df.schema.fields.map(_.dataType.defaultSize.toLong).sum)
        stats.rowCount match {
          case Some(n) => n * rowWidth
          case None => BigInt(df.count()) * rowWidth // one bounded pass
        }
      }
    }
  }

  /** APPEND-ONLY commit: write `rows` as new files and publish a
    * version carrying every current file BY REFERENCE plus the new
    * ones — no merge join, no rewrite, cost O(batch) regardless of
    * table size. This is the primitive for insert-only ingest and for
    * append LOGS (a change-data feed, an audit trail) where
    * upsert-by-key semantics would be wrong: duplicate keys across
    * appends are kept, never merged. Single-writer (same contract as
    * [[upsertIntoLake]]); the first commit on an empty table is
    * allowed. The batch's columns must match the table's recorded
    * schema by name and type — an append log never evolves silently. */
  def appendToLake(spark: SparkSession, tablePath: String,
      rows: DataFrame, checkpoint: String, batchId: Long,
      statsKey: Option[String] = None,
      bloomBits: Int = 0): LakeUpsertResult = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    commitLoop(spark, tablePath, "appendToLake", None, batchId, 1,
        dirSuffix = "-app") { at =>
      at.cur.foreach { c =>
        val old = c.schema.map(f => (f.name, f.dataType))
        val nw = rows.schema.map(f => (f.name, f.dataType))
        require(old == nw,
          s"appendToLake: batch schema $nw must match the table's $old")
      }
      val carried = at.cur.map(_.files).getOrElse(Seq.empty)
      val effTs = at.cur.flatMap(carriedTsCluster)
        .filter(rows.schema.fieldNames.contains)
      enforceLakeConstraints(spark, tablePath, rows)
      rows.write.mode("overwrite").parquet(s"$tablePath/${at.dataRel}")
      // a persisted bloom index implies per-file stats on its key even
      // when the caller passed none (row counts drive the auto-sizing)
      val effStats = statsKey.orElse(lakeBloomIndex(spark, tablePath)
        .map(_._1).filter(rows.schema.fieldNames.contains))
      val newFiles = withKeyBlooms(spark, tablePath, at.dataRel,
        fileStats(spark, tablePath, at.dataRel, effStats, effTs),
        rows.schema.fieldNames.toSeq,
        explicitKey = statsKey, explicitBits = bloomBits)
      Publish(at.dataRel, checkpoint, carried ++ newFiles,
        rows.schema.json, "data", effTs, () => {
          val bytes = bytesOf(fs, table, newFiles)
          LakeUpsertResult(at.v, carried.size, 0, newFiles.size, bytes,
            bytes + bytesOf(fs, table, carried))
        })
    }
  }

  /** Materialize a rewrite's merged rows ONCE before the
    * range-partitioned write. `repartitionByRange` SAMPLES its child
    * to pick split points, so an unmaterialized child — a touched-file
    * scan + key anti-join + batch union on the commit paths — is
    * computed TWICE per commit (the sampling pass and the write; only
    * shuffle stages are reused between them, and these children are
    * shuffle-free broadcast shapes). The checkpoint bounds storage by
    * the COMMIT's bytes (touched rows + batch — the same bytes the
    * write is about to emit), never the table. Trade-off mirrors the
    * CC loop's: locally-checkpointed blocks die with their executor,
    * turning an executor loss mid-commit into a failed (retryable)
    * commit instead of a recompute. */
  private def materializedRewrite(df: DataFrame): DataFrame =
    df.localCheckpoint(true)

  /** Release a [[materializedRewrite]] frame's blocks eagerly (a
    * commit loop must not accumulate pinned storage; ContextCleaner
    * would only reclaim at some later GC). */
  private def releaseRewrite(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** The subset of `files` some key in `keys` can live in: range
    * semi-join of the (small, broadcastable) file-range list against
    * the distinct keys; stat-less files are conservatively touched.
    * ≤ one row per file reaches the driver. */
  private def touchedFilePaths(spark: SparkSession, files: Seq[LakeFile],
      keys: DataFrame, key: String): Set[String] = {
    import spark.implicits._
    // bound-typed partitions: the sealed trait never enters a DataFrame
    // (no encoder exists for it) — long and string ranges each run
    // their own typed semi-join; Spark's `>=` on StringType is
    // unsigned-UTF-8 binary order, the same collation the bounds were
    // computed under. Mixed/absent bounds → conservatively touched.
    val longRanges = files.collect {
      case LakeFile(p, Some(LongKey(a)), Some(LongKey(b)),
          _, _, _, _, _, _, _) => (p, a, b)
    }
    val strRanges = files.collect {
      case LakeFile(p, Some(StrKey(a)), Some(StrKey(b)),
          _, _, _, _, _, _, _) => (p, a, b)
    }
    val typed = (longRanges.map(_._1) ++ strRanges.map(_._1)).toSet
    val statless = files.map(_.path).filterNot(typed).toSet
    def semiJoin(ranges: DataFrame, k: DataFrame): Set[String] =
      ranges.join(k,
          col("__k") >= col("__lo") && col("__k") <= col("__hi"),
          "left_semi")
        .collect().map(_.getString(0)).toSet
    val longHit =
      if (longRanges.isEmpty) Set.empty[String]
      else semiJoin(longRanges.toDF("__p", "__lo", "__hi"),
        keys.select(col(key).cast("long").as("__k")).distinct())
    val strHit =
      if (strRanges.isEmpty) Set.empty[String]
      else semiJoin(strRanges.toDF("__p", "__lo", "__hi"),
        keys.select(col(key).cast("string").as("__k")).distinct())
    statless ++ longHit ++ strHit
  }

  /** FILE-GRANULAR upsert commit — the operation that makes a streaming
    * MERGE sink runnable at 100 TB. A whole-table merge re-committed
    * through [[commitLakeVersion]] rewrites O(table) bytes per batch;
    * this rewrites only the files whose key range intersects the batch:
    *  1. resolve the current manifest's file list;
    *  2. a file is TOUCHED iff some batch key falls inside its
    *     [minKey, maxKey] (evaluated as one small range join: the
    *     file-range list — ≤ file count, broadcastable — against the
    *     batch's distinct keys; ≤ one row per file returns to the
    *     driver). Files without stats are conservatively touched. A
    *     base row with key k can only live in a file whose range
    *     contains k, so untouched files provably hold no merged keys;
    *  3. anti-join + union ONLY over the touched files' rows, written
    *     to the new version's data dir; per-file stats recomputed from
    *     the new files alone;
    *  4. the new manifest lists carried files BY REFERENCE (same path,
    *     same stats — data dirs are immutable) plus the new files; the
    *     atomic rename publishes as usual.
    * After a key-clustered [[compactLake]] the live version's ranges
    * are disjoint and tight, so a key-local batch touches few files —
    * write amplification drops from O(table) to O(batch + touched
    * files). Keys absent from every range (pure inserts) touch nothing
    * and land only in the new files. First commit on an empty table is
    * a plain full commit. Bytes written per batch are returned for the
    * caller to assert/record.
    *
    * `deleteWhen` makes the upsert a three-clause MERGE INTO in the same
    * one commit (the merge a CDC/decontamination pipeline runs):
    *  - source row matched + `deleteWhen` holds → base row REMOVED;
    *  - source row matched otherwise → base row REPLACED (update);
    *  - source row unmatched and not delete-marked → INSERTED
    *    (a delete-marked key absent from the table is a no-op).
    * Delete-marked keys join the touch set like updates, so the cost
    * stays O(source + touched files). `deleteWhen` evaluates over the
    * source row's columns (null counts as false); such a source may
    * carry source-only columns (a delete marker) that are visible to
    * the condition and never written. */
  def upsertIntoLake(spark: SparkSession, tablePath: String,
      updates: DataFrame, key: String, checkpoint: String,
      batchId: Long, evolveSchema: Boolean = false,
      deleteWhen: Option[Column] = None): LakeUpsertResult =
    upsertWith(spark, tablePath, updates, key, checkpoint, None, batchId,
      maxAttempts = 1, evolveSchema, deleteWhen)

  /** OPTIMISTIC-CONCURRENCY upsert — the multi-writer commit protocol
    * (Delta/Iceberg's optimistic transaction core). Each attempt merges
    * against the latest snapshot, writes its rows to a WRITER-UNIQUE
    * data dir, and tries to claim the next version number through
    * [[commitLoop]]. Losing the claim means another writer committed
    * first: unless the attempt REBASES onto the winner (below), the
    * loser deletes its unreferenced attempt dir and recomputes against
    * the new snapshot.
    *
    * The schedule is SERIALIZABLE by construction — every published
    * version's merge was computed against exactly its predecessor
    * snapshot, so the table history equals applying the committed
    * batches in version order; lost updates are impossible even when
    * writers touch the same keys. A retry costs O(batch + touched
    * files), never O(table) — the file-granular rewrite is what makes
    * optimistic retries affordable at 100 TB. A writer that crashes
    * mid-attempt leaves an unreferenced dir that [[vacuumLake]]'s
    * orphan sweep reclaims.
    *
    * Replay detection under concurrency must scan all live versions
    * (another writer's commit may be the latest) — see
    * [[lakeHasCommit]]. `writerId` doubles as the commit's checkpoint
    * provenance.
    *
    * Fast REBASE on conflict (the Delta conflict-resolution core): our
    * merge's result files stay valid against the winner's newer
    * snapshot iff (a) the winner did not rewrite any file our merge
    * read (else both touched the same rows) and (b) no file the winner
    * ADDED can hold one of our batch's keys (range check — else
    * last-writer-wins would be violated). Then the new manifest is the
    * winner's file list minus our rewritten files plus our new files:
    * pure manifest surgery, zero recompute, zero new bytes. Condition
    * (a) plus the original touch-set stats argument guarantee every row
    * of one of our batch keys lives either in a file we rewrote or in
    * one of our new files. Schema must match the winner's (a
    * concurrent evolution falls back to recompute). A rebased commit
    * counts as the attempt that computed it. The rebase stays sound
    * for a `deleteWhen` MERGE ([[upsertIntoLake]]): condition (b)
    * checks the FULL source, delete-marked keys included. */
  def upsertIntoLakeOcc(spark: SparkSession, tablePath: String,
      updates: DataFrame, key: String, writerId: String,
      batchId: Long, maxAttempts: Int = 8,
      evolveSchema: Boolean = false,
      deleteWhen: Option[Column] = None): LakeUpsertResult =
    upsertWith(spark, tablePath, updates, key, writerId, Some(writerId),
      batchId, maxAttempts, evolveSchema, deleteWhen)

  /** What a lost upsert claim leaves for a rebase: everything needed to
    * re-point the attempt's files at a newer version without
    * recomputing the merge. */
  private final case class UpsertConflict(dataRel: String,
      newFiles: Seq[LakeFile], rewrittenPaths: Set[String],
      basePaths: Set[String], schemaJson: String,
      // dv reference of each file the attempt READ, as of its base
      // snapshot: the rebase is only sound if none changed under us
      baseDv: Map[String, Option[String]])

  /** The one upsert/merge path behind [[upsertIntoLake]] and
    * [[upsertIntoLakeOcc]], with or without `deleteWhen`. `provenance`
    * is the manifest's checkpoint field; `writer` the OCC writer id,
    * or None for a single writer (one attempt, no rebase: a lost claim
    * fails loudly — see [[commitLoop]]). */
  private def upsertWith(spark: SparkSession, tablePath: String,
      updates: DataFrame, key: String, provenance: String,
      writer: Option[String], batchId: Long, maxAttempts: Int,
      evolveSchema: Boolean,
      deleteWhen: Option[Column]): LakeUpsertResult = {
    val verb = "upsertIntoLake" + writer.fold("")(_ => "Occ")
    // rows the merge KEEPS from the source side: delete-marked source
    // rows remove their matched base row and are never inserted (a
    // delete-marked key absent from the table is a no-op)
    def keepRows(df: DataFrame): DataFrame =
      deleteWhen.map(c => df.filter(!coalesce(c, lit(false)))).getOrElse(df)
    // once per batch, not per attempt: constraints gate the ROWS, and
    // the rows don't change across OCC retries (delete-marked rows are
    // removals, not stored rows — exempt)
    enforceLakeConstraints(spark, tablePath, keepRows(updates))
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    def result(v: Long, carried: Seq[LakeFile], rewritten: Int,
        newFiles: Seq[LakeFile], attempt: Int): LakeUpsertResult = {
      val bytesWritten = bytesOf(fs, table, newFiles)
      LakeUpsertResult(v, carried.size, rewritten, newFiles.size,
        bytesWritten, bytesWritten + bytesOf(fs, table, carried), attempt)
    }
    // the rebase fast path (see [[upsertIntoLakeOcc]]); a fallback to
    // recompute is a None
    def rebase(c: UpsertConflict, attempt: Int): Option[LakeUpsertResult] = {
      // a single writer's lost claim breaks its contract: fail loudly
      if (writer.isEmpty) return None
      var i = 0
      while (i < 4 * maxAttempts) {
        val latest = latestLakeCommit(spark, tablePath).get
        val latestByPath = latest.files.map(f => f.path -> f).toMap
        // (a) extends to deletion vectors: a winner that ATTACHED or
        // merged a dv on a file we read changed its logical content in
        // place — our result was computed pre-delete, so re-pointing it
        // would resurrect the deleted rows; path survival alone is not
        // enough
        val aOk = c.rewrittenPaths.forall(p => latestByPath.get(p)
            .exists(_.dv == c.baseDv.getOrElse(p, None)))
        if (!aOk || latest.schemaJson != c.schemaJson) return None
        val winnerNew = latest.files.filterNot(f => c.basePaths(f.path))
        if (touchedFilePaths(spark, winnerNew, updates, key).nonEmpty)
          return None
        val newList = latest.files.filterNot(f => c.rewrittenPaths(f.path)) ++
          c.newFiles
        if (tryPublishManifest(fs, table, latest.version + 1, c.dataRel,
            provenance, batchId, newList, c.schemaJson,
            "data", latest.files, carriedTsCluster(latest)))
          return Some(result(latest.version + 1,
            newList.filterNot(c.newFiles.contains), c.rewrittenPaths.size,
            c.newFiles, attempt))
        // claim raced again — re-read the even newer snapshot and retry
        i += 1
      }
      None
    }
    commitLoop(spark, tablePath, verb, writer, batchId, maxAttempts) { at =>
      val dataRel = at.dataRel
      at.cur match {
        case None =>
          val keep = keepRows(updates)
          keep.write.mode("overwrite").parquet(s"$tablePath/$dataRel")
          val newFiles = withKeyBlooms(spark, tablePath, dataRel,
            fileStats(spark, tablePath, dataRel, Some(key)),
            keep.schema.fieldNames.toSeq)
          Publish(dataRel, provenance, newFiles, keep.schema.json,
            "data", None, () => result(at.v, Seq.empty, 0, newFiles, at.n),
            // a raced first commit is a pure-insert attempt: rebasable
            // if the winner's keys are disjoint (empty base/rewritten sets)
            () => rebase(UpsertConflict(dataRel, newFiles, Set.empty,
              Set.empty, keep.schema.json, Map.empty), at.n))
        case Some(cur) =>
          val base = commitFrame(spark, tablePath, cur)
          // schema evolution (opt-in): the committed schema grows by the
          // update batch's NEW columns; shared columns must keep their
          // type; either side's missing columns null-fill. Off = the
          // strict identical-column-set contract.
          val extra = updates.schema.fields
            .filterNot(f => base.columns.contains(f.name))
          if (!evolveSchema) {
            if (deleteWhen.isDefined)
              // merge sources may carry SOURCE-ONLY columns (a delete
              // marker the table must not evolve to carry): they are
              // visible to `deleteWhen` and never written — the batch
              // must still supply every table column
              require(base.columns.forall(updates.columns.contains),
                s"$verb with deleteWhen requires the source to carry " +
                  "every table column; missing: " + base.columns
                    .filterNot(updates.columns.contains).mkString(", "))
            else require(extra.isEmpty &&
                base.columns.sorted.sameElements(updates.columns.sorted),
              s"$verb requires identical column sets " +
                "(pass evolveSchema=true to add columns)")
          }
          updates.schema.fields.filter(f => base.columns.contains(f.name))
            .foreach { f =>
              val committed = base.schema(f.name).dataType
              require(f.dataType == committed,
                s"column ${f.name}: batch type ${f.dataType} conflicts " +
                  s"with committed type $committed")
            }
          val evolved = org.apache.spark.sql.types.StructType(
            base.schema.fields ++ (if (evolveSchema) extra
            else Array.empty[org.apache.spark.sql.types.StructField]))
          // delete-marked rows participate in the touch set and the
          // anti-join (their base rows must go) but not in the union;
          // the keep-filter runs BEFORE the table-schema projection so
          // `deleteWhen` can reference source-only marker columns
          val upKeep = keepRows(updates).select(evolved.fields.map(f =>
            if (updates.columns.contains(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
          val files = cur.files
          val touched = touchedFilePaths(spark, files, updates, key)
          val (rewritten, carried) = files.partition(f => touched(f.path))
          val merged =
            if (rewritten.isEmpty) upKeep
            else
              // read the subset under the EVOLVED table schema (fixes
              // column order, null-fills columns the files predate) WITH
              // deletion vectors applied — a raw read here would
              // resurrect dv-deleted rows into the rewrite
              filesFrame(spark, tablePath, rewritten, evolved)
                .join(updates.select(col(key)).distinct(), Seq(key), "left_anti")
                .unionByName(upKeep)
          // OPTIMIZED WRITE: without this the merged rows land in the
          // join's HASH partitioning — up to shuffle-partition files per
          // commit, each spanning nearly the whole key domain. A few such
          // commits and every file's range overlaps everything: batch
          // touch-sets balloon, stats-pruned reads stop pruning, and OCC
          // rebases (which need key-disjoint writers to stay disjoint at
          // the FILE level) become impossible. Range-partitioning the
          // merged output keeps each new file's key range tight and
          // disjoint at the cost of one O(batch + touched rows) shuffle.
          // SIZED BY VOLUME, not by touched-file count: a pure-insert
          // commit touches zero files but may carry terabytes — counting
          // files would funnel it through one task into one oversized
          // file. Rewritten bytes are exact (manifest-listed files); the
          // insert side is the optimizer's size estimate of the batch
          // (file-backed sources report real bytes; statless plans fall
          // back to a row-width estimate — see insertBytesEstimate).
          val outParts = sizeParts(spark,
            BigInt(bytesOf(fs, table, rewritten)) +
              insertBytesEstimate(upKeep))
          // one computation of the merged rows (see materializedRewrite)
          val mat = materializedRewrite(merged)
          try mat.repartitionByRange(outParts, col(key))
            .sortWithinPartitions(col(key))
            .write.mode("overwrite").parquet(s"$tablePath/$dataRel")
          finally releaseRewrite(mat)
          // the persisted cluster axis rides into the rewrite's stats:
          // a mid-ingest upsert on a Z-ordered table keeps its rewritten
          // files ts-band prunable (wide bounds beat no bounds) instead
          // of decaying them to always-candidates until the next
          // clustered maintenance pass
          val effTs = carriedTsCluster(cur).filter(evolved.fieldNames.contains)
          val newFiles = withKeyBlooms(spark, tablePath, dataRel,
            fileStats(spark, tablePath, dataRel, Some(key), effTs),
            evolved.fieldNames.toSeq)
          Publish(dataRel, provenance, carried ++ newFiles,
            evolved.json, "data", effTs,
            () => result(at.v, carried, rewritten.size, newFiles, at.n),
            () => rebase(UpsertConflict(dataRel, newFiles,
              rewritten.map(_.path).toSet, files.map(_.path).toSet,
              evolved.json, rewritten.map(f => f.path -> f.dv).toMap),
              at.n))
      }
    }
  }

  /** UPDATE ... SET ... WHERE as ONE scan of the touched files — the
    * SQL UPDATE lowering. The generic upsert lowering (filter the
    * snapshot into a batch, key-touch-set it, anti-join it back)
    * executes the predicate subtree three times and scans the touched
    * files twice more (anti-join left + union right), plus a distinct
    * exchange per side — measured r22 at 4 reads of the touched bytes
    * per statement. An UPDATE's replacement rows are a ROW-LOCAL
    * function of the stored rows, so the rewrite is a per-row CASE:
    *  - scan 1 (pred columns only, filters pushed): which FILES hold a
    *    predicate row — everything else carries by reference;
    *  - scan 2: rewrite exactly those files with
    *    `CASE WHEN pred THEN assignment ELSE column END`.
    * Row-visible results are IDENTICAL to the upsert lowering (same
    * replacement values; a range-intersecting file with no predicate
    * rows keeps its bytes instead of being rewritten verbatim), pinned
    * by LakeSqlSpec's SQL-vs-API parity. A statement no row matches
    * writes nothing and reports the current version. Commits under the
    * OCC claim; a lost race recomputes against the new tip (no rebase
    * fast path — the predicate must re-evaluate against the winner's
    * rows). */
  private[graft] def updateLakeWhereOcc(spark: SparkSession,
      tablePath: String, key: String, pred: Column,
      assigns: Seq[(String, String)], writerId: String, batchId: Long,
      maxAttempts: Int = 8): LakeUpsertResult = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    commitLoop(spark, tablePath, "updateLakeWhereOcc", Some(writerId),
        batchId, maxAttempts) { at =>
      val cur = at.cur.getOrElse(throw new IllegalArgumentException(
        s"updateLakeWhereOcc: $tablePath has no committed version"))
      val schema = cur.schema
      val files = cur.files
      def assignProj(df: DataFrame): Seq[Column] = {
        val byName = assigns.map { case (c, e) => c.toLowerCase -> e }.toMap
        df.schema.fields.toIndexedSeq.map { f =>
          byName.get(f.name.toLowerCase) match {
            case Some(e) =>
              when(pred, expr(e).cast(f.dataType))
                .otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }
      }
      // scan 1: the files that actually HOLD a predicate row — the
      // projection reads only the predicate's columns (plus the file
      // path), so at scale this is a narrow column scan with the
      // predicate pushed to parquet, not a table materialization
      // compared as decoded paths: the scan reports `file:/…` URIs
      // where a qualified Path prints `file:///…`
      val touched =
        if (files.isEmpty) Set.empty[String]
        else filesFrame(spark, tablePath, files, schema, withPath = true)
          .filter(pred).select(col("__file")).distinct().collect()
          .map(r => new java.net.URI(r.getString(0)).getPath).toSet
      def pathOf(f: LakeFile): String = {
        val p = lakeFilePath(table, f.path)
        p.getFileSystem(fs.getConf).makeQualified(p).toUri.getPath
      }
      val (rewritten, carried) = files.partition(f => touched(pathOf(f)))
      // no predicate row: nothing to write, no version to publish
      if (rewritten.isEmpty)
        Done(LakeUpsertResult(cur.version, files.size, 0, 0, 0L,
          bytesOf(fs, table, files), at.n))
      else {
        val dataRel = at.dataRel
        val base = filesFrame(spark, tablePath, rewritten, schema)
        val merged = base.select(assignProj(base): _*)
        // constraints gate the REPLACEMENT rows (the batch the upsert
        // lowering validated); zero-cost when the table declares none
        if (lakeConstraints(spark, tablePath).nonEmpty)
          enforceLakeConstraints(spark, tablePath, merged.filter(pred))
        val outParts = sizeParts(spark,
          BigInt(bytesOf(fs, table, rewritten)))
        // one computation of the CASE-rewritten rows (materializedRewrite)
        val mat = materializedRewrite(merged)
        try mat.repartitionByRange(outParts, col(key))
          .sortWithinPartitions(col(key))
          .write.mode("overwrite").parquet(s"$tablePath/$dataRel")
        finally releaseRewrite(mat)
        val effTs = carriedTsCluster(cur)
        val newFiles = withKeyBlooms(spark, tablePath, dataRel,
          fileStats(spark, tablePath, dataRel, Some(key), effTs),
          schema.fieldNames.toSeq)
        Publish(dataRel, writerId, carried ++ newFiles, cur.schemaJson,
          "data", effTs, () => {
            val bytesWritten = bytesOf(fs, table, newFiles)
            LakeUpsertResult(at.v, carried.size, rewritten.size,
              newFiles.size, bytesWritten,
              bytesWritten + bytesOf(fs, table, carried), at.n)
          })
      }
    }
  }

  /** Whether any LIVE version carries this (checkpoint, batchId)
    * provenance — exactly-once replay detection for concurrent
    * writers, where the latest manifest may belong to a different
    * writer. Cost: one small manifest read per live version (vacuum
    * bounds those). */
  def lakeHasCommit(spark: SparkSession, tablePath: String,
      checkpoint: String, batchId: Long): Boolean = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    lakeVersions(spark, tablePath).exists { v =>
      // RAW read: provenance lives in every manifest (delta or full) —
      // replay detection never needs file lists, so skip resolution
      readRawManifest(fs, table, v) match {
        case Right(c) => c.checkpoint == checkpoint && c.batchId == batchId
        case Left(d) => d.checkpoint == checkpoint && d.batchId == batchId
      }
    }
  }

  /** All (checkpoint, batchId) provenance pairs carried by LIVE
    * versions — the bulk form of [[lakeHasCommit]] for a consumer that
    * replays MANY candidate batches (CDC replication re-syncing a long
    * source history): one raw-manifest read per live version total,
    * instead of one full scan of the live set PER candidate. Raw reads
    * only — provenance lives in every manifest, delta or full, so no
    * file-list resolution happens. */
  def lakeProvenance(spark: SparkSession,
      tablePath: String): Set[(String, Long)] = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    lakeVersions(spark, tablePath).map { v =>
      readRawManifest(fs, table, v) match {
        case Right(c) => (c.checkpoint, c.batchId)
        case Left(d) => (d.checkpoint, d.batchId)
      }
    }.toSet
  }

  // ------------------------------------------------------ constraints
  private def constraintsFile(table: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(table, "_constraints/constraints.tsv")

  /** Named CHECK constraints (Delta's table constraints, a pipeline's
    * "expectations"): SQL predicates every row of the table must
    * satisfy — the data-quality gate a training corpus needs so a bad
    * ingest FAILS instead of silently poisoning downstream epochs.
    * Enforcement is WRITE-TIME and O(batch): each ingest path validates
    * only its incoming rows (resident rows were validated by the write
    * that created them), so the gate costs one extra pass over the
    * batch — never a table scan — and maintenance ops that only MOVE
    * resident rows (compaction, Z-order, deletes) skip it entirely.
    * [[restoreLake]] is the one op that can RESURRECT pre-constraint
    * rows, so it validates its target snapshot before publishing.
    * NULL follows SQL CHECK semantics: a row violates only
    * when the predicate is definitely FALSE.
    *
    * [[setLakeConstraints]] first validates the CURRENT snapshot (the
    * one-time O(table) price of a new invariant), so "every live row
    * satisfies every constraint" holds from the moment it returns.
    * Constraint admin is a single-administrator operation (the file
    * swap is not OCC-protected); writers racing an admin swap see
    * either the old or the new constraint set. */
  def setLakeConstraints(spark: SparkSession, tablePath: String,
      constraints: Map[String, String]): Unit = {
    constraints.foreach { case (n, e) =>
      require(!(n + e).exists(c => c == '\t' || c == '\n'),
        s"constraint '$n': names and expressions must not contain " +
          "tabs or newlines")
    }
    readLake(spark, tablePath).foreach { snap =>
      val bad = violationCounts(snap, constraints)
      require(bad.isEmpty,
        s"setLakeConstraints: existing rows violate " +
          bad.map { case (n, c) => s"$n ($c rows)" }.mkString(", "))
    }
    writeConstraintsFile(spark, tablePath, constraints)
  }

  /** Publish the constraint file as one atomic replace
    * ([[MetaFiles.replace]]), so a writer reading [[lakeConstraints]]
    * mid-swap sees the old set or the new set, NEVER a missing file: a
    * delete-then-rename gap would read as "unconstrained" and admit a
    * violating batch unvalidated. */
  private def writeConstraintsFile(spark: SparkSession, tablePath: String,
      constraints: Map[String, String]): Unit = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    MetaFiles.replace(table.getFileSystem(spark.sessionState.newHadoopConf()),
      constraintsFile(table), constraints.toSeq.sortBy(_._1)
        .map { case (n, e) => s"$n\t$e\n" }.mkString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The table's current constraint set (empty = unconstrained). */
  def lakeConstraints(spark: SparkSession,
      tablePath: String): Map[String, String] = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val f = constraintsFile(table)
    MetaFiles.readText(fs, f).fold(Map.empty[String, String]) { text =>
      text.linesIterator.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        require(i > 0, s"malformed constraint line in $f: $line")
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap
    }
  }

  /** Remove one named constraint (a no-op if absent). Metadata-only:
    * every resident row already passed the REMAINING constraints at
    * write time, so no re-validation scan is ever needed — the reduced
    * file is published directly. */
  def dropLakeConstraint(spark: SparkSession, tablePath: String,
      name: String): Unit = {
    val cur = lakeConstraints(spark, tablePath)
    if (cur.contains(name)) {
      val rest = cur - name
      val table = new org.apache.hadoop.fs.Path(tablePath)
      val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
      if (rest.isEmpty) fs.delete(constraintsFile(table), false)
      else writeConstraintsFile(spark, tablePath, rest)
    }
  }

  /** Per-constraint violation counts over `df`, one aggregate pass for
    * ALL constraints. SQL CHECK nulls: only definite FALSE counts. */
  private def violationCounts(df: DataFrame,
      cons: Map[String, String]): Seq[(String, Long)] = {
    if (cons.isEmpty) return Seq.empty
    val checks = cons.toSeq.sortBy(_._1)
    val row = df.select(checks.map { case (n, e) =>
      sum(when(coalesce(expr(e).cast("boolean"), lit(true)) === false,
        1L).otherwise(0L)).as(n)
    }: _*).head()
    checks.indices
      .map(i => (checks(i)._1, if (row.isNullAt(i)) 0L else row.getLong(i)))
      .filter(_._2 > 0)
  }

  /** The write-path gate: throws (before anything is written) when any
    * incoming row definitely violates a constraint. The batch is
    * aligned to the UNION of its own and the table's committed columns
    * (missing side null-filled) — the same alignment the evolving
    * upsert applies — so a batch that OMITS a constrained column is
    * judged on the null the merge would store for it: `x IS NOT NULL`
    * rejects the omission; a plain range check passes it. */
  /** Constraint-validation passes actually EVALUATED this JVM (calls
    * on unconstrained tables are free and uncounted) — the
    * observability counter the maintenance-skip contract is asserted
    * against: moving resident rows must never re-pay validation. */
  private[graft] val constraintValidations =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def enforceLakeConstraints(spark: SparkSession,
      tablePath: String, batch: DataFrame): Unit = {
    val cons = lakeConstraints(spark, tablePath)
    if (cons.nonEmpty) {
      constraintValidations.incrementAndGet()
      val missing = latestLakeCommit(spark, tablePath)
        .map(_.schema.fields.toSeq).getOrElse(Seq.empty)
        .filterNot(f => batch.columns.contains(f.name))
      val aligned = batch.select(batch.columns.map(col).toIndexedSeq ++
        missing.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
      val bad = violationCounts(aligned, cons)
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          "lake constraint violation — batch rejected, nothing written: " +
            bad.map { case (n, c) =>
              s"$n [${cons(n)}] ($c rows)" }.mkString(", "))
    }
  }

  // --------------------------------------------- bloom data skipping
  /** Probes per bloom membership test (Kirsch–Mitzenmacher double
    * hashing: position_i = h1 + i·h2 mod bits — two xxhash64
    * evaluations per row regardless of probe count). */
  private val BloomHashes = 4

  private def bloomIndexFile(table: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(table, "_props/bloom.tsv")

  /** Declare the table's PERSISTED bloom index: (key column, bits per
    * expected key). From this call on, EVERY path that writes data
    * files — ingest (append/commit/upsert/merge/OCC) and maintenance
    * (compaction, OPTIMIZE-ZORDER, delete rewrites, DV retirement) —
    * attaches a fresh per-file key bloom to its new manifest entries,
    * auto-sized from each file's exact row count, so point-lookup
    * skipping SURVIVES rewrites instead of silently decaying to
    * open-all-files after the first OPTIMIZE (the r17 behavior, where
    * only the append paths knew about blooms). The property rides a
    * tiny table-local file (the same single-administrator posture as
    * the constraints file — atomic replace, writers racing a swap see
    * old or new, never missing); existing files gain blooms as normal
    * maintenance rewrites them — bloom-less entries stay lookup
    * CANDIDATES, so enabling the index is never a correctness event. */
  def setLakeBloomIndex(spark: SparkSession, tablePath: String,
      key: String, bitsPerKey: Int = 10): Unit = {
    require(bitsPerKey >= 2 && bitsPerKey <= 64,
      s"bitsPerKey out of range (2..64): $bitsPerKey")
    require(!key.exists(c => c == '\t' || c == '\n'),
      s"bloom key column name must not contain tabs or newlines: '$key'")
    val table = new org.apache.hadoop.fs.Path(tablePath)
    MetaFiles.replace(table.getFileSystem(spark.sessionState.newHadoopConf()),
      bloomIndexFile(table), s"key\t$key\nbpk\t$bitsPerKey\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The table's persisted bloom index, if declared: (key, bits/key). */
  def lakeBloomIndex(spark: SparkSession,
      tablePath: String): Option[(String, Int)] = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    MetaFiles.readText(fs, bloomIndexFile(table)).flatMap { text =>
      val kv = text.linesIterator.filter(_.nonEmpty).map { ln =>
        val i = ln.indexOf('\t')
        ln.substring(0, i) -> ln.substring(i + 1)
      }.toMap
      for (k <- kv.get("key"); b <- kv.get("bpk")) yield (k, b.toInt)
    }
  }

  /** Per-file bloom sizing from the manifest's exact row count (free —
    * the stats pass records it anyway): bitsPerKey bits per row,
    * rounded up to whole 64-bit words, floored at one word and capped
    * at 1 MiB of bits per file so one oversized file cannot blow the
    * metadata plane. Stat-less entries (no recorded rows) size as one
    * word — a near-empty bloom stays CORRECT (its file simply prunes
    * little), and such entries only arise on no-stats writes that
    * never attach blooms in practice. */
  private def autoBloomBits(rows: Option[Long], bitsPerKey: Int): Int = {
    val r = math.max(1L, rows.getOrElse(1L))
    val raw = r * bitsPerKey
    math.min(8L * 1024 * 1024, math.max(64L, ((raw + 63) / 64) * 64)).toInt
  }

  /** The one bloom-attachment choke point every file-writing path
    * funnels through: attach when the caller passed EXPLICIT
    * (key, bits) — the per-call legacy form, fixed size — or when the
    * table carries a persisted bloom index whose key the written
    * schema contains (auto-sized per file). Anything else passes the
    * entries through untouched. */
  private def withKeyBlooms(spark: SparkSession, tablePath: String,
      dataRel: String, files: Seq[LakeFile], writtenCols: Seq[String],
      explicitKey: Option[String] = None,
      explicitBits: Int = 0): Seq[LakeFile] = {
    if (files.isEmpty) files
    else if (explicitBits > 0 && explicitKey.isDefined)
      attachKeyBlooms(spark, tablePath, dataRel, explicitKey.get, files,
        _ => explicitBits)
    else lakeBloomIndex(spark, tablePath) match {
      case Some((k, bpk)) if writtenCols.contains(k) =>
        attachKeyBlooms(spark, tablePath, dataRel, k, files,
          f => autoBloomBits(f.rows, bpk))
      case _ => files
    }
  }

  /** (h1, h2) per key, computed THROUGH Spark's own xxhash64 so the
    * lookup side can never drift from what the builder hashed (same
    * codegen, same seed, same string cast). `castTo` is the stored
    * COLUMN's type: the builder hashed the column's OWN string cast
    * (a double renders 42.0 as "42.0"), so a probe literal must pass
    * through the column type first or it hashes a different string
    * and wrongly prunes the owning file. One 1-row job per call —
    * point-lookup key sets are driver-bounded by definition. */
  private def keyHashPairs(spark: SparkSession, keys: Seq[Any],
      castTo: Option[org.apache.spark.sql.types.DataType]):
      Seq[(Long, Long)] =
    spark.range(1)
      .select(explode(array(keys.map { k =>
        castTo.fold(lit(k))(t => lit(k).cast(t)).cast("string")
      }: _*)).as("__kv"))
      .select(xxhash64(col("__kv")), xxhash64(col("__kv"), lit(1L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def bloomMayContain(b64: String, h: (Long, Long)): Boolean = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val words = bytes.length / 8
    val bits = words * 64L
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val arr = Array.fill(words)(bb.getLong())
    // mod-first double hashing: every intermediate stays < 4·bits, so
    // the arithmetic is overflow-free on BOTH the ANSI-mode builder
    // and this driver-side test (they must agree bit for bit)
    val r1 = ((h._1 % bits) + bits) % bits
    val r2 = ((h._2 % bits) + bits) % bits
    (0 until BloomHashes).forall { i =>
      val pos = ((r1 + i.toLong * r2) % bits).toInt
      (arr(pos / 64) & (1L << (pos % 64))) != 0L
    }
  }

  /** Attach a per-file KEY BLOOM to freshly-written manifest entries —
    * the manifest-level data-skipping index for POINT LOOKUPS. Min/max
    * bounds prune range reads, but on an append-mostly table every
    * file's range soon spans the key domain and a key probe degrades
    * to opening all N files; a bloom answers "definitely not here" per
    * file from the manifest alone. One distributed pass over the just-
    * written dir (explode to probe positions, `bit_or` per (file,
    * word), ≤ files × words rows to the driver); a file with no
    * non-null keys carries an all-zero bloom (prunes every probe).
    *
    * `bitsFor` sizes each file's bloom INDIVIDUALLY (the persisted
    * index auto-sizes from the manifest's exact row count — a
    * 1000-row straggler file no longer pays a 1M-row file's bloom);
    * the per-file bits ride as a tiny broadcast map keyed by file
    * name, and the probe side recovers each bloom's size from its own
    * decoded length, so mixed sizes coexist in one manifest.
    *
    * METADATA PLANE BOUND: when this dir's encoded blooms together
    * exceed `graft.lake.bloomInlineCapBytes` (default 256 KiB), they
    * SPILL to a `_blooms.tsv` sidecar inside the data dir (the DV
    * posture — `_`-prefixed, invisible to parquet readers, swept with
    * its dir) and each entry carries only the `@<dir>/_blooms.tsv`
    * reference — so a manifest's inline bloom bytes are capped no
    * matter how many files a commit writes, and checkpoints inherit
    * the same bound. */
  private def attachKeyBlooms(spark: SparkSession, tablePath: String,
      dataRel: String, key: String, files: Seq[LakeFile],
      bitsFor: LakeFile => Int): Seq[LakeFile] = {
    if (files.isEmpty) return files
    def nameOf(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val bitsByName = files.map { f =>
      val b = bitsFor(f)
      require(b > 0 && b % 64 == 0,
        s"bloom bits must be a positive multiple of 64, got $b")
      nameOf(f.path) -> b.toLong
    }.toMap
    val bitsCol = element_at(
      typedlit(bitsByName), element_at(split(col("__fn"), "/"), -1))
    val rows = spark.read.parquet(s"$tablePath/$dataRel")
      .select(input_file_name().as("__fn"),
        col(key).cast("string").as("__kv"))
      .filter(col("__kv").isNotNull)
      .withColumn("__bits", bitsCol)
      .filter(col("__bits").isNotNull)
    // mod-first (see bloomMayContain): ANSI mode throws on long
    // overflow, so reduce each hash into [0, bits) before combining
    val h1 = pmod(xxhash64(col("__kv")), col("__bits"))
    val h2 = pmod(xxhash64(col("__kv"), lit(1L)), col("__bits"))
    val probes = (0 until BloomHashes).map(i =>
      pmod(h1 + lit(i.toLong) * h2, col("__bits")).cast("int"))
    val collected = rows
      .select(col("__fn"), explode(array(probes: _*)).as("__pos"))
      .select(col("__fn"), (col("__pos") / 64).cast("int").as("__w"),
        expr("shiftleft(1L, __pos % 64)").as("__m"))
      .groupBy(col("__fn"), col("__w"))
      .agg(bit_or(col("__m")).as("__bits"))
      .collect()
    val byName = collected.groupBy(r =>
      new org.apache.hadoop.fs.Path(r.getString(0)).getName)
    def enc(name: String): String = {
      val words = (bitsByName(name) / 64).toInt
      val arr = new Array[Long](words)
      byName.getOrElse(name, Array.empty[org.apache.spark.sql.Row])
        .foreach(r => arr(r.getInt(1)) = r.getLong(2))
      val bb = java.nio.ByteBuffer.allocate(words * 8)
      arr.foreach(bb.putLong)
      java.util.Base64.getEncoder.withoutPadding.encodeToString(bb.array)
    }
    val encoded = files.map(f => nameOf(f.path) -> enc(nameOf(f.path)))
    val cap = spark.conf.getOption("graft.lake.bloomInlineCapBytes")
      .map(_.trim.toLong).getOrElse(256L * 1024)
    if (encoded.map(_._2.length.toLong).sum <= cap)
      files.map(f => f.copy(bloom =
        Some(encoded.toMap.apply(nameOf(f.path)))))
    else {
      val table = new org.apache.hadoop.fs.Path(tablePath)
      val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
      val sidecarRel = s"$dataRel/_blooms.tsv"
      val out = fs.create(lakeFilePath(table, sidecarRel), true)
      try out.write(encoded.map { case (n, b) => s"$n\t$b\n" }.mkString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      files.map(_.copy(bloom = Some(s"@$sidecarRel")))
    }
  }

  /** Bloom sidecar parses, cached — a data dir is written once and
    * never mutated (versioned dirs), so entries can never go stale;
    * coarse clear-on-overflow like the manifest cache. */
  private val bloomSidecarCache =
    new scala.collection.concurrent.TrieMap[String, Map[String, String]]()

  /** Resolve an entry's bloom to its base64 bitset: inline values
    * pass through; `@<rel>` references load (and cache) the dir's
    * spilled sidecar. None = no bloom for this file (stays a
    * candidate — skipping is an optimization, never a gate). */
  private def resolveBloom(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path, tablePath: String,
      f: LakeFile): Option[String] =
    f.bloom.flatMap { b =>
      if (!b.startsWith("@")) Some(b)
      else {
        val rel = b.drop(1)
        if (bloomSidecarCache.size > 4096) bloomSidecarCache.clear()
        val m = bloomSidecarCache.getOrElseUpdate(
          lakeFileUri(tablePath, rel), {
            val p = lakeFilePath(table, rel)
            MetaFiles.readText(p.getFileSystem(fs.getConf), p)
              .getOrElse("").linesIterator.filter(_.nonEmpty)
              .map { ln =>
                val i = ln.indexOf('\t')
                ln.substring(0, i) -> ln.substring(i + 1)
              }.toMap
          })
        m.get(f.path.substring(f.path.lastIndexOf('/') + 1))
      }
    }

  /** The manifest-pruned candidate file set for a point lookup:
    * range-incompatible files drop first (free when bounds exist),
    * then any file whose bloom rejects every key. Files without
    * stats/bloom stay candidates — skipping is an optimization, never
    * a correctness gate. Package-private so specs can assert the
    * strict-subset scan. */
  private[graft] def lakeFilesForKeys(spark: SparkSession,
      tablePath: String, keys: Seq[Any],
      castTo: Option[org.apache.spark.sql.types.DataType] = None):
      Seq[LakeFile] = {
    val cur = latestLakeCommit(spark, tablePath)
      .getOrElse(throw new IllegalArgumentException(
        s"$tablePath has no committed version"))
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val hashes = keyHashPairs(spark, keys, castTo)
    def inRange(f: LakeFile, k: Any): Boolean =
      (f.minKey, f.maxKey, k) match {
        case (Some(LongKey(lo)), Some(LongKey(hi)), n: Long) =>
          n >= lo && n <= hi
        case (Some(LongKey(lo)), Some(LongKey(hi)), n: Int) =>
          n >= lo && n <= hi
        case (Some(StrKey(lo)), Some(StrKey(hi)), s: String) =>
          KeyBound.strLeq(lo, s) && KeyBound.strLeq(s, hi)
        case _ => true
      }
    cur.files.filter { f =>
      val bloom = resolveBloom(fs, table, tablePath, f)
      keys.zip(hashes).exists { case (k, h) =>
        inRange(f, k) && bloom.forall(b => bloomMayContain(b, h))
      }
    }
  }

  /** The DISTRIBUTED sibling of [[readLakeForKeys]]: rows of the
    * CURRENT snapshot whose `key` range-intersects a key FRAME —
    * keys stay a DataFrame (never collected to the driver, so a
    * million-key merge source is fine), and only the files whose
    * [minKey, maxKey] intersects some key are read (one small range
    * join of the manifest's file list against the distinct keys —
    * the same pruning the upsert's touch set uses), deletion vectors
    * applied. The returned rows are a SUPERSET of the exact matches
    * (range bounds, not per-key equality) — callers join it against
    * their key frame, which is exactly what a MERGE lowering does.
    * Cost: O(touched files), never O(table); an empty table or an
    * all-miss key set reads zero files. */
  def readLakeMatching(spark: SparkSession, tablePath: String,
      keys: DataFrame, key: String): DataFrame = {
    val cur = latestLakeCommit(spark, tablePath)
      .getOrElse(throw new IllegalArgumentException(
        s"readLakeMatching: $tablePath has no committed version"))
    filesFrame(spark, tablePath,
      readLakeMatchingFiles(spark, tablePath, cur, keys, key), cur.schema)
  }

  /** [[readLakeMatching]]'s pruned file list — package-private so specs
    * can count exactly which files the read would open. */
  private[graft] def readLakeMatchingFiles(spark: SparkSession,
      tablePath: String, cur: LakeCommit, keys: DataFrame,
      key: String): Seq[LakeFile] = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val touched = touchedFilePaths(spark, cur.files, keys, key)
    val hit = cur.files.filter(f => touched(f.path))
    bloomRefineMatching(spark, tablePath, table, fs, cur, hit, keys, key)
  }

  /** Total decoded bloom bytes [[bloomRefineMatching]] will broadcast
    * before giving up on refinement — the metadata-plane bound (blooms
    * are capped at 128 KiB each, so this covers ~128 range-surviving
    * candidates; past that, range pruning alone already did its job or
    * the source is table-wide and refinement would cost more than the
    * reads it saves). */
  private val BloomRefineCapBytes = 16L * 1024 * 1024

  /** Bloomed-candidate floor below which [[bloomRefineMatching]] skips
    * its refinement job (r21, guide §1.2: don't spend a job to save
    * less than a job). With ≤ this many candidates, range pruning
    * already did its work: the refinement pass costs one full scan +
    * hash of the distinct source keys, while the most it can save is
    * (candidates − 1) small file reads that the downstream join would
    * filter anyway — measured on the key-local MERGE shape, the
    * refinement job costs more than it returns until candidates exceed
    * a handful. Scattered sources (the shape refinement exists for)
    * always clear the floor: they straddle nearly every file. */
  private val BloomRefineMinCandidates = 3

  /** Refinement jobs actually launched this JVM — observability for the
    * skip contract (a key-local ≤[[BloomRefineMinCandidates]]-candidate
    * read must run ZERO of these; LakeBloomSkipSpec counts). */
  private[graft] val bloomRefineJobs =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** BLOOM refinement for [[readLakeMatching]]: range bounds keep any
    * file whose [min, max] straddles a source key, but a SCATTERED
    * source (the GDPR/takedown merge shape) straddles almost every
    * file while actually living in few — the per-file key blooms the
    * table already maintains answer "definitely not here" per file.
    * The source keys stay a DataFrame: each key is hashed ONCE through
    * the stored column's string cast (the builder's own recipe, so the
    * two sides can never drift), the range-surviving files' decoded
    * bloom words ride ONE small broadcast, and a single
    * keys×candidates pass keeps exactly the files some key may hit —
    * mod-first double hashing unrolled over [[BloomHashes]] probes,
    * all codegen built-ins. Files without a resolvable bloom stay
    * candidates (skipping is an optimization, never a gate); fewer
    * than two bloomed candidates or an over-cap broadcast skips the
    * refinement job entirely. */
  private def bloomRefineMatching(spark: SparkSession, tablePath: String,
      table: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem, cur: LakeCommit,
      hit: Seq[LakeFile], keys: DataFrame, key: String): Seq[LakeFile] = {
    import spark.implicits._
    val resolved: Map[String, String] = hit.flatMap(f =>
      resolveBloom(fs, table, tablePath, f).map(f.path -> _)).toMap
    if (resolved.size <= BloomRefineMinCandidates) return hit
    val decoded = resolved.toSeq.map { case (p, b64) =>
      val bytes = java.util.Base64.getDecoder.decode(b64)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      (p, bytes.length / 8,
        Seq.fill(bytes.length / 8)(bb.getLong()))
    }
    if (decoded.iterator.map(_._2 * 8L).sum > BloomRefineCapBytes)
      return hit
    val colType = cur.schema.fields.find(_.name == key).map(_.dataType)
    val keyStr = colType.fold(col(key))(c => col(key).cast(c))
      .cast("string")
    val joined = keys.select(keyStr.as("__kv")).distinct()
      .crossJoin(broadcast(decoded.toDF("__p", "__nw", "__w")))
      .withColumn("__bits", col("__nw").cast("long") * 64L)
      // mod-first (see bloomMayContain): both hashes reduced into
      // [0, bits) before combining, so ANSI mode can never overflow
      .withColumn("__h1", pmod(xxhash64(col("__kv")), col("__bits")))
      .withColumn("__h2", pmod(xxhash64(col("__kv"), lit(1L)),
        col("__bits")))
    val test = (0 until BloomHashes).map(i => expr(
      s"(element_at(__w, cast(pmod(__h1 + ${i}L * __h2, __bits) / 64 " +
        s"as int) + 1) & shiftleft(1L, cast(pmod(__h1 + ${i}L * __h2, " +
        "__bits) % 64 as int))) != 0")).reduce(_ && _)
    bloomRefineJobs.incrementAndGet()
    val mayHave = joined.filter(test).select(col("__p")).distinct()
      .collect().map(_.getString(0)).toSet
    hit.filter(f => !resolved.contains(f.path) || mayHave(f.path))
  }

  /** POINT LOOKUP through manifest-level data skipping: rows of the
    * CURRENT snapshot whose `key` equals one of `keys`, reading only
    * the files that range bounds + per-file blooms cannot rule out —
    * O(candidate files), never O(table), with deletion vectors
    * applied. The GDPR/audit shape: "show me these ids" against an
    * 800 k-file table should open a handful of files, not 800 k. */
  def readLakeForKeys(spark: SparkSession, tablePath: String,
      key: String, keys: Seq[Any]): DataFrame = {
    require(keys.nonEmpty, "readLakeForKeys needs at least one key")
    val cur = latestLakeCommit(spark, tablePath).get
    // hash probe literals through the stored column's type so their
    // string cast agrees with what the bloom builder hashed
    val colType = cur.schema.fields.find(_.name == key).map(_.dataType)
    filesFrame(spark, tablePath,
      lakeFilesForKeys(spark, tablePath, keys, colType), cur.schema)
      .filter(col(key).isin(keys: _*))
  }

  /** FILE-GRANULAR delete — the removal operation a training-data
    * pipeline needs for takedowns and decontamination: rows whose key
    * appears in `deletes` vanish from the table. Only the files whose
    * key range intersects the delete set are rewritten (anti-join away
    * the deleted keys); every other file carries by reference — cost
    * O(delete set + touched files), never O(table). A delete set
    * hitting nothing publishes a no-op version (provenance still
    * recorded, so replay detection works for delete batches too). */
  def deleteFromLake(spark: SparkSession, tablePath: String,
      deletes: DataFrame, key: String, checkpoint: String,
      batchId: Long): LakeUpsertResult = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    commitLoop(spark, tablePath, "deleteFromLake", None, batchId, 1) { at =>
      val cur = at.cur.getOrElse(throw new IllegalArgumentException(
        s"deleteFromLake: $tablePath has no committed version"))
      val touched = touchedFilePaths(spark, cur.files, deletes, key)
      val (rewritten, carried) = cur.files.partition(f => touched(f.path))
      val newFiles =
        if (rewritten.isEmpty) Seq.empty
        else {
          // same optimized write as the upsert path: keep the surviving
          // rows' files tight and key-disjoint; survivors are bounded
          // by the rewritten files' exact bytes. Materialized once —
          // the range sampler would otherwise re-run the anti-join.
          val mat = materializedRewrite(
            filesFrame(spark, tablePath, rewritten, cur.schema)
              .join(deletes.select(col(key)).distinct(), Seq(key),
                "left_anti"))
          try mat.repartitionByRange(
              sizeParts(spark, BigInt(bytesOf(fs, table, rewritten))),
              col(key))
            .sortWithinPartitions(col(key))
            .write.mode("overwrite").parquet(s"$tablePath/${at.dataRel}")
          finally releaseRewrite(mat)
          withKeyBlooms(spark, tablePath, at.dataRel,
            fileStats(spark, tablePath, at.dataRel, Some(key),
              carriedTsCluster(cur)),
            cur.schema.fieldNames.toSeq)
        }
      Publish(at.dataRel, checkpoint, carried ++ newFiles, cur.schemaJson,
        "delete", carriedTsCluster(cur), () => {
          val bytesWritten = bytesOf(fs, table, newFiles)
          LakeUpsertResult(at.v, carried.size, rewritten.size,
            newFiles.size, bytesWritten,
            bytesWritten + bytesOf(fs, table, carried))
        })
    }
  }

  /** MERGE-ON-READ delete — the DELETION-VECTOR twin of
    * [[deleteFromLake]]. The copy-on-write form rewrites every file
    * whose key range intersects a delete key: for scattered keys (the
    * GDPR single-user shape) that is O(touched bytes) per delete — at
    * 100 TB, potentially the whole table for a handful of keys. This
    * form writes the deleted keys ONCE as a tiny sidecar parquet under
    * `data/v<N>-dv` — O(deleted keys) bytes, zero data files rewritten
    * — and re-points the manifest entries of every file whose key
    * range could hold one of them. Readers apply the sidecar as a
    * BROADCAST anti-join ([[filesFrame]], the single read choke
    * point); any rewrite of an affected file ([[upsertIntoLake]],
    * compaction, OPTIMIZE) reads dv-applied and emits clean files, so
    * vectors retire through normal maintenance and the steady-state
    * read tax stays bounded by deletes-since-last-compaction.
    * Re-insert works naturally: an upsert of a deleted key rewrites
    * the files that could hold it (same touch-set), clearing their
    * vectors in the same commit.
    *
    * A file already carrying a vector gets a MERGED sidecar (its old
    * keys ∪ the new ones) — entries always reference exactly ONE
    * sidecar, and pointing a file at a superset of its own deleted
    * keys is harmless by anti-join semantics. Returns the published
    * version; no-op (current version) when no file can hold any
    * delete key or there is none. */
  def deleteFromLakeDv(spark: SparkSession, tablePath: String,
      deletes: DataFrame, key: String, checkpoint: String,
      batchId: Long): Long =
    deleteDvWith(spark, tablePath, deletes, key, checkpoint, None, batchId,
      maxAttempts = 1)

  /** [[deleteFromLakeDv]] under the OCC multi-writer protocol: each
    * attempt writes a writer-tagged sidecar against the latest
    * snapshot and claims optimistically; on losing it recomputes (the
    * affected set and the merged key union both depend on the
    * snapshot, so nothing can be rebased — but an attempt is
    * O(deleted keys), so retries are near-free, unlike rewrite
    * retries). */
  def deleteFromLakeDvOcc(spark: SparkSession, tablePath: String,
      deletes: DataFrame, key: String, writerId: String, batchId: Long,
      maxAttempts: Int = 8): Long =
    deleteDvWith(spark, tablePath, deletes, key, writerId, Some(writerId),
      batchId, maxAttempts)

  /** The one dv-delete path behind [[deleteFromLakeDv]] and its OCC
    * form (`provenance`/`writer` as in [[upsertWith]]). */
  private def deleteDvWith(spark: SparkSession, tablePath: String,
      deletes: DataFrame, key: String, provenance: String,
      writer: Option[String], batchId: Long, maxAttempts: Int): Long = {
    val verb = "deleteFromLakeDv" + writer.fold("")(_ => "Occ")
    commitLoop(spark, tablePath, verb, writer, batchId, maxAttempts,
        dirSuffix = "-dv") { at =>
      val cur = at.cur.getOrElse(throw new IllegalArgumentException(
        s"$verb: $tablePath has no committed version"))
      val affected = touchedFilePaths(spark, cur.files, deletes, key)
      // stat-less files count as touched by any key set, even an empty
      // one: no key to delete must write no sidecar either
      if (affected.isEmpty || deletes.isEmpty) Done(cur.version)
      else {
        writeDvSidecar(spark, tablePath, cur, affected, deletes, key,
          at.dataRel)
        Publish(at.dataRel, provenance, cur.files.map(f =>
            if (affected(f.path)) f.copy(dv = Some(at.dataRel)) else f),
          cur.schemaJson, "dvdelete", carriedTsCluster(cur), () => at.v)
      }
    }
  }

  /** The merged sidecar for one dv-delete commit: the batch's distinct
    * keys ∪ every key of the affected files' EXISTING sidecars (their
    * entries re-point to this one, so its content must subsume
    * theirs). Single column named after the table key — readers
    * recover the join column from the sidecar schema itself. */
  private def writeDvSidecar(spark: SparkSession, tablePath: String,
      cur: LakeCommit, affected: Set[String], deletes: DataFrame,
      key: String, dvRel: String): Unit = {
    val priorDvs = cur.files.filter(f => affected(f.path))
      .flatMap(_.dv).distinct
    val newKeys = deletes.select(col(key)).distinct()
    val allKeys = priorDvs.foldLeft(newKeys)((acc, d) =>
      acc.unionByName(spark.read.parquet(lakeFileUri(tablePath, d))
        .select(col(key)))).distinct()
    // SHARDED write: sidecars are byte-capped by maintainLake (64 MB
    // default), but a delete wave near the cap — or a raised cap —
    // must not funnel through one task. ~8 MB shards keep write
    // parallelism proportional to the wave while staying a handful of
    // files for the common tiny delete (readers take the whole dir).
    val shardBytes = 8L * 1024 * 1024
    val parts = ((insertBytesEstimate(allKeys) + shardBytes - 1)
      / shardBytes).max(1).min(64).toInt
    allKeys.repartition(parts).write.mode("overwrite")
      .parquet(s"$tablePath/$dvRel")
  }

  /** Key-range read with FILE PRUNING from manifest stats — the
    * data-skipping read path (Delta/Iceberg's core read optimization):
    * files whose [minKey, maxKey] cannot intersect [lo, hi] are never
    * handed to Spark at all, so the FileIndex, the tasks, and the scan
    * cover only candidate files; the residual row filter runs on top
    * (and still prunes row groups via parquet footer stats within each
    * candidate). On a key-clustered table a point/range lookup scans a
    * handful of files out of thousands. Stat-less files are always
    * candidates. None before the first commit. */
  def readLakeKeyRange(spark: SparkSession, tablePath: String,
      key: String, lo: Long, hi: Long): Option[DataFrame] =
    prunedRange(spark, tablePath, f => (f.minKey, f.maxKey) match {
      case (Some(LongKey(a)), Some(LongKey(b))) => b >= lo && a <= hi
      // stat-less or differently-typed bounds: always a candidate
      case _ => true
    }, col(key) >= lo && col(key) <= hi)

  /** [[readLakeKeyRange]] for STRING-keyed tables (md5-hex doc ids —
    * the training-corpus norm): [lo, hi] in unsigned-UTF-8 binary
    * order, the collation the [[StrKey]] stats were computed under and
    * the one Spark's string comparison uses — the residual filter and
    * the file pruning judge the range identically. */
  def readLakeKeyRangeStr(spark: SparkSession, tablePath: String,
      key: String, lo: String, hi: String): Option[DataFrame] =
    prunedRange(spark, tablePath, f => (f.minKey, f.maxKey) match {
      case (Some(StrKey(a)), Some(StrKey(b))) =>
        KeyBound.strLeq(a, hi) && KeyBound.strLeq(lo, b)
      case _ => true
    }, col(key) >= lo && col(key) <= hi)

  /** Range read with SECOND-DIMENSION file pruning: files whose
    * [minTs, maxTs] cannot intersect [lo, hi] never reach the scan.
    * The bounds come from the same footer pass as the key stats (see
    * [[fileStats]]); files without ts stats are always candidates. On
    * a Z-ordered layout BOTH this and [[readLakeKeyRange]] prune to
    * strict file subsets — the two-dimensional locality the Z-order
    * work exists to buy. `tsCol` must be the long column the
    * `tsStatsKey` bounds were recorded over (the engine's events
    * contract: epoch-nanos int64). */
  def readLakeTsRange(spark: SparkSession, tablePath: String,
      tsCol: String, lo: Long, hi: Long): Option[DataFrame] =
    prunedRange(spark, tablePath, f => (f.minTs, f.maxTs) match {
      case (Some(LongKey(a)), Some(LongKey(b))) => b >= lo && a <= hi
      case _ => true
    }, col(tsCol) >= lo && col(tsCol) <= hi)

  /** Range read with N-TH-AXIS file pruning: files whose recorded
    * bounds for `axisCol` (the NAMED `axes` manifest stats an
    * OPTIMIZE-ZORDER records for dimensions beyond the first two)
    * cannot intersect [lo, hi] never reach the scan. Completes the
    * Z-order read story: before this, a predicate on axis 3+ scanned
    * every file and only parquet row-group/page stats saved it — at
    * 100 TB that is an O(files) open cost per query even when the
    * interleave made the axis perfectly prunable. Files without a
    * recorded bound for the axis (pre-OPTIMIZE writes, later upsert
    * rewrites) are conservatively always candidates, and the residual
    * row filter keeps the result exact regardless of stats. */
  def readLakeAxisRange(spark: SparkSession, tablePath: String,
      axisCol: String, lo: Long, hi: Long): Option[DataFrame] =
    prunedRange(spark, tablePath,
      f => f.axes.find(_._1 == axisCol) match {
        case Some((_, LongKey(a), LongKey(b))) => b >= lo && a <= hi
        case _ => true
      }, col(axisCol) >= lo && col(axisCol) <= hi)

  private def prunedRange(spark: SparkSession, tablePath: String,
      candidate: LakeFile => Boolean,
      residual: Column): Option[DataFrame] =
    latestLakeCommit(spark, tablePath).map(c =>
      filesFrame(spark, tablePath, c.files.filter(candidate), c.schema)
        .filter(residual))

  /** Time travel: the table AS OF a specific committed version (must
    * not have been vacuumed). The version list is the audit surface a
    * pipeline uses to pin a training run to the exact table state it
    * read. */
  def readLakeVersion(spark: SparkSession, tablePath: String,
      version: Long): DataFrame = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(manifestPath(table, version)),
      s"version $version of $tablePath does not exist (or was vacuumed)")
    commitFrame(spark, tablePath, readManifest(fs, table, version))
  }

  /** TIME TRAVEL by wall clock — the newest committed version whose
    * commit instant (the store-clock `t` its manifest records) is at
    * or before `tsMillis` (Delta's `TIMESTAMP AS OF`): versions publish
    * sequentially through the atomic claim, so picking the max VERSION
    * among qualifying manifests is correct even if store timestamps
    * jitter within the claim order. None when the table has no
    * version that old (born later) — callers distinguish "didn't
    * exist yet" from "vacuumed" loudly: a version this returns is live
    * by construction (it was listed), so the subsequent read can never
    * hit a dangling pointer. Pass a DRIVER timestamp only if driver and store clocks
    * are aligned; audit pipelines should record the store's own
    * commit instants ([[lakeCommitInstants]]) at write time and replay
    * those. */
  def lakeVersionAsOf(spark: SparkSession, tablePath: String,
      tsMillis: Long): Option[Long] =
    lakeCommitInstants(spark, tablePath)
      .filter { case (_, t) => t <= tsMillis }
      .keys.maxOption

  /** Every live version's (version → store commit instant) — the audit
    * surface a training pipeline records so a run can later be pinned
    * to the exact wall-clock table state it read. The instant is the
    * one PERSISTED INSIDE the manifest at publish time (read from the
    * store's own clock — [[storeNowMillis]]). Instants are then
    * MONOTONIZED over ascending versions (a regressed instant becomes
    * predecessor + 1 ms — Delta's adjusted-commit-timestamp
    * semantics): clock jitter between metadata nodes can otherwise
    * make AS-OF resolution serve a version committed AFTER the pinned
    * instant. */
  def lakeCommitInstants(spark: SparkSession,
      tablePath: String): Map[Long, Long] = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    instantsFrom(fs, table, liveManifestStatuses(fs, table))
  }

  /** Resolved instants for ONE `_commits` listing snapshot — callers
    * that also iterate the version set ([[lakeHistory]]) derive both
    * from the same listing, so a commit or vacuum landing between two
    * listings can never surface as a missing-instant lookup or a ghost
    * version. A version whose manifest vanished between the listing
    * and the content read (concurrent vacuum) is skipped — it is no
    * longer live, which is exactly what the map promises. */
  private def instantsFrom(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path,
      statuses: Seq[(Long, org.apache.hadoop.fs.FileStatus)])
      : Map[Long, Long] = {
    val raw = statuses.flatMap { case (v, _) =>
      try {
        Some(v -> (readRawManifest(fs, table, v) match {
          case Right(c) => c.instantMs
          case Left(d) => d.instantMs
        }))
      } catch {
        case _: java.io.FileNotFoundException => None
      }
    }
    var prev = Long.MinValue
    raw.map { case (v, t) =>
      // STRICTLY increasing (ties adjusted too): on a store with
      // coarse clock granularity two commits can carry the SAME
      // instant, and AS-OF `<= pin` + max-version would then serve
      // the later one at the earlier one's pin — resolving ties
      // upward errs toward the EARLIER version, never future state
      val adj = if (t <= prev) prev + 1 else t
      prev = adj
      v -> adj
    }.toMap
  }

  /** The table AS OF a wall-clock instant ([[lakeVersionAsOf]] +
    * [[readLakeVersion]]). None when the table did not exist yet. */
  def readLakeAsOf(spark: SparkSession, tablePath: String,
      tsMillis: Long): Option[DataFrame] =
    lakeVersionAsOf(spark, tablePath, tsMillis)
      .map(readLakeVersion(spark, tablePath, _))

  /** RESTORE — roll the table back to a live earlier version by
    * publishing a NEW commit whose file list (and schema, and cluster
    * axis) equal that version's resolved state (Delta's `RESTORE
    * TABLE ... TO VERSION AS OF`). Pure metadata: zero data bytes
    * move — the old version's files are still on disk because its
    * manifest is live, and the restore manifest referencing them
    * keeps them live even after vacuum later drops the restored-from
    * version itself (the orphan sweep sees references from ALL live
    * manifests). History is preserved, not rewritten: the bad commits
    * stay inspectable (`DESCRIBE HISTORY` shows the `restore` op on
    * top) and time travel across them still resolves. CDF consumers
    * see the restore as a row-changing commit — the op is typed
    * `restore`, not one of the provably-byte-moving types, so an
    * incremental reader replays the rollback instead of skipping it.
    * Commits through [[commitLoop]] as a single writer (one attempt: a
    * lost race fails loudly). Returns the NEW version number. */
  def restoreLake(spark: SparkSession, tablePath: String,
      version: Long): Long = {
    val target = lakeCommitAt(spark, tablePath, version)
    // a restore target may PREDATE the current constraints — its rows
    // were never validated against them, so publishing it unchecked
    // would silently break "every live row satisfies every
    // constraint"; restore is a rare admin op, so the O(snapshot)
    // validation is the honest price (drop the constraint first to
    // restore to a pre-constraint state deliberately)
    val cons = lakeConstraints(spark, tablePath)
    if (cons.nonEmpty) {
      val bad = violationCounts(readLakeVersion(spark, tablePath, version),
        cons)
      require(bad.isEmpty,
        s"restoreLake: version $version violates the table's current " +
          "constraints — " +
          bad.map { case (n, c) => s"$n ($c rows)" }.mkString(", ") +
          "; drop the constraint first to restore deliberately")
    }
    // the manifest records the TARGET's data dir: a restore writes none
    commitLoop(spark, tablePath, "restoreLake", None, version, 1) { at =>
      Publish(target.dataDir, "restore", target.files, target.schemaJson,
        "restore", target.tsClusterCol, () => at.v)
    }
  }

  /** DESCRIBE HISTORY — one row per live version, newest first: the
    * audit surface operators and pipelines read before time travel,
    * vacuum-retention, or incident forensics (what wrote v17, when,
    * what kind of op). All O(manifests) metadata: version, store
    * commit instant, op type, writer/checkpoint provenance, batch id,
    * file count, and how many entries carry a deletion vector. Built
    * as a local DataFrame (histories are bounded by retention, not
    * data size). */
  def lakeHistory(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    // ONE `_commits` listing backs both the version set and the
    // resolved instants (persisted + monotonized — the same values
    // AS-OF resolution uses, so history and time travel can never
    // disagree about when a version became visible); a second listing
    // here could race a concurrent commit/vacuum into a missing-key
    // lookup or a ghost row. A version vacuumed between the listing
    // and its manifest read is skipped the same way instantsFrom
    // skips it — the row set stays a consistent snapshot.
    val statuses = liveManifestStatuses(fs, table)
    val instants = instantsFrom(fs, table, statuses)
    statuses.reverse.flatMap { case (v, _) =>
      try {
        val c = readManifest(fs, table, v)
        instants.get(v).map(t =>
          (v, t, c.op, c.checkpoint, c.batchId,
            c.files.size.toLong, c.files.count(_.dv.isDefined).toLong))
      } catch {
        case _: java.io.FileNotFoundException => None
      }
    }.toDF("version", "commit_ms", "op", "writer", "batch_id",
      "n_files", "n_dv_files")
  }

  /** DESCRIBE DETAIL — one row for the CURRENT version: the
    * operational snapshot a table owner checks before/after
    * maintenance (is compaction due? how big is the dv read tax? are
    * both cluster axes stat-covered?). Metadata + one listing; no
    * data files are opened. */
  def describeLake(spark: SparkSession, tablePath: String): DataFrame =
    describeLakeAttempt(spark, tablePath, retry = true)

  private def describeLakeAttempt(spark: SparkSession, tablePath: String,
      retry: Boolean): DataFrame = {
    import spark.implicits._
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val cur = latestLakeCommit(spark, tablePath)
      .getOrElse(throw new IllegalArgumentException(
        s"describeLake: $tablePath has no committed version"))
    try {
      // sizes come from the MANIFEST (recorded at write time) — the
      // whole DESCRIBE is O(manifest), no per-file stat loop; only an
      // entry without a recorded length falls back to one stat
      val sizes = cur.files.map(fileLen(fs, table, _))
      val dvDirs = cur.files.flatMap(_.dv).distinct
      val dvBytes = dvDirs.map(d => fs.getContentSummary(
        lakeFilePath(table, d)).getLength).sum
      Seq((cur.version, lakeVersions(spark, tablePath).size.toLong,
        cur.files.size.toLong, sizes.sum,
        if (sizes.isEmpty) 0L else sizes.min,
        if (sizes.isEmpty) 0L else sizes.max,
        cur.files.count(_.dv.isDefined).toLong, dvDirs.size.toLong,
        dvBytes,
        cur.files.count(f => f.minKey.isDefined && f.maxKey.isDefined).toLong,
        cur.files.count(f => f.minTs.isDefined && f.maxTs.isDefined).toLong,
        // -1 = not answerable from metadata alone (stat-less or
        // dv-carrying files would need a scan; lakeRowCount does that);
        // an empty table is trivially 0 rows
        if (cur.files.forall(f => f.rows.isDefined && f.dv.isEmpty))
          cur.files.flatMap(_.rows).sum
        else -1L,
        // the persisted cluster axis — operators check it before
        // relying on two-axis pruning or scheduling OPTIMIZE, so show
        // the CARRIED view (a dangling axis reads as absent, matching
        // what every write/maintenance path does)
        carriedTsCluster(cur).orNull))
        .toDF("version", "n_versions", "n_files", "total_bytes",
          "min_file_bytes", "max_file_bytes", "n_dv_files", "n_dv_sidecars",
          "dv_sidecar_bytes", "n_key_stat_files", "n_ts_stat_files",
          "n_rows_meta", "ts_cluster")
    } catch {
      // TOCTOU next to live maintenance: a concurrent vacuum can
      // retire the just-resolved version between the manifest read and
      // a sidecar listing — re-resolve the new latest once
      // (same retry posture as the OCC paths), then fail loudly
      case _: java.io.FileNotFoundException if retry =>
        describeLakeAttempt(spark, tablePath, retry = false)
    }
  }

  /** The commit record (provenance + file list) of a live version —
    * the inspection API audits and the OCC serializability spec use. */
  def lakeCommitAt(spark: SparkSession, tablePath: String,
      version: Long): LakeCommit = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(manifestPath(table, version)),
      s"version $version of $tablePath does not exist (or was vacuumed)")
    readManifest(fs, table, version)
  }

  /** All live (un-vacuumed) version numbers, ascending. */
  def lakeVersions(spark: SparkSession, tablePath: String): Seq[Long] = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    liveManifestStatuses(fs, table).map(_._1)
  }

  /** Key-level diff between two committed versions: one row per changed
    * key with `change` ∈ insert/update/delete. A full-outer join on the
    * key with a row-hash comparison — one shuffle per side, no driver
    * state; `update` compares the FULL row, so any column drift counts.
    * This is the incremental-consumer contract: a downstream job
    * re-processes exactly the keys a commit touched instead of
    * re-reading the table. */
  def lakeDiff(spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Long, key: String): DataFrame = {
    val from = readLakeVersion(spark, tablePath, fromVersion)
    val to = readLakeVersion(spark, tablePath, toVersion)
    // versions straddling a schema evolution diff over the UNION of
    // their columns, missing side null-filled — a row whose only
    // change is a new column that is null on both sides stays
    // unchanged, matching the reader's null-fill semantics
    val union = from.columns ++ to.columns.filterNot(from.columns.contains)
    def aligned(df: DataFrame): Seq[Column] = union.toIndexedSeq.map(c =>
      if (df.columns.contains(c)) col(c) else lit(null).as(c))
    val fromH = from.select(col(key),
      xxhash64(struct(aligned(from): _*)).as("h_from"))
    val toH = to.select(col(key),
      xxhash64(struct(aligned(to): _*)).as("h_to"))
    fromH.join(toH, Seq(key), "full_outer")
      .withColumn("change",
        when(col("h_from").isNull, lit("insert"))
          .when(col("h_to").isNull, lit("delete"))
          .when(col("h_from") =!= col("h_to"), lit("update")))
      .filter(col("change").isNotNull)
      .select(col(key), col("change"))
  }

  /** Compact the CURRENT version of a manifest-committed table into
    * ~`targetFileMB` files, key-clustered, published as a NEW version.
    * Streaming upserts commit one version per micro-batch at the
    * merge's parallelism — after thousands of batches the live version
    * is a spray of small files. Compaction rewrites it
    * `repartitionByRange(key).sortWithinPartitions(key)` (tight parquet
    * row-group min/max on the key → pushed point/range lookups skip
    * almost everything) and commits through the same atomic manifest
    * rename as any writer: readers are never blocked, never see a
    * half-compacted table, and [[lakeDiff]] between the two versions is
    * EMPTY (spec-pinned) — compaction moves bytes, not rows. Returns
    * the new version number. */
  def compactLake(spark: SparkSession, tablePath: String, key: String,
      targetFileMB: Int = 128): Long = {
    val cur = latestLakeCommit(spark, tablePath)
      .getOrElse(throw new IllegalArgumentException(
        s"compactLake: $tablePath has no committed version"))
    val df = commitFrame(spark, tablePath, cur)
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val bytes = bytesOf(
      table.getFileSystem(spark.sessionState.newHadoopConf()), table,
      cur.files)
    val nFiles = math.max(1, (bytes / (targetFileMB * 1024L * 1024L)).toInt)
    // statsKey: a compacted version's manifest carries tight DISJOINT
    // per-file key ranges (repartitionByRange), the layout that makes
    // the next upsertIntoLake touch few files. validate = false:
    // compaction's rows are resident by construction, so the
    // constraint pass would be a pure O(table) re-validation tax
    commitLakeVersionEx(
      df.repartitionByRange(nFiles, col(key)).sortWithinPartitions(col(key)),
      tablePath, s"compaction:${cur.version}", -1L, Some(key),
      op = "compact", tsStatsKey = None, bloomBits = 0, validate = false)
  }

  /** The maintenance rewrite layout: key-clustered by default; with
    * `tsCluster` set, Z-ordered on (key, ts) WITH the rewritten files'
    * ts bounds re-recorded. On an OPTIMIZE'd two-axis table, plain
    * key-sorted maintenance would decay the time axis twice over —
    * scattering ts across the consolidated files AND dropping their
    * manifest ts stats (stat-less files are always range-read
    * candidates) — so a clustered table passes its second axis down
    * through every rewrite. */
  private def maintenanceWrite(df: DataFrame, nFiles: Int, key: String,
      tsCluster: Option[String], dest: String): Unit = tsCluster match {
    case None =>
      df.repartitionByRange(nFiles, col(key))
        .sortWithinPartitions(col(key))
        .write.mode("overwrite").parquet(dest)
    case Some(ts) =>
      // same loud rejection as optimizeLakeZOrderOcc: a non-castable
      // axis would null every zkey and silently collapse the rewrite
      // into one unsorted file — strictly worse than the key-sorted
      // path — on every maintenance pass
      Seq(key, ts).foreach { c =>
        import org.apache.spark.sql.types._
        val ok = df.schema(c).dataType match {
          case ByteType | ShortType | IntegerType | LongType |
               TimestampType | DateType => true
          case _ => false
        }
        require(ok,
          s"tsCluster maintenance axis $c: ${df.schema(c).dataType} is " +
            "not long-castable — Z-ordered maintenance needs the same " +
            "integer/date/timestamp axes as OPTIMIZE-ZORDER")
      }
      zorderFrame(df, Seq(key, ts))
        .repartitionByRange(nFiles, col("zkey"))
        .sortWithinPartitions(col("zkey"))
        .drop("zkey")
        .write.mode("overwrite").parquet(dest)
  }

  /** PARTIAL compaction: consolidate only the files under
    * `smallFileMB` into ~`targetFileMB` key-clustered files; files
    * already at size are carried by reference, byte-untouched. This is
    * the compaction a 100 TB table actually runs: [[compactLake]]
    * rewrites the WHOLE table — O(table) bytes, the same scale-killer
    * the file-granular upsert removed, one level up — while this costs
    * O(recently-written small bytes) per invocation. Streaming upserts
    * add a few small files per batch; running this periodically keeps
    * the steady state at "a few large files + the most recent batches'
    * small files" with bounded work per cycle. The consolidated files'
    * key ranges may overlap the carried large files' ranges (no global
    * re-sort) — upsert touch-sets and range reads handle overlap
    * correctly, exactly as Delta/Iceberg live with overlapping file
    * ranges between compactions. No-op (current version returned) when
    * fewer than two small files exist. Published through the same
    * atomic manifest claim; [[lakeDiff]] across it is empty. */
  def compactLakeSmallFiles(spark: SparkSession, tablePath: String,
      key: String, smallFileMB: Int = 32, targetFileMB: Int = 128,
      tsCluster: Option[String] = None, minFiles: Int = 1): Long =
    compactSmallWith(spark, tablePath, key, None, 1, smallFileMB,
      targetFileMB, tsCluster, minFiles)

  /** [[compactLakeSmallFiles]] under the OCC multi-writer protocol —
    * the maintenance job a 100 TB table runs CONCURRENTLY with ingest
    * writers. Each attempt compacts the latest snapshot's small files
    * into a writer-tagged data dir and publishes optimistically; on
    * losing the claim the whole attempt recomputes against the new
    * latest (compaction reads only the snapshot it targets, so a
    * retry is always sound — unlike upserts there is nothing to
    * rebase: the winner may have rewritten the very files we
    * consolidated). Lost attempts' data dirs are unreferenced by
    * construction and deleted by the loser; a crashed attempt's dir is
    * reclaimed by [[vacuumLake]]'s orphan sweep — which must itself
    * wait for a write quiescence window (or a grace window): the sweep
    * cannot tell a crashed attempt's orphan from a LIVE attempt's dir
    * about to be published, so vacuum during an active OCC storm would
    * delete data a manifest references moments later.
    * Returns the published version, or the current version when fewer
    * than two small files exist. */
  def compactLakeOcc(spark: SparkSession, tablePath: String, key: String,
      writerId: String, maxAttempts: Int = 8,
      smallFileMB: Int = 32, targetFileMB: Int = 128,
      tsCluster: Option[String] = None, minFiles: Int = 1): Long =
    compactSmallWith(spark, tablePath, key, Some(writerId), maxAttempts,
      smallFileMB, targetFileMB, tsCluster, minFiles)

  /** The one partial-compaction path behind [[compactLakeSmallFiles]]
    * and [[compactLakeOcc]] (`writer` as in [[commitLoop]]). */
  private def compactSmallWith(spark: SparkSession, tablePath: String,
      key: String, writer: Option[String], maxAttempts: Int,
      smallFileMB: Int, targetFileMB: Int, tsCluster: Option[String],
      minFiles: Int): Long = {
    val verb = writer.fold("compactLakeSmallFiles")(_ => "compactLakeOcc")
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    // an OCC compaction's dirs are `data/v<N>-<writer>-cmp`; a single
    // writer's keep the plain `data/v<N>`
    commitLoop(spark, tablePath, verb, writer, -1L, maxAttempts,
        dirSuffix = writer.fold("")(_ => "-cmp")) { at =>
      val cur = at.cur.getOrElse(throw new IllegalArgumentException(
        s"$verb: $tablePath has no committed version"))
      // the persisted cluster axis kicks in when the caller passes
      // none — an OPTIMIZE'd table keeps its two-axis layout through
      // plain maintenance without every scheduler knowing the table's
      // history
      val effTs = tsCluster.orElse(carriedTsCluster(cur))
      val sized = cur.files.map(f => f -> fileLen(fs, table, f))
      val (small, big) = sized.partition(_._2 < smallFileMB * 1024L * 1024L)
      if (small.size < 2) Done(cur.version)
      else {
        val bytes = small.map(_._2).sum
        val nFiles = math.max(math.max(1, minFiles),
          (bytes / (targetFileMB * 1024L * 1024L)).toInt)
        maintenanceWrite(
          filesFrame(spark, tablePath, small.map(_._1), cur.schema),
          nFiles, key, effTs, s"$tablePath/${at.dataRel}")
        Publish(at.dataRel,
          writer.fold(s"compaction-small:${cur.version}")(w =>
            s"compaction-occ:$w"),
          big.map(_._1) ++
            withKeyBlooms(spark, tablePath, at.dataRel,
              fileStats(spark, tablePath, at.dataRel, Some(key), effTs),
              cur.schema.fieldNames.toSeq),
          cur.schemaJson, "compact", effTs, () => at.v)
      }
    }
  }

  /** Rewrite ONLY the deletion-vector-bearing files (dv-applied →
    * clean), carrying everything else by reference — the targeted
    * maintenance that retires merge-on-read vectors and their
    * broadcast-anti-join read tax at O(dv-bearing bytes), not
    * O(table). Row-identity by construction (vectors apply at read on
    * both sides), so it publishes `op = "compact"` and CDF consumers
    * take the zero-cost skip. OCC claim loop: a lost race recomputes
    * against the new tip (the winner may have rewritten or re-vectored
    * the very files targeted). Returns the published version, or the
    * current one when no file carries a vector. */
  def materializeDvOcc(spark: SparkSession, tablePath: String, key: String,
      writerId: String, maxAttempts: Int = 8,
      targetFileMB: Int = 128, tsCluster: Option[String] = None,
      minFiles: Int = 1): Long = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    commitLoop(spark, tablePath, "materializeDvOcc", Some(writerId), -1L,
        maxAttempts, dirSuffix = "-dvm") { at =>
      val cur = at.cur.getOrElse(throw new IllegalArgumentException(
        s"materializeDvOcc: $tablePath has no committed version"))
      val (vectored, clean) = cur.files.partition(_.dv.isDefined)
      if (vectored.isEmpty) Done(cur.version)
      else {
        val effTs = tsCluster.orElse(carriedTsCluster(cur))
        val bytes = bytesOf(fs, table, vectored)
        val nFiles = math.max(math.max(1, minFiles),
          (bytes / (targetFileMB * 1024L * 1024L)).toInt)
        maintenanceWrite(
          filesFrame(spark, tablePath, vectored, cur.schema),
          nFiles, key, effTs, s"$tablePath/${at.dataRel}")
        Publish(at.dataRel, s"dv-materialize:$writerId",
          clean ++
            withKeyBlooms(spark, tablePath, at.dataRel,
              fileStats(spark, tablePath, at.dataRel, Some(key), effTs),
              cur.schema.fieldNames.toSeq),
          cur.schemaJson, "compact", effTs, () => at.v)
      }
    }
  }

  /** What one [[maintainLake]] pass did, for observability/tests. */
  final case class MaintenanceReport(compactedTo: Option[Long],
      dvMaterializedTo: Option[Long], vacuumedTo: Int)

  /** ONE-CALL periodic maintenance — the job a table owner schedules
    * (the policy layer over the mechanisms, so operators stop choosing
    * between five knobs):
    *  1. consolidate small files when ≥ `minSmallFiles` exist
    *     ([[compactLakeOcc]] — safe racing ingest);
    *  2. retire deletion vectors when more than `dvFileFraction` of
    *     files carry one OR the live sidecars' total bytes exceed
    *     `dvMaxSidecarBytes` ([[materializeDvOcc]] — bounds the
    *     merge-on-read read tax at a known ceiling on BOTH axes:
    *     the fraction bounds how many scans pay the anti-join, the
    *     byte cap bounds the broadcast itself — [[writeDvSidecar]]
    *     merges priors, so repeated small deletes below the fraction
    *     threshold grow ONE sidecar without it);
    *  3. vacuum to `keep` versions, honoring a CDF consumer
    *     low-watermark and an orphan grace window (safe near live
    *     writers without quiescence scheduling).
    * Each step is itself OCC-safe, so the whole pass can run
    * concurrently with ingest; thresholds make it cheap when there is
    * nothing to do (metadata-only decisions — file counts and dv
    * flags come from the manifest, sizes from a listing).
    *
    * `tsCluster`: a table kept two-axis prunable by
    * [[optimizeLakeZOrderOcc]] passes its time axis here so BOTH
    * maintenance rewrites (compaction, dv materialization) write
    * Z-ordered output with ts bounds re-recorded — plain key-sorted
    * maintenance would decay the second axis on every pass
    * ([[maintenanceWrite]]). */
  def maintainLake(spark: SparkSession, tablePath: String, key: String,
      writerId: String, keep: Int = 2,
      minSmallFiles: Int = 4, smallFileMB: Int = 32,
      targetFileMB: Int = 128, dvFileFraction: Double = 0.2,
      dvMaxSidecarBytes: Long = 64L * 1024 * 1024,
      tsCluster: Option[String] = None, minFiles: Int = 1,
      protectFrom: Option[Long] = None,
      orphanGraceMs: Long = 3600000L): MaintenanceReport = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val cur = latestLakeCommit(spark, tablePath)
      .getOrElse(throw new IllegalArgumentException(
        s"maintainLake: $tablePath has no committed version"))
    // the small-file census reads lengths from the MANIFEST — the
    // whole decision pass stays O(manifest) instead of one stat RPC
    // per live file (at the 800 k-file delta-protocol design point
    // that was ~800 k serial namenode round trips per maintenance run)
    val small = cur.files.count(f =>
      fileLen(fs, table, f) < smallFileMB * 1024L * 1024L)
    val effTs = tsCluster.orElse(carriedTsCluster(cur))
    val compacted =
      if (small >= minSmallFiles)
        Some(compactLakeOcc(spark, tablePath, key, writerId,
          smallFileMB = smallFileMB, targetFileMB = targetFileMB,
          tsCluster = effTs, minFiles = minFiles))
      else None
    val afterCompact = latestLakeCommit(spark, tablePath).get
    val dvShare =
      afterCompact.files.count(_.dv.isDefined).toDouble /
        math.max(1, afterCompact.files.size)
    // the sidecars are broadcast at every read, so their BYTES are a
    // first-class trigger alongside the file fraction: one listing per
    // distinct live sidecar dir, metadata-only like the rest — and a
    // def, so the listings are skipped entirely when the cheaper
    // manifest-only fraction check has already decided
    def dvBytes: Long = afterCompact.files.flatMap(_.dv).distinct.map { d =>
      fs.getContentSummary(lakeFilePath(table, d)).getLength
    }.sum
    val materialized =
      if (dvShare > dvFileFraction || dvBytes > dvMaxSidecarBytes)
        Some(materializeDvOcc(spark, tablePath, key, writerId,
          targetFileMB = targetFileMB, tsCluster = effTs,
          minFiles = minFiles))
      else None
    val before = lakeVersions(spark, tablePath).size
    vacuumLake(spark, tablePath, keep, protectFrom, orphanGraceMs)
    val dropped = before - lakeVersions(spark, tablePath).size
    MaintenanceReport(compacted, materialized, dropped)
  }

  /** `df` + a `zkey` column Morton-interleaving two long-castable
    * dimensions, extents from ONE in-plan aggregate (1-row frame,
    * broadcast by size — no driver collect, no second scan job
    * scheduled before the write). Cast-to-long matches the pruning
    * comparators' semantics (TimestampType → epoch seconds), so file
    * bounds recorded over the same columns prune reads consistently.
    *
    * Extents are PERCENTILE-CLAMPED (0.1 % / 99.9 %), not raw min/max:
    * one far-outlier key would otherwise stretch the 16-bit bins so
    * the bulk of the table collapses into a handful of bins and
    * within-band locality — the whole point of the Z-order — degrades
    * for everyone. Values outside the clamped extents saturate into
    * the edge bins (`least`/`greatest` before binning), which keeps
    * them sortable and their files' recorded bounds honest: pruning
    * reads the FILE stats ([[fileStats]], true min/max per file),
    * never the bin extents, so clamping affects layout quality only,
    * not correctness. */
  private def zorderFrame(df: DataFrame, dims: Seq[String]): DataFrame = {
    val n = dims.size
    require(n >= 2 && n <= 6,
      s"z-order takes 2..6 dimensions, got $n (${dims.mkString(", ")})")
    // bits per axis so the interleaved key stays inside a non-negative
    // long: 16 for 2-3 axes (the classic Morton widths), narrower past
    // that — resolution per axis trades against axis count, exactly
    // the Z-order contract
    val bits = math.min(16, 62 / n)
    val extCols = dims.zipWithIndex.flatMap { case (c, i) => Seq(
      percentile_approx(col(c).cast("long"), lit(0.001), lit(10000))
        .as(s"z_lo_$i"),
      percentile_approx(col(c).cast("long"), lit(0.999), lit(10000))
        .as(s"z_hi_$i"))
    }
    val ext = df.agg(extCols.head, extCols.tail: _*)
    val clamped = dims.zipWithIndex.foldLeft(df.crossJoin(ext)) {
      case (acc, (c, i)) =>
        acc
          .withColumn(s"z_v_$i", least(greatest(col(c).cast("long"),
            col(s"z_lo_$i")), col(s"z_hi_$i")))
          .withColumn(s"z_bin_$i",
            expr(binSql(s"z_v_$i", s"z_lo_$i", s"z_hi_$i", bits)))
    }
    val zkey = dims.indices.map(i =>
      shiftleft(spreadBitsEvery(col(s"z_bin_$i"), bits, n), i))
      .reduce(_ bitwiseOR _)
    clamped.withColumn("zkey", zkey)
      .drop(dims.indices.flatMap(i =>
        Seq(s"z_v_$i", s"z_bin_$i", s"z_lo_$i", s"z_hi_$i")): _*)
  }

  /** Re-Z-ORDER the whole table on (`key`, `tsKey`) as an OCC
    * maintenance commit — the OPTIMIZE-ZORDER shape (Delta
    * `OPTIMIZE ... ZORDER BY`; reference scopes no lake layer, this is
    * north-star engine depth). Ingest writes arrive key-clustered
    * ([[upsertIntoLake]] sorts rewrites by key), which keeps the KEY
    * axis prunable but scatters the TIME axis across every file; after
    * this rewrite each file covers a compact (key × time) rectangle so
    * range reads prune on EITHER axis ([[readLakeKeyRange]] /
    * [[readLakeTsRange]]), and parquet row-group/page column indexes
    * inherit the same locality within files (ParquetPageIndexSpec).
    * Runs under the OCC claim protocol concurrently with ingest: each
    * attempt rewrites the latest snapshot into a writer-tagged data dir
    * and publishes optimistically; on losing the claim it recomputes
    * from the new tip (a rewrite reads only the snapshot it targets —
    * nothing to rebase). Published with `op = "compact"`: the rewrite
    * is row-identity BY CONSTRUCTION, so CDF consumers take the
    * op-typed zero-cost skip instead of diffing O(table) rewritten
    * bytes. O(table) bytes per run by design — schedule it like any
    * OPTIMIZE, not per-batch; [[compactLakeOcc]] remains the cheap
    * per-wave maintenance. Both dimensions must be long-castable
    * (integer/date/timestamp — epoch-seconds semantics); string keys
    * have no meaningful 2-D interleave and are rejected loudly. */
  def optimizeLakeZOrderOcc(spark: SparkSession, tablePath: String,
      key: String, tsKey: String, writerId: String,
      maxAttempts: Int = 8, targetFileMB: Int = 128,
      minFiles: Int = 1): Long =
    optimizeLakeZOrderOcc(spark, tablePath, Seq(key, tsKey), writerId,
      maxAttempts, targetFileMB, minFiles)

  /** The N-AXIS form (2..6 long-castable dimensions): each file covers
    * a compact N-dimensional box. Manifest-level pruning rides the
    * first two axes (minKey/maxKey + the recorded second-axis bounds,
    * same as the 2-axis form); axes three and up prune at the PARQUET
    * layer — row-group and page min/max stats are tight within a file
    * because the interleave clusters every axis, so a pushed filter on
    * ANY dimension skips most row groups. Per-axis resolution narrows
    * as axes multiply (62 interleaved bits shared — 16/16/16 bits at
    * 2-3 axes, 15 at 4), the standard Z-order trade. */
  def optimizeLakeZOrderOcc(spark: SparkSession, tablePath: String,
      dims: Seq[String], writerId: String, maxAttempts: Int,
      targetFileMB: Int, minFiles: Int): Long = {
    require(dims.size >= 2 && dims.distinct.size == dims.size,
      s"z-order needs >=2 distinct dimensions, got ${dims.mkString(", ")}")
    val key = dims.head
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    commitLoop(spark, tablePath, "optimizeLakeZOrderOcc", Some(writerId),
        -1L, maxAttempts, dirSuffix = "-zord") { at =>
      val cur = at.cur.getOrElse(throw new IllegalArgumentException(
        s"optimizeLakeZOrderOcc: $tablePath has no committed version"))
      val df = filesFrame(spark, tablePath, cur.files, cur.schema)
      dims.foreach { c =>
        import org.apache.spark.sql.types._
        val ok = df.schema(c).dataType match {
          case ByteType | ShortType | IntegerType | LongType |
               TimestampType | DateType => true
          case _ => false
        }
        require(ok,
          s"z-order dimension $c: ${df.schema(c).dataType} is not " +
            "long-castable — a string axis has no meaningful Morton " +
            "interleave (cast-to-long would null out the bin)")
      }
      val bytes = bytesOf(fs, table, cur.files)
      // minFiles is a PARALLELISM floor (readers of a re-ordered table
      // prune file-granularly — one giant file prunes nothing), not a
      // size target
      val nFiles = math.max(math.max(1, minFiles),
        (bytes / (targetFileMB * 1024L * 1024L)).toInt)
      zorderFrame(df, dims)
        .repartitionByRange(nFiles, col("zkey"))
        .sortWithinPartitions(col("zkey"))
        .drop("zkey")
        .write.mode("overwrite").parquet(s"$tablePath/${at.dataRel}")
      // OPTIMIZE declares the table's cluster axis: from here on every
      // writer carries it and keeps recording second-axis bounds
      Publish(at.dataRel, s"zorder-occ:$writerId",
        withKeyBlooms(spark, tablePath, at.dataRel,
          fileStats(spark, tablePath, at.dataRel, Some(key), dims.lift(1),
            extraAxes = dims.drop(2)),
          cur.schema.fieldNames.toSeq),
        cur.schemaJson, "compact", dims.lift(1), () => at.v)
    }
  }

  /** Drop all but the newest `keep` versions — manifests first (so no
    * new reader can resolve a pointer about to dangle), then every data
    * file NO KEPT MANIFEST references. File-granular commits share
    * files across versions by reference, so deletion is reference-
    * counting over the kept manifests, never a per-version dir drop: a
    * file written for version v but carried into v+1's list survives
    * v's manifest. Orphan files from crashed commits (unreferenced by
    * construction) are reclaimed by the same sweep. With the default
    * `orphanGraceMs = 0` it MUST run while no writer (single-writer or
    * OCC) is mid-attempt: the sweep deletes any unreferenced data dir,
    * including one an in-flight OCC attempt is about to publish —
    * schedule vacuum in the maintenance window between write waves,
    * exactly like [[compactLakeOcc]]'s lost-attempt orphans which this
    * same sweep reclaims AFTER the writers quiesce. Passing an
    * `orphanGraceMs` far above the longest plausible attempt (say an
    * hour) lifts that scheduling requirement mechanically: young
    * unreferenced files are presumed live attempts and skipped — the
    * next vacuum reclaims them once aged. `keep ≥ 2` leaves a grace version for readers that
    * resolved just before a commit.
    *
    * `protectFrom` is the CONSUMER LOW-WATERMARK guard: versions
    * `≥ protectFrom` are never dropped regardless of `keep`. A CDF
    * consumer resuming at version v needs v−1 alive to compute a delta
    * ([[graft.streaming.CdfStream.changesForVersion]] falls back to a
    * full bootstrap snapshot when it is not — correct for idempotent
    * sinks, but a re-feed of the whole table); passing the slowest
    * consumer's next-unprocessed version minus one keeps every lagging
    * consumer on the incremental path. */
  def vacuumLake(spark: SparkSession, tablePath: String, keep: Int = 2,
      protectFrom: Option[Long] = None,
      orphanGraceMs: Long = 0L): Unit = {
    require(keep >= 1, "vacuum must keep at least the live version")
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val versions = liveManifestStatuses(fs, table).map(_._1).reverse
    if (versions.isEmpty) return
    val dropped = versions.drop(keep)
      .filterNot(v => protectFrom.exists(v >= _))
    val kept = versions.filterNot(dropped.contains)
      .map(readManifest(fs, table, _))
    if (dropped.nonEmpty) {
      // the oldest KEPT version must stay resolvable after its ancestors'
      // manifests are gone: if it is a delta with no checkpoint yet,
      // materialize its checkpoint (full resolved list — already in
      // `kept`) BEFORE any drop. Newer kept deltas chain down through
      // kept versions to this one.
      val oldestKept = kept.last
      readRawManifest(fs, table, oldestKept.version) match {
        case Left(d) if !fs.exists(checkpointFilePath(table, oldestKept.version)) =>
          writeCheckpointFile(fs, table, oldestKept.version, d.dataRel,
            d.checkpoint, d.batchId, oldestKept.files, d.schemaJson, d.op)
          require(fs.exists(checkpointFilePath(table, oldestKept.version)),
            s"vacuum could not checkpoint v${oldestKept.version} — " +
              "aborting before dropping its ancestors would strand it")
        case _ => ()
      }
      dropped.foreach { v =>
        fs.delete(manifestPath(table, v), false)
        fs.delete(checkpointFilePath(table, v), false)
        // a vacuumed version must FAIL LOUDLY everywhere, including via
        // the parse cache — drop its entries so no path (time travel,
        // lakeCommitAt, chain resolution) can serve a ghost
        Seq(manifestPath(table, v), checkpointFilePath(table, v))
          .foreach { p =>
            if (manifestCache.remove(cacheKey(fs, p)).isDefined)
              manifestCacheN.decrementAndGet()
          }
      }
    }
    // the orphan sweep runs even when no version dropped: crashed OCC
    // attempts accumulate on low-churn tables whose history is already
    // at `keep`, and maintainLake's contract says vacuum reclaims them.
    // EXCEPT at the strict grace-0 contract with nothing dropped: a
    // no-drop vacuum was historically a guaranteed no-op, and callers
    // may schedule it next to live writers on that basis — only a
    // grace window makes the sweep mechanically safe there. A
    // quiescent operator who wants a drop-free grace-0 sweep calls
    // [[sweepLakeOrphans]] explicitly.
    if (dropped.nonEmpty || orphanGraceMs > 0L)
      sweepUnreferencedData(fs, table, kept, orphanGraceMs)
    ()
  }

  /** Reclaim crash orphans WITHOUT touching history — the sweep half of
    * [[vacuumLake]] as a standalone entry point, for tables whose
    * version count is already at `keep` (vacuum's retention logic has
    * nothing to drop there, but crashed/lost OCC attempt dirs and
    * unreferenced dv sidecars still accumulate). Honors the same
    * `orphanGraceMs` contract: with a grace window the sweep is safe
    * to run next to live OCC writers; at the default 0 it requires
    * write quiescence. Returns the number of reclaimed entries
    * (files + whole dirs). */
  def sweepLakeOrphans(spark: SparkSession, tablePath: String,
      orphanGraceMs: Long = 0L): Int = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val live = liveManifestStatuses(fs, table)
      .map { case (v, _) => readManifest(fs, table, v) }
    if (live.isEmpty) return 0
    sweepUnreferencedData(fs, table, live, orphanGraceMs)
  }

  /** The store's own clock, read by stat-ing a just-written probe file
    * under `_commits` — orphan ages are judged store-mtime against
    * store-now, so a skewed DRIVER clock can never age a live OCC
    * attempt's files past the grace window early (the failure mode of
    * `System.currentTimeMillis() - grace` on object stores). Falls
    * back to the driver clock only if the store refuses the probe. */
  private[graft] def storeNowMillis(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path): Long = {
    val probe = new org.apache.hadoop.fs.Path(commitsDir(table),
      s".clock-probe-${java.util.UUID.randomUUID().toString.take(12)}")
    try {
      fs.create(probe, true).close()
      fs.getFileStatus(probe).getModificationTime
    } catch {
      // fallback is the driver clock — log it: silently reverting to
      // the skewed-clock behavior this probe exists to avoid would
      // hide exactly the hazard the grace window guards against
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[lake] store clock probe failed ($e); " +
          "orphan grace falls back to the DRIVER clock")
        System.currentTimeMillis()
    } finally {
      try fs.delete(probe, false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Delete every file under `data/` that no live manifest references,
    * honoring the orphan grace window. `orphanGraceMs` turns the
    * quiescence REQUIREMENT into a mechanical guarantee when
    * maintenance must run near live OCC writers: an unreferenced file
    * younger than the grace may be a LIVE attempt's dir about to be
    * published, so only files older than the window are reclaimed —
    * ages compare the store's modification times against the store's
    * own clock ([[storeNowMillis]]), never the driver's. 0 (the
    * default) keeps the strict write-quiescent contract: reclaim
    * everything unreferenced now. */
  private def sweepUnreferencedData(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path, kept: Seq[LakeCommit],
      orphanGraceMs: Long): Int = {
    // a live spilled-bloom sidecar (`@<dir>/_blooms.tsv`) is metadata a
    // kept manifest still resolves — deleting it would only cost
    // skipping (bloom-less files stay candidates), but there is no
    // reason to decay live lookups on a vacuum
    val refFiles: Set[String] = kept.flatMap(_.files.map(_.path)).toSet ++
      kept.flatMap(_.files.flatMap(_.bloom))
        .filter(_.startsWith("@")).map(_.drop(1))
    // a live deletion-vector reference keeps its whole sidecar dir
    // (deleting a referenced sidecar would RESURRECT its deleted rows)
    val refDirs: Set[String] = kept.flatMap(_.files.flatMap(_.dv)).toSet
    val dataRoot = new org.apache.hadoop.fs.Path(table, "data")
    if (!fs.exists(dataRoot)) return 0
    val cutoff =
      (if (orphanGraceMs > 0L) storeNowMillis(fs, table)
       else System.currentTimeMillis()) - orphanGraceMs
    def oldEnough(st: org.apache.hadoop.fs.FileStatus): Boolean =
      orphanGraceMs <= 0L || st.getModificationTime <= cutoff
    var reclaimed = 0
    fs.listStatus(dataRoot).foreach { dst =>
      val dRel = s"data/${dst.getPath.getName}"
      if (!refDirs.contains(dRel)) {
        val entries = fs.listStatus(dst.getPath)
        val (keepF, dropF) = entries.partition(st =>
          refFiles.contains(s"$dRel/${st.getPath.getName}") ||
            !oldEnough(st))
        if (keepF.isEmpty && oldEnough(dst)) {
          if (fs.delete(dst.getPath, true)) reclaimed += 1
        } else dropF.foreach { st =>
          if (fs.delete(st.getPath, false)) reclaimed += 1
        }
      }
    }
    reclaimed
  }

  // ------------------------------------------------------------ Z-order
  /** A `bits`-wide equi-width bin that FILLS the bin space for any
    * column range, in OVERFLOW-SAFE pure-integer math (never doubles,
    * whose 53-bit mantissa mis-rounds year-of-nanoseconds extents):
    *  - small range (< 2³¹): `(v - lo)·maxBin div range` — the product
    *    stays under 2⁴⁷; a step-divide here would leave the bin space
    *    underfilled (1 500 users → 11 bits → the high Morton bits all
    *    come from the OTHER dimension and the layout degenerates to a
    *    single-column sort — measured, that is how this formula earned
    *    its CASE)
    *  - huge range (≥ 2³¹, e.g. epoch-ns): `(v - lo) div step`,
    *    `step = range div 2^bits + 1` — no product, and the range being
    *    ≫ 2^bits means the bins fill the space anyway.
    * The N-axis interleave narrows `bits` as axes multiply (62 bits
    * shared). SQL-expressible (CASE + div), so the oracle reproduces
    * every bin bit-exactly. */
  private[graft] def binSql(v: String, lo: String, hi: String,
      bits: Int): String = {
    val buckets = 1L << bits
    val maxBin = buckets - 1
    s"""CASE WHEN $hi - $lo >= 2147483648
        THEN ($v - $lo) div (($hi - $lo) div $buckets + 1)
        ELSE (($v - $lo) * $maxBin) div greatest($hi - $lo, 1) END"""
  }

  /** Spread a `bits`-wide value so consecutive input bits land
    * `stride` positions apart — the generalized shift-mask spread for
    * an N-axis Morton key (axis i is the same spread shifted left by
    * i). A fold of ≤16 masked shifts, all codegen'd bitwise Columns. */
  def spreadBitsEvery(c: Column, bits: Int, stride: Int): Column =
    (0 until bits).map(i =>
      shiftleft(c.bitwiseAND(lit(1L << i)), i * (stride - 1)))
      .reduce(_ bitwiseOR _)

  /** SHALLOW CLONE — a real engine operation (Delta's `CREATE TABLE
    * ... SHALLOW CLONE`): publish a v0 at `dstPath` whose manifest
    * references the SOURCE's live files by absolute qualified URI.
    * Zero data bytes move — the clone costs O(manifest) regardless of
    * table size, which is what makes cheap table forks (experiment
    * branches, bench isolation) viable at 100 TB. Writes to the clone
    * land as normal LOCAL files (rewrites gradually replace the
    * absolute references); vacuum/orphan sweeps only ever list the
    * clone's OWN `data/` dir, so the source's files can never be
    * reclaimed through the clone (spec-pinned). Deletion-vector
    * references are qualified the same way, so a cloned dv table reads
    * identically. The source must not be vacuumed below the cloned
    * version while the clone still references its files — same
    * retention contract as any pinned reader. */
  def cloneLakeShallow(spark: SparkSession, srcPath: String,
      dstPath: String): Long = {
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val fs = src.getFileSystem(spark.sessionState.newHadoopConf())
    val cur = latestLakeCommit(spark, srcPath)
      .getOrElse(throw new IllegalArgumentException(
        s"cloneLakeShallow: $srcPath has no committed version"))
    def qualify(rel: String): String =
      fs.makeQualified(lakeFilePath(src, rel)).toString
    // spilled bloom references point into the SOURCE table's data
    // dirs — qualify them like paths/dv so the clone's lookups resolve
    val absFiles = cur.files.map(f =>
      f.copy(path = qualify(f.path), dv = f.dv.map(qualify),
        bloom = f.bloom.map(b =>
          if (b.startsWith("@")) "@" + qualify(b.drop(1)) else b)))
    commitLoop(spark, dstPath, "cloneLakeShallow", None, -1L, 1,
        dirSuffix = "-shallow") { at =>
      require(at.cur.isEmpty, s"cloneLakeShallow: $dstPath already has commits")
      Publish(at.dataRel, s"clone:$srcPath", absFiles, cur.schemaJson,
        "data", carriedTsCluster(cur), () => at.v)
    }
  }
}
