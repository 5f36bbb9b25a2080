package graft

import graft.operators.IvfIndex
import graft.sources.LakeLayout
import org.apache.hadoop.fs.{FilterFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The raw side of [[FaultyFs]]: a local filesystem under the `faulty`
  * scheme whose output streams fail as [[FaultyFs.failing]] selects. */
class FaultyRawFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    if (FaultyFs.fires("create", f))
      throw new java.io.IOException(s"injected create fault on $f")
    val out = super.createOutputStreamWithMode(f, append, permission)
    if (!FaultyFs.fires("write", f)) out
    else new java.io.FilterOutputStream(out) {
      override def write(b: Int): Unit =
        throw new java.io.IOException(s"injected write fault on $f")
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        write(0)
    }
  }
}

/** A checksummed local filesystem (as `file://` is) registered under
  * `fs.faulty.impl`, failing the create or the write of chosen files. */
class FaultyFs extends LocalFileSystem(new FaultyRawFs) {
  override def getScheme: String = "faulty"
}

object FaultyFs {
  @volatile private var rule: (String, String) = ("", "")

  /** Whether a `kind` ("create" or "write") of `f` must fail: `f` sits
    * directly in a dir named as the active rule says (checksum
    * companions excepted). */
  def fires(kind: String, f: Path): Boolean =
    rule._1 == kind && f.getParent != null &&
      f.getParent.getName == rule._2 && !f.getName.endsWith(".crc")

  /** Run `body` while every `kind` of a file in a dir named `dir` fails. */
  def failing[T](kind: String, dir: String)(body: => T): T = {
    rule = (kind, dir)
    try body finally rule = ("", "")
  }
}

/** A filesystem with no atomic put-if-absent: neither local nor HDFS. */
class NoClaimRawFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("noclaim:///")
}
class NoClaimFs extends FilterFileSystem(new NoClaimRawFs) {
  override def getScheme: String = "noclaim"
}

/** Every lake and IVF commit point publishes through one claim
  * primitive, content first: an I/O error while writing a claim is an
  * error (never a lost race), leaves no claim behind and no tmp file,
  * and the next publish succeeds; a store without an atomic claim fails
  * loudly at its first commit. */
class MetaFilesFaultSpec extends SparkSuite {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  conf.set("fs.faulty.impl", classOf[FaultyFs].getName)
  conf.set("fs.noclaim.impl", classOf[NoClaimFs].getName)

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-fault-$tag").toString

  /** Names in `dir` (checksum companions excepted), empty if absent. */
  private def names(dir: String): Set[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName).toSet
  }

  private def rows(from: Long) =
    (from until from + 20L).map(k => (k, s"p$k")).toDF("id", "pay")

  test("(a) a failed claim write is an IOException, not a lost race, at every commit point") {
    // lake manifest: the claim's content write fails after the store
    // clock probe and the data dir were written
    val t = "faulty://" + tmpDir("lake")
    LakeLayout.commitLakeVersion(rows(0L), t, "ck", 0L, statsKey = Some("id"))
    val before = names(s"$t/_commits")
    intercept[java.io.IOException](FaultyFs.failing("write", "_commits") {
      LakeLayout.commitLakeVersion(rows(20L), t, "ck", 1L)
    })
    assert(names(s"$t/_commits") == before,
      "a failed manifest write publishes nothing and leaves no tmp file")
    assert(LakeLayout.lakeVersions(spark, t) == Seq(0L))
    assert(LakeLayout.commitLakeVersion(rows(20L), t, "ck", 1L) == 1L,
      "the next commit claims the version the failed one did not")

    val idx = "faulty://" + tmpDir("ivf")
    IvfIndex.build(spark, sfDir, idx, cells = 4, iters = 2)
    // generation claim: a create fault at the claim is not "another
    // maintainer committed this generation first"
    intercept[java.io.IOException](FaultyFs.failing("create", "_gen") {
      IvfIndex.build(spark, sfDir, idx, cells = 4, iters = 2)
    })
    assert(names(s"$idx/_gen") == Set("0"))
    assert(IvfIndex.committedGen(spark, idx).contains(0L))

    val root = IvfIndex.layoutRoot(spark, idx)
    // each sidecar kind; `_lstats` is built after an SQ8 marker lands,
    // so its failure must surface rather than being skipped
    for ((kind, build) <- Seq[(String, () => Unit)](
        "_sq8" -> (() => IvfIndex.buildSq8Sidecar(spark, idx)),
        "_lstats" -> (() => IvfIndex.buildSq8Sidecar(spark, idx)),
        "_pq" -> (() => IvfIndex.buildPqSidecar(spark, idx, iters = 2)),
        "_tomb" -> (() => IvfIndex.tombstoneIds(spark, idx,
          Seq(1L).toDF("vec_id"))))) {
      intercept[java.io.IOException](FaultyFs.failing("write", kind)(build()))
      assert(names(s"$root/$kind").isEmpty,
        s"a failed $kind publish leaves no marker and no tmp file")
    }
    assert(names(s"$root/_sq8") == Set("0"),
      "only the SQ8 build whose own marker write succeeded published")
  }

  test("(b) a tombstone publish whose write fails leaves no marker: deleted ids stay hidden and the next publish lands") {
    val idx = "faulty://" + tmpDir("tomb")
    IvfIndex.build(spark, sfDir, idx, cells = 4, iters = 2)
    val root = IvfIndex.layoutRoot(spark, idx)
    val Array(a, b) = spark.read.parquet(s"$root/vectors")
      .select($"vec_id", $"embedding").orderBy($"vec_id").limit(2).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
    def served(v: (Long, Array[Double])): Boolean =
      IvfIndex.probeTopK(spark, idx, v._2, k = 5, nprobe = 4)
        .collect().map(_.getLong(0)).contains(v._1)
    assert(served(a) && served(b))

    IvfIndex.tombstoneIds(spark, idx, Seq(a._1).toDF("vec_id"))
    assert(!served(a))
    intercept[java.io.IOException](FaultyFs.failing("write", "_tomb") {
      IvfIndex.tombstoneIds(spark, idx, Seq(b._1).toDF("vec_id"))
    })
    assert(names(s"$root/_tomb") == Set("0"),
      "the failed publish left no (empty) marker that would shadow v0")
    assert(!served(a), "ids deleted before the failed publish stay hidden")
    assert(served(b))

    IvfIndex.tombstoneIds(spark, idx, Seq(b._1).toDF("vec_id"))
    assert(names(s"$root/_tomb").contains("1"))
    assert(!served(a) && !served(b), "the next publish lands")
  }

  test("(c) a commit on a store without an atomic claim fails loudly and names its scheme") {
    val t = "noclaim://" + tmpDir("noclaim")
    val e = intercept[UnsupportedOperationException](
      LakeLayout.commitLakeVersion(rows(0L), t, "ck", 0L))
    assert(e.getMessage.contains("'noclaim'"), e.getMessage)
    assert(LakeLayout.lakeVersions(spark, t).isEmpty)
    assert(!names(s"$t/_commits").exists(_.startsWith(".tmp")),
      "the refused claim wrote no tmp file")
  }
}
