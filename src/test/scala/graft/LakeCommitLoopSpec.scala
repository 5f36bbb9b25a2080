package graft

import graft.sources.LakeLayout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A rival writer that commits while an attempt computes: when the
  * batch is evaluated it may copy the table's live latest manifest to
  * the next version number, so the attempt's claim of that number is
  * lost deterministically. The copy carries the latest version's rows,
  * so the table's contents do not change.
  *
  *  - `once`: copy at the first evaluation only.
  *  - `everyAttempt`: copy at the first evaluation of every attempt.
  *    An attempt's first evaluation is its touch set; a claim (its tmp
  *    manifest write) is the only thing that changes `_commits` between
  *    one attempt's evaluations and the next attempt's, so a changed
  *    `_commits` mtime arms the next copy.
  *
  * State is process-global: local-mode executors run in the driver's
  * JVM. */
object RivalCommit {
  private final case class State(table: String, everyAttempt: Boolean,
      var active: Boolean = true, var copies: Int = 0,
      var commitsMtime: Option[java.nio.file.attribute.FileTime] = None)
  private var state: Option[State] = None

  def once(table: String): Unit = synchronized {
    state = Some(State(table, everyAttempt = false))
  }
  def everyAttempt(table: String): Unit = synchronized {
    state = Some(State(table, everyAttempt = true))
  }
  def copies: Int = synchronized(state.map(_.copies).getOrElse(0))
  def disarm(): Unit = synchronized(state.foreach(_.active = false))

  private def manifest(table: String, v: Long) =
    new java.io.File(s"$table/_commits", f"v$v%020d.manifest")

  def latest(table: String): Long =
    new java.io.File(s"$table/_commits").list().toSeq
      .collect { case n if n.matches("v\\d+\\.manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }.max

  /** Called once per evaluated batch row. */
  def fire(): Unit = synchronized {
    state.filter(_.active).foreach { s =>
      val commits = java.nio.file.Paths.get(s"${s.table}/_commits")
      def mtime = java.nio.file.Files.getLastModifiedTime(commits)
      val armed =
        if (s.everyAttempt) !s.commitsMtime.contains(mtime) else s.copies == 0
      if (armed) {
        val v = latest(s.table)
        java.nio.file.Files.copy(manifest(s.table, v).toPath,
          manifest(s.table, v + 1).toPath)
        s.copies += 1
        s.commitsMtime = Some(mtime)
      }
    }
  }
}

/** The lost-claim and give-up branches of the lake's one commit loop:
  * a single-writer verb throws on a lost claim and cleans up after
  * itself, an OCC verb recomputes (or rebases) past one lost claim, and
  * gives up after exactly `maxAttempts` lost claims. */
class LakeCommitLoopSpec extends SparkSuite {
  import spark.implicits._

  /** v0 (4 key-range files over ids 0..399) plus one upsert, so the
    * recorded schema is the one every later upsert computes. */
  private def freshTable(): String = {
    val t = java.nio.file.Files.createTempDirectory("graft-loop").toString
    LakeLayout.commitLakeVersion(
      (0L until 400L).map(k => (k, s"v$k")).toDF("id", "v")
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      t, "ck", 0L, statsKey = Some("id"))
    LakeLayout.upsertIntoLake(spark, t, Seq((7L, "seed")).toDF("id", "v"),
      "id", "ck", 1L)
    t
  }

  /** One row for key 105 (inside the second file's range), filtered
    * through the rival: a single-partition range, so Spark evaluates
    * the filter only when a job runs, never while planning. */
  private val rival = udf { (_: Long) => RivalCommit.fire(); true }
    .asNondeterministic()
  private def batch(withValue: Boolean): DataFrame = {
    val ids = spark.range(105L, 106L, 1L, 1).toDF("id")
    val rows = if (withValue) ids.select(col("id"), lit("new").as("v")) else ids
    rows.filter(rival(col("id")))
  }

  private def rows(t: String, v: Long): Set[(Long, String)] =
    LakeLayout.readLakeVersion(spark, t, v).as[(Long, String)].collect().toSet

  /** Every dir under `data/` is referenced by some live manifest. */
  private def assertNoOrphanDirs(t: String): Unit = {
    val live = LakeLayout.lakeVersions(spark, t)
      .map(LakeLayout.lakeCommitAt(spark, t, _))
    val referenced = live.flatMap(c =>
      c.files.map(f => f.path.take(f.path.lastIndexOf('/'))) ++
        c.files.flatMap(_.dv)).toSet
    val dirs = new java.io.File(s"$t/data").list().map(d => s"data/$d").toSet
    assert(dirs.subsetOf(referenced),
      s"unreferenced data dirs: ${dirs -- referenced}")
  }

  private def withRival[A](arm: => Unit)(body: => A): A = {
    arm
    try body finally RivalCommit.disarm()
  }

  test("single-writer upsert and dv delete throw on a lost claim, leaving no orphan") {
    val t = freshTable()
    val n = LakeLayout.latestLakeCommit(spark, t).get.version
    val before = rows(t, n)
    val e1 = intercept[IllegalStateException](withRival(RivalCommit.once(t)) {
      LakeLayout.upsertIntoLake(spark, t, batch(withValue = true), "id",
        "ck", 2L)
    })
    assert(e1.getMessage.contains("lost a commit race"), e1.getMessage)
    assert(LakeLayout.latestLakeCommit(spark, t).get.version == n + 1)
    assert(rows(t, n + 1) == before, "the rival's copy holds vN's rows")
    assertNoOrphanDirs(t)

    val e2 = intercept[IllegalStateException](withRival(RivalCommit.once(t)) {
      LakeLayout.deleteFromLakeDv(spark, t, batch(withValue = false), "id",
        "ck", 3L)
    })
    assert(e2.getMessage.contains("lost a commit race"), e2.getMessage)
    assert(LakeLayout.latestLakeCommit(spark, t).get.version == n + 2)
    assert(rows(t, n + 2) == before)
    assertNoOrphanDirs(t)
  }

  test("OCC dv delete recomputes past one lost claim; OCC upsert rebases") {
    val t = freshTable()
    val n = LakeLayout.latestLakeCommit(spark, t).get.version
    val v = withRival(RivalCommit.once(t)) {
      LakeLayout.deleteFromLakeDvOcc(spark, t, batch(withValue = false),
        "id", "wD", 2L)
    }
    assert(RivalCommit.latest(t) == n + 2 && v == n + 2,
      s"the recompute publishes vN+2 after the rival's vN+1, got $v")
    assert(!rows(t, v).exists(_._1 == 105L))
    assertNoOrphanDirs(t)

    val m = v
    val r = withRival(RivalCommit.once(t)) {
      LakeLayout.upsertIntoLakeOcc(spark, t, batch(withValue = true), "id",
        "wU", 3L)
    }
    assert(r.attempts == 1, s"a rebase is not a new attempt: $r")
    assert(r.version == m + 2, s"rebased onto the rival's vN+1: $r")
    val dataDir = LakeLayout.lakeCommitAt(spark, t, r.version).dataDir
    assert(dataDir.startsWith(f"data/v${m + 1}%020d-wU"),
      s"a rebase re-points the attempt's own files: $dataDir")
    assert(rows(t, r.version).contains((105L, "new")))
    assertNoOrphanDirs(t)
  }

  test("an OCC verb gives up after exactly maxAttempts lost claims") {
    val t = freshTable()
    val n = LakeLayout.latestLakeCommit(spark, t).get.version
    val e = intercept[IllegalStateException](
      withRival(RivalCommit.everyAttempt(t)) {
        LakeLayout.deleteFromLakeDvOcc(spark, t, batch(withValue = false),
          "id", "wG", 2L, maxAttempts = 3)
      })
    assert(RivalCommit.copies == 3,
      s"one lost claim per attempt, got ${RivalCommit.copies}")
    assert(e.getMessage.contains("3 consecutive commit conflicts"),
      e.getMessage)
    assert(RivalCommit.latest(t) == n + 3)
    assertNoOrphanDirs(t)
  }
}
