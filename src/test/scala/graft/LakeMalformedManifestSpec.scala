package graft

import graft.sources.LakeLayout

/** A lake manifest is written in one of two forms (full `format:4`,
  * delta `format:5`); anything else on disk is malformed and must fail
  * the read loudly, naming the table and the version, instead of being
  * read as some other table state. */
class LakeMalformedManifestSpec extends SparkSuite {
  import spark.implicits._

  private def stage(): String = {
    val t = java.nio.file.Files.createTempDirectory("graft-malformed").toString
    LakeLayout.commitLakeVersion(
      (0L until 100L).map(k => (k, s"p$k")).toDF("id", "pay")
        .repartitionByRange(2, $"id").sortWithinPartitions($"id"),
      t, "ck", 0L, statsKey = Some("id"))
    t
  }

  private def manifest(t: String, v: Long) =
    java.nio.file.Paths.get(t, "_commits", f"v$v%020d.manifest")

  private def assertLoud(t: String, v: Long): Unit = {
    val e = intercept[IllegalStateException](
      LakeLayout.readLake(spark, t).get.count())
    assert(e.getMessage.contains(t) && e.getMessage.contains(s"version $v"),
      s"the failure must name the table and version: ${e.getMessage}")
  }

  test("a manifest whose header is neither format:4 nor format:5 fails the read") {
    val t = stage()
    // three bare lines: the shape of a headerless dir-pointer manifest
    java.nio.file.Files.write(manifest(t, 1L),
      "data/v00000000000000000000\nck\n1\n".getBytes("UTF-8"))
    assertLoud(t, 1L)
  }

  test("a file entry whose key bound has no l/s type prefix fails the read") {
    val t = stage()
    val v0 = new String(java.nio.file.Files.readAllBytes(manifest(t, 0L)),
      "UTF-8")
    // strip the `l` type prefix from every bound: bare decimal bounds
    val bare = v0.linesIterator.map { ln =>
      if (!ln.startsWith("f\t")) ln
      else ln.split("\t", -1).zipWithIndex.map { case (f, i) =>
        if (i >= 2 && f.matches("l-?\\d+")) f.drop(1) else f
      }.mkString("\t")
    }.mkString("", "\n", "\n")
    assert(bare != v0, "the staged manifest records typed bounds")
    java.nio.file.Files.write(manifest(t, 1L), bare.getBytes("UTF-8"))
    assertLoud(t, 1L)
  }
}
