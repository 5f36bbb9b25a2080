package graft

import graft.sources.{LakeLayout, LakeSql}
import org.apache.spark.sql.functions.expr

/** SQL `UPDATE` and `DELETE` over tables a deletion vector or missing key
  * stats make awkward: an UPDATE of a table carrying a deletion vector
  * rewrites exactly what the upsert lowering would, and a statement that
  * matches no row writes nothing and publishes no version. */
class LakeSqlDmlSpec extends SparkSuite {
  import spark.implicits._

  private def stage(statsKey: Option[String]): String = {
    val t = java.nio.file.Files.createTempDirectory("graft-dml").toString
    LakeLayout.commitLakeVersion(
      (0L until 120L).map(k => (k, k % 5, s"p$k")).toDF("id", "grp", "pay")
        .repartitionByRange(3, $"id").sortWithinPartitions($"id"),
      t, "ck", 0L, statsKey = statsKey)
    t
  }

  private def rowsOf(t: String): Seq[(Long, Long, String)] =
    LakeLayout.readLake(spark, t).get.as[(Long, Long, String)].collect()
      .toSeq.sorted

  /** Every file under the table, metadata and data alike. */
  private def fileCount(t: String): Int =
    java.nio.file.Files.walk(java.nio.file.Paths.get(t))
      .filter(java.nio.file.Files.isRegularFile(_)).count().toInt

  test("SQL UPDATE of a table with deletion vectors equals the upsert lowering") {
    val (sqlT, apiT) = (stage(Some("id")), stage(Some("id")))
    val doomed = Seq(3L, 8L, 13L, 64L, 101L).toDF("id")
    Seq(sqlT, apiT).foreach(t =>
      LakeLayout.deleteFromLakeDv(spark, t, doomed, "id", "ck", 1L))
    val pred = "grp = 3 AND id < 100"

    LakeSql.register(spark, "dml_dv", sqlT, key = Some("id"))
    LakeSql.sql(spark, s"UPDATE dml_dv SET pay = concat(pay, '!') WHERE $pred")
      .collect()
    // the generic lowering: the matching rows, rewritten, upserted
    val batch = LakeLayout.readLake(spark, apiT).get.filter(expr(pred))
      .withColumn("pay", expr("concat(pay, '!')"))
    LakeLayout.upsertIntoLake(spark, apiT, batch, "id", "ck", 2L)

    val got = rowsOf(sqlT)
    assert(got == rowsOf(apiT))
    assert(got.count(_._3.endsWith("!")) == 17 && got.size == 115,
      "deleted rows stay deleted and only predicate rows change")
  }

  test("UPDATE and DELETE that match no row write no file and publish no version") {
    // no key stats: every file is a candidate for any delete key
    val t = stage(None)
    LakeSql.register(spark, "dml_none", t, key = Some("id"))
    val (v0, files0, rows0) = (LakeLayout.lakeVersions(spark, t),
      fileCount(t), rowsOf(t))

    val upd = LakeSql.sql(spark,
      "UPDATE dml_none SET pay = 'x' WHERE grp = 9").head()
    assert(upd.getAs[Long]("files_rewritten") == 0L)
    assert(upd.getAs[Long]("version") == 0L, "reports the current version")
    val del = LakeSql.sql(spark, "DELETE FROM dml_none WHERE grp = 9").head()
    assert(del.getAs[Long]("version") == 0L, "reports the current version")

    assert(fileCount(t) == files0, "no data file, sidecar or manifest")
    assert(LakeLayout.lakeVersions(spark, t) == v0)
    assert(rowsOf(t) == rows0)
  }
}
