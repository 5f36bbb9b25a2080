package graft

import graft.sources.{LakeLayout, LakeSql}
import org.apache.spark.sql.types.{LongType, StringType}

/** A lake table whose every row was deleted behaves like any table with
  * zero rows: reads, metadata counts, range reads, SQL DML and later
  * writes all work. Covered for both delete shapes — the copy-on-write
  * rewrite and a deletion-vector delete retired by materialization. */
class LakeEmptyTableSpec extends SparkSuite {
  import spark.implicits._

  private val columns = Seq("id" -> LongType, "grp" -> LongType,
    "pay" -> StringType)

  private def stage(): String = {
    val t = java.nio.file.Files.createTempDirectory("graft-empty").toString
    LakeLayout.commitLakeVersion(
      (0L until 300L).map(k => (k, k % 7, s"p$k")).toDF("id", "grp", "pay")
        .repartitionByRange(3, $"id").sortWithinPartitions($"id"),
      t, "ck", 0L, statsKey = Some("id"))
    t
  }

  private def allKeys = (0L until 300L).toDF("id")

  /** Every check an empty table must pass, ending with an upsert that
    * makes it non-empty again. */
  private def assertBehavesEmpty(t: String, name: String): Unit = {
    def rows = LakeLayout.readLake(spark, t).get
    assert(rows.count() == 0L, "every row was deleted")
    assert(rows.schema.map(f => f.name -> f.dataType) == columns,
      s"an empty table keeps its schema: ${rows.schema}")
    assert(LakeLayout.lakeRowCount(spark, t).contains(0L))
    assert(LakeLayout.describeLake(spark, t).select("n_rows_meta")
      .head().getLong(0) == 0L, "DESCRIBE answers 0 rows from metadata")
    assert(LakeLayout.readLakeKeyRange(spark, t, "id", 0L, 1000L).get
      .count() == 0L)

    LakeSql.register(spark, name, t, key = Some("id"))
    val vUpdate = LakeSql.sql(spark,
      s"UPDATE $name SET pay = 'x' WHERE grp = 1").head().getAs[Long]("version")
    assert(LakeLayout.lakeVersions(spark, t).contains(vUpdate))
    LakeSql.sql(spark, s"DELETE FROM $name WHERE grp = 1").collect()
    assert(rows.count() == 0L, "DML over an empty table adds no rows")

    LakeLayout.upsertIntoLake(spark, t,
      Seq((5L, 1L, "back")).toDF("id", "grp", "pay"), "id", "ck", 100L)
    assert(rows.as[(Long, Long, String)].collect().toSeq ==
      Seq((5L, 1L, "back")), "a later upsert commits and reads back")
    assert(LakeLayout.lakeRowCount(spark, t).contains(1L))
  }

  test("a table emptied by a copy-on-write delete behaves like an empty table") {
    val t = stage()
    LakeLayout.deleteFromLake(spark, t, allKeys, "id", "ck", 1L)
    assertBehavesEmpty(t, "empty_cow")
  }

  test("a table emptied by a deletion-vector delete and materialized behaves like an empty table") {
    val t = stage()
    LakeLayout.deleteFromLakeDvOcc(spark, t, allKeys, "id", "w1", 1L)
    assert(LakeLayout.readLake(spark, t).get.count() == 0L)
    LakeLayout.materializeDvOcc(spark, t, "id", "w1")
    assert(LakeLayout.latestLakeCommit(spark, t).get.files
      .forall(_.dv.isEmpty), "materialization retires every vector")
    assertBehavesEmpty(t, "empty_dv")
  }
}
