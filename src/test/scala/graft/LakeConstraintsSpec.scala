package graft

import graft.sources.LakeLayout
import org.apache.spark.sql.functions._

/** CHECK constraints on lake tables ([[LakeLayout.setLakeConstraints]]):
  * the write-time data-quality gate. Every ingest path must reject a
  * violating batch BEFORE publishing (table state unchanged), resident
  * rows are validated once at constraint-set time, SQL CHECK null
  * semantics hold (only definite FALSE violates), delete-marked merge
  * rows are exempt, and an evolving batch that omits a constrained
  * column is judged on the null the merge would store. */
class LakeConstraintsSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def seed(table: String): Unit =
    LakeLayout.commitLakeVersion(
      (1L to 8L).map(k => (k, k * 10, s"v$k")).toDF("id", "score", "v")
        .repartitionByRange(2, col("id")).sortWithinPartitions(col("id")),
      table, "seed", 0L, statsKey = Some("id"))

  test("setLakeConstraints validates resident rows; violating batches are rejected with no new version") {
    val table = freshTable("graft-cons")
    seed(table)
    // resident rows all have score >= 10 — a tighter invariant fails fast
    val ex = intercept[IllegalArgumentException] {
      LakeLayout.setLakeConstraints(spark, table,
        Map("score_high" -> "score >= 50"))
    }
    assert(ex.getMessage.contains("score_high"))
    assert(LakeLayout.lakeConstraints(spark, table).isEmpty,
      "a failed set must not publish the constraint file")

    LakeLayout.setLakeConstraints(spark, table,
      Map("score_pos" -> "score > 0", "id_set" -> "id IS NOT NULL"))
    assert(LakeLayout.lakeConstraints(spark, table).keySet ==
      Set("score_pos", "id_set"))

    val before = LakeLayout.lakeVersions(spark, table)
    val up = intercept[IllegalArgumentException] {
      LakeLayout.upsertIntoLake(spark, table,
        Seq((9L, -5L, "bad"), (10L, 7L, "ok")).toDF("id", "score", "v"),
        "id", "w", 1L)
    }
    assert(up.getMessage.contains("score_pos") &&
      up.getMessage.contains("1 rows"),
      s"violation must name the constraint and count: ${up.getMessage}")
    assert(LakeLayout.lakeVersions(spark, table) == before,
      "a rejected batch must publish nothing")
    intercept[IllegalArgumentException] {
      LakeLayout.appendToLake(spark, table,
        Seq((11L, 0L, "zero")).toDF("id", "score", "v"), "w", 2L)
    }
    intercept[IllegalArgumentException] {
      LakeLayout.upsertIntoLakeOcc(spark, table,
        Seq((12L, -1L, "bad")).toDF("id", "score", "v"), "id", "wr", 3L)
    }
    assert(LakeLayout.lakeVersions(spark, table) == before)

    // a clean batch flows through, and NULL passes a plain CHECK
    // (SQL semantics: only definite FALSE violates)
    LakeLayout.upsertIntoLake(spark, table,
      Seq((13L, Some(70L), "ok"), (14L, None, "nullish"))
        .toDF("id", "score", "v"),
      "id", "w", 4L)
    val rows = LakeLayout.readLake(spark, table).get
      .filter(col("id") >= 13L).collect()
    assert(rows.length == 2, "null score passes 'score > 0' per SQL CHECK")
  }

  test("merge exempts delete-marked rows; an omitted constrained column is judged as null; drop re-opens the gate") {
    val table = freshTable("graft-cons-merge")
    seed(table)
    LakeLayout.setLakeConstraints(spark, table,
      Map("v_set" -> "v IS NOT NULL"))

    // the delete-marked row (marker: v IS NULL) would violate `v_set`
    // as a stored row — as a removal it must not trip the gate; the
    // kept row is valid
    LakeLayout.upsertIntoLake(spark, table,
      Seq((2L, 0L, null.asInstanceOf[String]),
        (9L, 90L, "ins")).toDF("id", "score", "v"),
      "id", "w", 1L, deleteWhen = Some(col("v").isNull))
    val ids = LakeLayout.readLake(spark, table).get
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(2L) && ids.contains(9L))

    // an evolving batch that OMITS v stores null for it — `v IS NOT
    // NULL` must reject the omission before anything lands
    intercept[IllegalArgumentException] {
      LakeLayout.upsertIntoLake(spark, table,
        Seq((20L, 5L)).toDF("id", "score"), "id", "w", 2L,
        evolveSchema = true)
    }

    LakeLayout.dropLakeConstraint(spark, table, "v_set")
    assert(LakeLayout.lakeConstraints(spark, table).isEmpty)
    LakeLayout.upsertIntoLake(spark, table,
      Seq((20L, 5L)).toDF("id", "score"), "id", "w", 3L,
      evolveSchema = true)
    assert(LakeLayout.readLake(spark, table).get
      .filter(col("id") === 20L).count() == 1)
  }

  test("maintenance that only moves resident rows pays NO constraint validation; row-changing writes still do") {
    val table = freshTable("graft-cons-maint")
    seed(table)
    LakeLayout.setLakeConstraints(spark, table,
      Map("score_pos" -> "score > 0"))
    def validations = LakeLayout.constraintValidations.get()

    // a row-changing ingest pays exactly one validation pass
    val v0 = validations
    LakeLayout.upsertIntoLake(spark, table,
      Seq((100L, 5L, "new")).toDF("id", "score", "v"), "id", "w", 1L)
    assert(validations == v0 + 1, "an upsert validates its batch once")

    // maintenance moves resident rows — already validated at their
    // own write — so NONE of these may re-pay the O(table) pass:
    // full compaction, small-file compaction, OPTIMIZE-ZORDER, and a
    // DV delete (removals add nothing to validate)
    val v1 = validations
    LakeLayout.compactLake(spark, table, "id")
    LakeLayout.compactLakeSmallFiles(spark, table, "id", minFiles = 2)
    LakeLayout.optimizeLakeZOrderOcc(spark, table, "id", "score",
      writerId = "w1", minFiles = 2)
    LakeLayout.deleteFromLakeDv(spark, table, Seq(2L).toDF("id"),
      "id", "w", 2L)
    LakeLayout.materializeDvOcc(spark, table, "id", writerId = "w2")
    assert(validations == v1,
      s"maintenance must never re-validate resident rows " +
        s"(${validations - v1} extra passes)")

    // the gate itself still stands after all that maintenance
    val ex = intercept[IllegalArgumentException] {
      LakeLayout.appendToLake(spark, table,
        Seq((999L, -1L, "bad")).toDF("id", "score", "v"), "w", 3L)
    }
    assert(ex.getMessage.contains("constraint violation"), ex.getMessage)
  }

  test("restore validates its target against current constraints — pre-constraint rows cannot resurrect silently") {
    val table = freshTable("graft-cons-restore")
    // v0 carries a row that a LATER constraint forbids; v1 fixes it
    LakeLayout.commitLakeVersion(
      Seq((1L, -5L, "bad"), (2L, 20L, "ok")).toDF("id", "score", "v"),
      table, "seed", 0L, statsKey = Some("id"))
    LakeLayout.upsertIntoLake(spark, table,
      Seq((1L, 15L, "fixed")).toDF("id", "score", "v"), "id", "w", 1L)
    LakeLayout.setLakeConstraints(spark, table,
      Map("score_pos" -> "score > 0")) // current snapshot (v1) passes

    val versions = LakeLayout.lakeVersions(spark, table)
    val ex = intercept[IllegalArgumentException] {
      LakeLayout.restoreLake(spark, table, 0L)
    }
    assert(ex.getMessage.contains("score_pos"),
      s"restore must name the violated constraint: ${ex.getMessage}")
    assert(LakeLayout.lakeVersions(spark, table) == versions,
      "a rejected restore must publish nothing")

    // the deliberate path: drop the constraint, then restore
    LakeLayout.dropLakeConstraint(spark, table, "score_pos")
    LakeLayout.restoreLake(spark, table, 0L)
    assert(LakeLayout.readLake(spark, table).get
      .filter(col("score") < 0).count() == 1,
      "after an explicit drop the pre-constraint snapshot restores")
  }
}
