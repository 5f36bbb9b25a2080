package graft

import graft.sources.LakeQueries
import org.apache.spark.sql.functions._

/** Parquet BLOOM FILTERS for point lookups on columns the sort order
  * does not cover. Row-group/page min-max stats (ParquetPageIndexSpec)
  * prune RANGE predicates on the clustering axes; an equality lookup
  * on a scattered high-cardinality column (event_id inside a
  * zkey-sorted layout) defeats min/max — every row group's range spans
  * nearly the whole domain — and its uniqueness defeats dictionary
  * filtering too. A per-row-group bloom filter
  * (`parquet.bloom.filter.enabled#col`) lets the reader skip row
  * groups that definitely lack the value: the third within-file
  * pruning lever, orthogonal to both stats and dictionaries, bought at
  * write time for ~bits-per-distinct-value. At 100 TB this is the
  * difference between a needle lookup scanning one row group per file
  * and scanning every row group whose (useless) range admits it. */
class ParquetBloomSpec extends SparkSuite {

  private def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head.metrics("numOutputRows").value
  }

  test("point lookup on a scattered column: bloom skips row groups min/max cannot") {
    val sf01 = "/root/testdata/sf0.1"
    def write(dir: String, bloom: Boolean): Unit = {
      val w = LakeQueries.zorderKeyed(spark, sf01)
        .repartitionByRange(4, col("zkey"))
        .sortWithinPartitions(col("zkey"))
        .write
        .option("parquet.block.size", (64 * 1024).toString)
      (if (bloom)
        w.option("parquet.bloom.filter.enabled#event_id", "true")
          .option("parquet.bloom.filter.expected.ndv#event_id", "100000")
      else w).mode("overwrite").parquet(dir)
    }
    val plain = java.nio.file.Files.createTempDirectory("graft-nobloom").toString
    val bloomed = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    write(plain, bloom = false)
    write(bloomed, bloom = true)
    // a value that exists exactly once, from the middle of the table
    val needle = spark.read.parquet(plain).select("event_id")
      .orderBy("event_id").limit(50001).orderBy(desc("event_id"))
      .head().getLong(0)
    def lookup(dir: String) =
      spark.read.parquet(dir).filter(col("event_id") === needle)
    assert(lookup(bloomed).count() == 1 && lookup(plain).count() == 1,
      "needle must exist exactly once in both layouts")
    val total = spark.read.parquet(plain).count()
    val rowsPlain = scanRows(lookup(plain))
    val rowsBloom = scanRows(lookup(bloomed))
    info(s"total=$total materialized plain=$rowsPlain bloom=$rowsBloom")
    // event_id partially correlates with the time z-axis, so min/max
    // prunes SOME row groups — but a one-row lookup still materializes
    // ≥ a twentieth of the table on stats alone (measured ~10%)
    assert(rowsPlain > total / 20 && rowsPlain > 100 * 1,
      s"expected stats-only pruning to leave orders of magnitude on " +
        s"the table, got $rowsPlain/$total")
    // the bloom layout reads a small fraction of even that: only row
    // groups whose filter (mis)reports the needle (measured ~12×
    // fewer rows than stats-only)
    assert(rowsBloom * 4 <= rowsPlain,
      s"bloom must skip most stats-surviving row groups: $rowsBloom " +
        s"vs $rowsPlain")
  }
}
