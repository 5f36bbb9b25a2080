package graft

import graft.sources.Catalog

/** SQL entry over the Hive-metastore catalog: registers the testdata as
  * external tables in an embedded-Derby metastore and runs an arbitrary
  * SQL statement — the "Spark SQL with Hive metastore" face of the
  * engine. Usage:
  *   runMain graft.SqlCli "<sql>" [sfDir] [warehouseDir]
  *   runMain graft.SqlCli dpp [sfDir]    — dynamic-partition-pruning
  *     demo ON THE HIVE METASTORE: stages the day-partitioned events
  *     fact + day dim, registers the fact as a partitioned external
  *     Hive table (MSCK recovery), runs the dim-filtered join, and
  *     prints whether `dynamicpruning` reached the fact scan's
  *     PartitionFilters (exit 1 if not — this is a check, not a demo
  *     that can silently rot).
  *   runMain graft.SqlCli lake [sfDir]   — lake tables over SQL on the
  *     Hive session: SELECT, VERSION AS OF, TIMESTAMP AS OF, DESCRIBE
  *     HISTORY/DETAIL through [[graft.sources.LakeSql]], parity-checked
  *     against the API (exit 1 on mismatch).
  */
object SqlCli {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("dpp")) { dppDemo(args); return }
    if (args.headOption.contains("lake")) { lakeDemo(args); return }
    val sql = if (args.nonEmpty) args(0)
      else "SELECT count(*) AS n_lineitem FROM graft.lineitem"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val wh = if (args.length > 2) args(2)
      else java.nio.file.Files.createTempDirectory("graft-wh").toString

    val spark = Catalog.hiveSession("graft-sql", wh)
    spark.sparkContext.setLogLevel("ERROR")
    Catalog.registerExternal(spark, sfDir)
    Catalog.analyzeAll(spark)
    println(s"catalog=${spark.conf.get("spark.sql.catalogImplementation")}")
    spark.sql("SHOW TABLES IN graft").show(20, truncate = false)
    spark.sql(sql).show(50, truncate = false)
    spark.stop()
  }

  /** Lake-over-SQL check ON THE HIVE METASTORE session: stage a small
    * two-version lake table, register it through [[graft.sources
    * .LakeSql]], and run SELECT / VERSION AS OF / TIMESTAMP AS OF /
    * DESCRIBE HISTORY / DESCRIBE DETAIL end-to-end, asserting parity
    * with the API results (exit 1 on any mismatch — a check, not a
    * demo that can silently rot). */
  private def lakeDemo(args: Array[String]): Unit = {
    import graft.sources.{Catalog, LakeLayout, LakeQueries, LakeSql}
    import org.apache.spark.sql.functions._
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val spark = Catalog.hiveSession("graft-sql-lake", wh)
    spark.sparkContext.setLogLevel("ERROR")
    val t = java.nio.file.Files.createTempDirectory("graft-sql-lake").toString
    val orders = graft.sources.Tables.load(spark, sfDir, "orders")
    LakeLayout.commitLakeVersion(
      orders.repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey")),
      t, "cli", 0L, statsKey = Some("o_orderkey"))
    val pin = LakeLayout.lakeCommitInstants(spark, t)(0L)
    // the next commit's instant must land strictly after the pin even
    // on stores with coarse clock granularity (same guard as the
    // registry time-travel drives)
    LakeQueries.awaitStoreClockPast(spark, t, pin)
    LakeLayout.upsertIntoLake(spark, t,
      orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .withColumn("o_orderpriority", lit("9-SQL")),
      "o_orderkey", "cli", 1L)
    LakeSql.register(spark, "orders_lake", t)
    println(s"catalog=${spark.conf.get("spark.sql.catalogImplementation")}")
    val nSql = LakeSql.sql(spark,
      "SELECT count(*) AS n FROM orders_lake").collect()(0).getLong(0)
    val nApi = LakeLayout.readLake(spark, t).get.count()
    println(s"select_n=$nSql api_n=$nApi")
    val v0Sql = LakeSql.sql(spark,
      "SELECT count(*) AS n FROM orders_lake VERSION AS OF 0 " +
        "WHERE o_orderpriority = '9-SQL'").collect()(0).getLong(0)
    val tsSql = LakeSql.sql(spark,
      s"SELECT count(*) AS n FROM orders_lake TIMESTAMP AS OF $pin " +
        "WHERE o_orderpriority = '9-SQL'").collect()(0).getLong(0)
    println(s"asof_v0_marked=$v0Sql asof_ts_marked=$tsSql")
    val hist = LakeSql.sql(spark, "DESCRIBE HISTORY orders_lake")
    hist.show(10, truncate = false)
    val histVersions = hist.select("version").collect().map(_.getLong(0)).toSeq
    val detail = LakeSql.sql(spark, "DESCRIBE DETAIL orders_lake")
    detail.show(5, truncate = false)
    val detailV = detail.collect()(0).getAs[Long]("version")
    spark.stop()
    val ok = nSql == nApi && v0Sql == 0L && tsSql == 0L &&
      histVersions == Seq(1L, 0L) && detailV == 1L
    println(s"lake_sql_parity=$ok")
    if (!ok) {
      System.err.println("lake SQL surface disagreed with the API results")
      sys.exit(1)
    }
  }

  private def dppDemo(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val spark = Catalog.hiveSession("graft-sql-dpp", wh)
    spark.sparkContext.setLogLevel("ERROR")
    val df = Catalog.qDppEvents(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val pruned = plan.contains("dynamicpruning")
    println(s"catalog=${spark.conf.get("spark.sql.catalogImplementation")}")
    println(s"dpp_in_plan=$pruned")
    df.show(20, truncate = false)
    spark.stop()
    if (!pruned) {
      System.err.println("dynamic partition pruning did NOT reach the " +
        "fact scan on the Hive metastore surface")
      sys.exit(1)
    }
  }
}
