package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hive-metastore catalog surface (the declared spark_approach:
  * "Spark SQL with Hive metastore" — storage stays external parquet,
  * the metastore owns schemas/locations/statistics).
  *
  * [[registerExternal]] declares each testdata table as an EXTERNAL
  * parquet table in the current catalog (works against the embedded
  * Derby metastore locally and any shared HMS on a cluster), so the
  * whole engine surface is reachable from plain `spark.sql`.
  * [[registerViews]] is the lighter temp-view variant for sessions
  * without Hive support.
  *
  * Scale notes: external tables + `ANALYZE TABLE ... COMPUTE STATISTICS`
  * give Catalyst row counts for join reordering; partitioned layouts
  * (e.g. events by day) would be declared here with `PARTITIONED BY` so
  * partition pruning kicks in at the metastore level.
  */
object Catalog {

  val tableNames: Seq[String] = Tables.names

  /** Builder for a Hive-enabled local session (embedded Derby metastore
    * under warehouseDir). */
  def hiveSession(appName: String, warehouseDir: String, cpus: Int = 4): SparkSession = {
    // catalogImplementation is a static conf: getOrCreate on an existing
    // session would silently drop Hive support — fail fast instead.
    require(SparkSession.getActiveSession.isEmpty &&
      SparkSession.getDefaultSession.isEmpty,
      "hiveSession must be created before any other SparkSession in this JVM")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$warehouseDir/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$warehouseDir/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
  }

  /** Declare every testdata table as an external parquet table in
    * `dbName`, with the DECLARED schema (not footer inference — which
    * would choke on events' TIMESTAMP(NANOS), see [[Tables.events]]).
    * Idempotent. */
  def registerExternal(spark: SparkSession, sfDir: String,
      dbName: String = "graft"): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $dbName")
    for (t <- tableNames) {
      spark.sql(s"DROP TABLE IF EXISTS $dbName.$t")
      spark.sql(
        s"""CREATE EXTERNAL TABLE $dbName.$t (${Tables.schemaOf(t).toDDL})
            USING parquet
            LOCATION '$sfDir/$t.parquet'""")
    }
  }

  /** Compute table-level statistics so the cost-based optimizer can
    * reorder joins / pick broadcast sides from real row counts. */
  def analyzeAll(spark: SparkSession, dbName: String = "graft"): Unit =
    for (t <- tableNames)
      spark.sql(s"ANALYZE TABLE $dbName.$t COMPUTE STATISTICS")

  /** Temp-view registration for non-Hive sessions (same SQL surface,
    * session-scoped). */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    for (t <- tableNames)
      Tables.load(spark, sfDir, t).createOrReplaceTempView(t)

  /** Expose a manifest-committed LAKE table to plain `spark.sql`: the
    * view pins the exact file list of the latest manifest at
    * registration time (a consistent snapshot — concurrent commits
    * never tear a running query); re-register to advance to a newer
    * version. This is the SQL face of [[LakeLayout.readLake]] — the
    * committed schema applies (schema-in-manifest null-fill included), so SQL
    * and DataFrame readers see byte-identical tables. */
  // Per-session (viewName → (tablePath, version)) of the last lake
  // view registration: every LakeSql statement refreshes the views it
  // mentions, so a multi-statement drive re-registered the SAME
  // version several times — each re-registration re-resolving the
  // snapshot and re-analyzing the view plan for nothing. The memo
  // skips the rebuild when the table's latest version (and path) is
  // exactly what the live view already pins; any commit (data,
  // compact, restore, evolve) bumps the version and invalidates
  // naturally. Weak-keyed to the session like LakeSql's registry.
  private val lakeViewVersions = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[String, (String, Long)]]()

  def registerLakeView(spark: SparkSession, tablePath: String,
      viewName: String): Unit = {
    val cur = LakeLayout.latestLakeCommit(spark, tablePath)
      .getOrElse(throw new IllegalArgumentException(
        s"registerLakeView: $tablePath has no committed version"))
    val memo = lakeViewVersions.synchronized {
      lakeViewVersions.computeIfAbsent(spark,
        _ => new scala.collection.concurrent.TrieMap[String, (String, Long)]())
    }
    val pinned = (tablePath, cur.version)
    val upToDate = memo.get(viewName.toLowerCase).contains(pinned) &&
      (try spark.catalog.tableExists(viewName)
       catch { case _: org.apache.spark.sql.AnalysisException => false })
    if (!upToDate) {
      LakeLayout.readLakeVersion(spark, tablePath, cur.version)
        .createOrReplaceTempView(viewName)
      memo(viewName.toLowerCase) = pinned
    }
  }

  /** Time travel from SQL: pin a specific committed lake VERSION as a
    * view (must not have been vacuumed). */
  def registerLakeVersionView(spark: SparkSession, tablePath: String,
      version: Long, viewName: String): Unit =
    LakeLayout.readLakeVersion(spark, tablePath, version)
      .createOrReplaceTempView(viewName)

  // ------------------------- persistent lake-name registrations (HMS)

  /** The catalog database holding one zero-data marker table per
    * registered lake name, its path and merge key in table properties
    * — the metastore record that lets a FRESH session resolve a lake
    * name (the "Spark SQL with Hive metastore" posture: temp views die
    * with their session; the metastore is the durable name authority).
    * Works identically against the in-memory catalog (shared by
    * `newSession()`) and a real HMS (shared by every driver). */
  val LakeRegistryDb = "graft_lake_registry"

  /** Record name → (table path, merge key) as table properties.
    * Idempotent and CHEAP when unchanged (one lookup, no DDL) —
    * registrations run inside query drives, so the steady-state cost
    * must be a catalog read, not a commit. */
  def persistLakeRegistration(spark: SparkSession, name: String,
      tablePath: String, key: Option[String]): Unit =
    if (lookupLakeRegistration(spark, name) != Some((tablePath, key))) {
      // name/key are interpolated into DDL below — enforce the ident
      // contract HERE, not only at the LakeSql.register call site, so
      // a direct caller can neither break the statement nor inject
      val identRe = "[A-Za-z_][A-Za-z0-9_]*"
      require(name.matches(identRe),
        s"lake registration name must be a plain SQL identifier, " +
          s"got '$name'")
      key.foreach(k => require(k.matches(identRe),
        s"lake merge key must be a plain SQL identifier, got '$k'"))
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $LakeRegistryDb")
      spark.sql(s"DROP TABLE IF EXISTS $LakeRegistryDb.$name")
      val props = s"'graft.lake.path'='${tablePath.replace("'", "''")}'" +
        key.map(k => s", 'graft.lake.key'='${k.replace("'", "''")}'")
          .getOrElse("")
      // a marker table carries no data — only the properties matter;
      // parquet source keeps it readable (empty) if ever selected.
      // DROP+CREATE is non-atomic: a concurrent registrar can land its
      // CREATE in the window. If the record it left matches ours, the
      // registration is in place — the lost race is benign; any other
      // failure is real.
      try spark.sql(
        s"""CREATE TABLE $LakeRegistryDb.$name (graft_lake_marker INT)
            USING parquet TBLPROPERTIES ($props)""")
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          if (lookupLakeRegistration(spark, name) !=
              Some((tablePath, key))) throw e
      }
    }

  /** The persisted (path, key) record for a lake name, if any. */
  def lookupLakeRegistration(spark: SparkSession,
      name: String): Option[(String, Option[String])] =
    if (!spark.catalog.databaseExists(LakeRegistryDb) ||
        !spark.catalog.tableExists(s"$LakeRegistryDb.$name")) None
    else {
      val props = spark
        .sql(s"SHOW TBLPROPERTIES $LakeRegistryDb.$name")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      props.get("graft.lake.path")
        .map(p => (p, props.get("graft.lake.key")))
    }

  // -------------------------- dynamic partition pruning registry drive

  /** Stage events as a DATE-PARTITIONED external table (dirs keyed by
    * `day_id` = epoch-day of `ts`) plus a small day-dimension parquet
    * (`day_id`, `dow`). `repartition(day_id)` before the partitioned
    * write keeps it to ~one file per day instead of
    * (tasks × days) shards. The dim is written to DISK and read back so
    * its `dow` column is opaque to the optimizer — a dim built in-plan
    * with `dow = day_id % 7` would let constraint propagation infer a
    * STATIC partition filter on the fact and the demo would never need
    * DPP. */
  def stageDppTables(spark: SparkSession, sfDir: String,
      root: String): Unit = {
    import org.apache.spark.sql.functions._
    val fact = Tables.load(spark, sfDir, "events")
      .withColumn("day_id", expr("ts div 86400000000000"))
    fact.repartition(col("day_id"))
      .write.partitionBy("day_id").mode("overwrite")
      .parquet(s"$root/events_by_day")
    fact.select(col("day_id")).distinct()
      .withColumn("dow", pmod(col("day_id"), lit(7)))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$root/days")
  }

  /** Dynamic-partition-pruning drive — the single most important scan
    * optimization at 100×: a day-partitioned fact joined to a filtered
    * dim on the partition key must scan ONLY the surviving days'
    * partitions, the filter arriving at the fact scan AT RUNTIME from
    * the dim side (`dynamicpruningexpression` in PartitionFilters —
    * asserted by PlanShapeSpec; the dim's broadcast exchange is reused
    * as the pruning subquery, so pruning costs nothing extra). At
    * 100 TB the partitioned fact already exists — the staging write
    * here is drive scaffolding, re-done per run into a fresh dir. The
    * external table is registered through the session catalog
    * (in-memory or Hive metastore alike) with MSCK partition recovery,
    * so the fact is driven through the full catalog surface, not a
    * bare path read. */
  /** Process-lifetime DPP staging, keyed by (sfDir, events
    * fingerprint) — the IVF model-cache posture: at 100 TB the
    * partitioned fact already EXISTS, so re-writing it per query run
    * would time drive scaffolding, not the pruned scan the query
    * demonstrates. The first invocation stages the layout into one
    * temp dir (removed by a JVM shutdown hook — repeated bench/verify
    * runs no longer leak disk) and registers the catalog table under a
    * fingerprint-derived name, so a re-generated sfDir re-stages and
    * concurrent same-session queries share one table instead of racing
    * a DROP/CREATE on a common name. */
  private val dppStageCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), String]()

  private def eventsFingerprint(spark: SparkSession, sfDir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/events.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(path)
    val files = if (st.isDirectory) fs.listStatus(path) else Array(st)
    files.foldLeft(17L) { (acc, f) =>
      acc ^ (f.getPath.getName.hashCode.toLong * 31L +
        f.getLen * 1000003L + f.getModificationTime)
    }
  }

  /** The catalog name the staged day-partitioned fact registers under
    * (fingerprint-derived — see [[dppStageCache]]). */
  def dppTableName(spark: SparkSession, sfDir: String): String =
    s"graft_dpp_events_${java.lang.Long.toHexString(
      eventsFingerprint(spark, sfDir))}"

  private def stagedDppRoot(spark: SparkSession, sfDir: String): String =
    dppStageCache.computeIfAbsent((sfDir, eventsFingerprint(spark, sfDir)),
      { _ =>
        val root = java.nio.file.Files.createTempDirectory("graft-dpp")
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(root).iterator().asScala.toSeq
              .sortBy(-_.getNameCount)
              .foreach(java.nio.file.Files.deleteIfExists(_))
          } catch { case scala.util.control.NonFatal(_) => () }))
        stageDppTables(spark, sfDir, root.toString)
        root.toString
      })

  def qDppEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = stagedDppRoot(spark, sfDir)
    val tbl = dppTableName(spark, sfDir)
    if (!spark.catalog.tableExists(tbl)) {
      val dataCols = Tables.events.toDDL // partition col appended below
      // IF NOT EXISTS + fingerprint name: concurrent registrations of
      // the same staged layout are idempotent, never a DROP race
      spark.sql(
        s"""CREATE EXTERNAL TABLE IF NOT EXISTS $tbl ($dataCols, day_id BIGINT)
            USING parquet
            PARTITIONED BY (day_id)
            LOCATION '$root/events_by_day'""")
      spark.sql(s"MSCK REPAIR TABLE $tbl")
    }
    val dim = spark.read.parquet(s"$root/days")
      .filter(col("dow") === 1)
    spark.table(tbl)
      .join(broadcast(dim), "day_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .orderBy(col("event_type"))
  }

  val qDppEventsSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events
       WHERE (epoch_ns(ts) // 86400000000000) % 7 = 1
       GROUP BY 1 ORDER BY 1"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dpp_events" -> (qDppEvents _))

  val oracle: Map[String, String] = Map(
    "q_dpp_events" -> qDppEventsSql)
}
