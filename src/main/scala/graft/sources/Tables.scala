package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Explicit-schema readers for the driver testdata tables
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md §B).
  *
  * Schemas are declared, never inferred — mirrors the reference's
  * construction-time validation stance (Pydantic v2 strict models,
  * reference `backend/pyproject.toml:19-21`). At 100 TB, explicit schemas
  * also skip the footer-sampling schema-merge pass on wide directories.
  */
object Tables {

  val region: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nation: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customer: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplier: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val part: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** `ts` is declared LongType and read as the raw INT64 whatever the
    * parquet footer's time unit — the driver generator has emitted both
    * TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds. [[load]]
    * normalizes to the engine contract: epoch-NANOSECONDS (Spark has no
    * ns TimestampType, so the integral form is the lossless one).
    * Derive micros/timestamps downstream via
    * `timestamp_micros(ts div 1000)`; keeping the integral form also
    * makes cross-engine time arithmetic exact. */
  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val schemas: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events,
    "documents" -> documents, "embeddings" -> embeddings)

  /** The data files under `path` (or `path` itself when it is a file),
    * walked with `listStatus` and never descending into an entry whose
    * name starts with `_` or `.` (`_SUCCESS`, `.crc`, an in-flight
    * write's `_temporary` tree). Not `FileSystem.listFiles`: its
    * located statuses read each file's permissions, which the local
    * file system does by starting a shell process per file when no
    * native Hadoop library is loaded. Throws `FileNotFoundException`
    * for an absent path. */
  private[graft] def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Iterator[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(path).iterator.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Iterator.empty
      else if (st.isDirectory) dataFiles(fs, st.getPath)
      else Iterator.single(st)
    }

  /** A metadata-only version stamp of `path`: an order-independent hash
    * of the (path, length, mtime) of every entry directly under it (or
    * of `path` itself when it is a file). One `listStatus`, no data
    * read. A re-written dir lists new part-file names, lengths or
    * mtimes; on an object store, where a dir has no meaningful mtime of
    * its own, its files still do. Throws `FileNotFoundException` for an
    * absent path. */
  private[graft] def listingFingerprint(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Long = {
    val st = fs.getFileStatus(path)
    fingerprint(if (st.isDirectory) fs.listStatus(path) else Array(st))
  }

  /** The order-independent (path, length, mtime) hash of
    * [[listingFingerprint]] over statuses already listed, e.g. the leaf
    * files of [[dataFiles]], where two cells can hold files of the same
    * name. */
  private[graft] def fingerprint(
      files: Iterable[org.apache.hadoop.fs.FileStatus]): Long =
    files.foldLeft(17L) { (acc, f) =>
      // XOR-fold per-file hashes so listing order can't matter
      acc ^ (f.getPath.toString.hashCode.toLong * 31L +
        f.getLen * 1000003L + f.getModificationTime)
    }

  /** Whether a parquet events file/dir stores `ts` as TIMESTAMP(MICROS)
    * (Spark infers TimestampType) rather than TIMESTAMP(NANOS) (no ns
    * TimestampType exists, so Spark infers LongType). The testdata
    * generator has emitted BOTH across rounds; the engine contract is
    * pinned to int64 NANOS (see [[events]]), so µs sources scale ×1000
    * at load.
    *
    * A wrong unit is a silent ×1000 error in every derived timestamp /
    * window / watermark, so this probe FAILS LOUDLY instead of guessing:
    * an empty or absent path (a streaming watch dir probed before files
    * are staged) and an unreadable footer both throw. The cache is keyed
    * by a fingerprint of the path's parquet files (name:length:mtime),
    * so a path re-generated with a different unit inside one JVM is
    * re-probed rather than served the stale unit. */
  private val tsMicrosCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Boolean]
  def eventsTsIsMicros(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = dataFiles(fs, p) // throws FileNotFoundException: fail loudly
    // past 4096 files the fingerprint keeps only an aggregate tail
    // (count + total bytes + max mtime) — a re-generated directory that
    // differs only beyond the cap still changes length/bytes/mtime, so
    // the cache cannot serve a stale unit for a path it half-hashed
    var (tailN, tailBytes, tailMtime) = (0L, 0L, 0L)
    it.foreach { f =>
      if (files.size < 4096)
        files += s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
      else {
        tailN += 1; tailBytes += f.getLen
        tailMtime = math.max(tailMtime, f.getModificationTime)
      }
    }
    require(files.nonEmpty,
      s"events time-unit probe: no data files under $path — stage the " +
        "directory before building a source over it (an empty-dir default " +
        "would silently pin the wrong time unit for this JVM)")
    val fp = files.sorted.mkString("|") +
      (if (tailN > 0) s"|tail:$tailN:$tailBytes:$tailMtime" else "")
    // one live fingerprint per path: a re-staged directory must re-probe,
    // and the cache stays O(paths), not O(re-stagings)
    tsMicrosCache.keySet
      .filter(k => k._1 == path && k._2 != fp)
      .foreach(tsMicrosCache.remove)
    tsMicrosCache.getOrElseUpdate((path, fp),
      spark.read.parquet(path).schema("ts").dataType match {
        // µs footers infer as TimestampType (isAdjustedToUTC) or
        // TimestampNTZType (tz-naive writers — pandas/pyarrow default);
        // ns footers infer as LongType (Spark has no ns timestamp)
        case TimestampType | TimestampNTZType => true
        case _ => false
      })
  }

  /** Scale an events frame read under the declared LongType schema
    * (which surfaces the raw INT64 regardless of the footer's time
    * unit) to the pinned ns contract. */
  def normalizeEventsTs(df: DataFrame, isMicros: Boolean): DataFrame =
    if (isMicros) df.withColumn("ts", col("ts") * lit(1000L)) else df

  /** Read one table from an sf directory with its declared schema.
    * `events.ts` is normalized to epoch-NANOS whatever unit the parquet
    * carries — every downstream `ts div 1000` / oracle `epoch_ns(ts)`
    * pair stays exact (epoch_ns is unit-independent on the DuckDB
    * side). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")
    if (name == "events")
      normalizeEventsTs(df, eventsTsIsMicros(spark, s"$sfDir/$name.parquet"))
    else df
  }

  def schemaOf(name: String): StructType = schemas(name)

  /** Stable table-name list (single source of truth for catalogs). */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema for the reference's event-sourced work-item JSONL log
    * (reference `.hive/issues.jsonl:1`; SURVEY §2.B X7). */
  val issues: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("title", StringType),
    StructField("status", StringType),
    StructField("priority", IntegerType),
    StructField("issue_type", StringType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType),
    StructField("dependencies", ArrayType(StringType)),
    StructField("labels", ArrayType(StringType)),
    StructField("comments", ArrayType(StringType))))

  def loadIssues(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(issues).json(path)
}
