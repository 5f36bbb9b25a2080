package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL face of the lake layer — the thin statement surface that makes
  * time travel, history, and detail reachable from "Spark SQL with a
  * catalog" instead of API calls only (Delta's SQL surface, re-derived
  * over the manifest protocol):
  *
  *   LakeSql.register(spark, "orders_lake", "/path/to/table")
  *   LakeSql.sql(spark, "SELECT ... FROM orders_lake")
  *   LakeSql.sql(spark, "SELECT ... FROM orders_lake VERSION AS OF 3")
  *   LakeSql.sql(spark, "SELECT ... FROM orders_lake TIMESTAMP AS OF 1755...")
  *   LakeSql.sql(spark, "DESCRIBE HISTORY orders_lake")
  *   LakeSql.sql(spark, "DESCRIBE DETAIL orders_lake")
  *   LakeSql.sql(spark, "RESTORE orders_lake TO VERSION AS OF 2")
  *   LakeSql.sql(spark, "RESTORE orders_lake TO TIMESTAMP AS OF 1755...")
  *   LakeSql.sql(spark, "OPTIMIZE orders_lake BY o_orderkey")
  *   LakeSql.sql(spark, "OPTIMIZE orders_lake ZORDER BY (user_id, ts)")
  *   LakeSql.sql(spark, "VACUUM orders_lake RETAIN 3 VERSIONS")
  *   LakeSql.sql(spark, "ALTER TABLE orders_lake ADD CONSTRAINT c CHECK (o_totalprice > 0)")
  *   LakeSql.sql(spark, "ALTER TABLE orders_lake DROP CONSTRAINT c")
  *   LakeSql.sql(spark, "SHOW CONSTRAINTS orders_lake")
  *   LakeSql.sql(spark, "INSERT INTO orders_lake VALUES (...), (...)")
  *   LakeSql.sql(spark, "INSERT INTO orders_lake SELECT ...")
  *   LakeSql.sql(spark, "UPDATE orders_lake SET o_orderpriority = '9-X' WHERE o_orderkey % 4 = 0")
  *   LakeSql.sql(spark, "DELETE FROM orders_lake WHERE o_orderkey % 10 = 3")
  *   LakeSql.sql(spark, "MERGE INTO orders_lake USING ups ON t.o_orderkey = s.o_orderkey
  *                       WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
  *
  * Mechanics: `register` binds a logical name to a table path and
  * publishes the CURRENT snapshot as a session view (works on a plain
  * session and on the Hive-metastore session alike — views resolve
  * through whichever catalog the session runs). `sql` first answers
  * the COMMAND forms directly — DESCRIBE HISTORY/DETAIL
  * ([[LakeLayout.lakeHistory]] / [[LakeLayout.describeLake]]), RESTORE
  * ([[LakeLayout.restoreLake]] — rollback as a new metadata-only
  * commit), OPTIMIZE ([[LakeLayout.compactLakeOcc]] /
  * [[LakeLayout.optimizeLakeZOrderOcc]]), and VACUUM
  * ([[LakeLayout.vacuumLake]]) — then rewrites every
  * `<name> VERSION AS OF <v>` / `<name> TIMESTAMP AS OF <millis>`
  * table reference to a pinned snapshot view
  * ([[LakeLayout.readLakeVersion]] — the exact file list of that
  * commit, so a pinned reference can never tear under concurrent
  * writers), refreshes the plain current-snapshot views of every
  * registered name the statement mentions, and hands the rewritten
  * text to `spark.sql`. Results are therefore BY CONSTRUCTION equal to
  * the API surface — the parity spec pins it.
  *
  * TIMESTAMP AS OF takes epoch-millis on the store clock — the same
  * instants [[LakeLayout.lakeCommitInstants]] publishes (persisted in
  * manifests, monotonized), so a pipeline can record an instant at
  * write time and replay it verbatim in SQL. */
object LakeSql {

  // PER-SESSION registries: the views `register` manages are session
  // temp views, so the name→path bindings must share their scope — a
  // JVM-global map would let two sessions (parallel tests, two
  // notebook users on one driver) registering the same name silently
  // redirect each other's AS-OF resolution and view refreshes. Weak
  // keying ties each registry's lifetime to its session's, exactly
  // like the temp views themselves. Within one registry: lowercased
  // name -> (name as registered, table path) — lookups are
  // case-insensitive like any SQL identifier, but views are always
  // (re-)registered under the ORIGINAL casing so case-sensitive
  // sessions (spark.sql.caseSensitive=true) resolve the same view the
  // registration created.
  private val bySession = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[String,
      (String, String, Option[String])]]()

  private def registryOf(spark: SparkSession)
      : scala.collection.concurrent.TrieMap[String,
        (String, String, Option[String])] =
    bySession.synchronized {
      bySession.computeIfAbsent(spark,
        _ => new scala.collection.concurrent.TrieMap[String,
          (String, String, Option[String])]())
    }

  private val ident = "[A-Za-z_][A-Za-z0-9_]*"

  // FROM/JOIN table positions — the places a fresh session may first
  // mention a metastore-recorded lake name (see the hydration step in
  // [[sql]]'s rewrite branch)
  private val tableRefRe = s"(?i)\\b(?:FROM|JOIN)\\s+($ident)\\b".r

  /** Bind `name` to a lake table and publish its current snapshot as a
    * session view. Re-register (or just call [[sql]] again) to advance
    * the plain view to a newer commit. The SESSION binding is scoped
    * to `spark` — sibling sessions (`spark.newSession()`) neither see
    * it nor can overwrite it — but the name→(path, key) record is ALSO
    * persisted as metastore table properties
    * ([[Catalog.persistLakeRegistration]]), so a FRESH session sharing
    * the catalog (a `newSession()`, or any driver on the same Hive
    * metastore) resolves the name in [[sql]] without re-registering:
    * the first statement that mentions it hydrates that session's
    * registry and view from the metastore record. `key` declares the
    * table's merge/delete key column — required before the DML
    * statements (DELETE / MERGE) can lower to the file-granular OCC
    * operations. */
  def register(spark: SparkSession, name: String, tablePath: String,
      key: Option[String] = None): Unit = {
    require(name.matches(ident),
      s"lake table name must be a plain SQL identifier, got '$name'")
    registryOf(spark)(name.toLowerCase) = (name, tablePath, key)
    Catalog.registerLakeView(spark, tablePath, name)
    Catalog.persistLakeRegistration(spark, name, tablePath, key)
  }

  /** Resolve a lake name: this session's registry first, then the
    * shared metastore record (which hydrates the session registry and
    * publishes the current-snapshot view under the statement's own
    * spelling, so case-sensitive sessions resolve what they typed).
    * A temp view THIS SESSION created under the name — and the
    * registry doesn't own — blocks hydration: re-publishing the lake
    * view would silently clobber the session's own view, and DML on
    * the bare name would mutate a lake the session never registered.
    * The session keeps its view; an explicit [[register]] is the
    * opt-in that takes the name over. */
  private def resolve(spark: SparkSession,
      name: String): Option[(String, String, Option[String])] =
    registryOf(spark).get(name.toLowerCase).orElse {
      val shadowedByTempView =
        try spark.catalog.getTable(name).isTemporary
        catch { case _: org.apache.spark.sql.AnalysisException => false }
      if (shadowedByTempView) None
      else Catalog.lookupLakeRegistration(spark, name).map { case (p, k) =>
        val entry = (name, p, k)
        registryOf(spark)(name.toLowerCase) = entry
        Catalog.registerLakeView(spark, p, name)
        entry
      }
    }

  private def isRegistered(spark: SparkSession, name: String): Boolean =
    resolve(spark, name).isDefined

  private def pathOf(spark: SparkSession, name: String): String =
    resolve(spark, name).map(_._2)
      .getOrElse(throw new IllegalArgumentException(
        s"'$name' is not a registered lake table in this session or " +
          s"its catalog (registered here: ${registryOf(spark).values
            .map(_._1).toSeq.sorted.mkString(", ")})"))

  private def keyOf(spark: SparkSession, name: String,
      statement: String): String =
    resolve(spark, name).flatMap(_._3)
      .getOrElse(throw new IllegalArgumentException(
        s"'$name' was registered without a key column — $statement " +
          "needs one to lower to the file-granular lake operation; " +
          "re-register with LakeSql.register(spark, name, path, " +
          "key = Some(\"<col>\"))"))

  private val historyRe =
    s"(?is)^\\s*DESCRIBE\\s+HISTORY\\s+($ident)\\s*;?\\s*$$".r
  private val detailRe =
    s"(?is)^\\s*DESCRIBE\\s+DETAIL\\s+($ident)\\s*;?\\s*$$".r
  private val restoreVersionRe =
    s"(?is)^\\s*RESTORE\\s+($ident)\\s+(?:TO\\s+)?VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$$".r
  private val restoreTimestampRe =
    s"(?is)^\\s*RESTORE\\s+($ident)\\s+(?:TO\\s+)?TIMESTAMP\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$$".r
  private val optimizeRe =
    s"(?is)^\\s*OPTIMIZE\\s+($ident)\\s+BY\\s+($ident)\\s*;?\\s*$$".r
  // 2..6 comma-separated dimensions; each validated as an ident after
  // the split (the regex admits the LIST shape, the code the members)
  private val optimizeZorderRe =
    s"(?is)^\\s*OPTIMIZE\\s+($ident)\\s+ZORDER\\s+BY\\s*\\(([^)]+)\\)\\s*;?\\s*$$".r
  private val vacuumRe =
    s"(?is)^\\s*VACUUM\\s+($ident)(?:\\s+RETAIN\\s+(\\d+)\\s+VERSIONS)?\\s*;?\\s*$$".r
  private val addConstraintRe =
    s"(?is)^\\s*ALTER\\s+TABLE\\s+($ident)\\s+ADD\\s+CONSTRAINT\\s+($ident)\\s+CHECK\\s*\\((.+)\\)\\s*;?\\s*$$".r
  private val dropConstraintRe =
    s"(?is)^\\s*ALTER\\s+TABLE\\s+($ident)\\s+DROP\\s+CONSTRAINT\\s+($ident)\\s*;?\\s*$$".r
  private val showConstraintsRe =
    s"(?is)^\\s*SHOW\\s+CONSTRAINTS\\s+($ident)\\s*;?\\s*$$".r
  private val versionAsOfRe =
    s"(?is)\\b($ident)\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)".r
  private val timestampAsOfRe =
    s"(?is)\\b($ident)\\s+TIMESTAMP\\s+AS\\s+OF\\s+(\\d+)".r
  private val insertRe =
    s"(?is)^\\s*INSERT\\s+INTO\\s+($ident)\\s+(VALUES\\b.+|SELECT\\b.+)$$".r
  private val deleteRe =
    s"(?is)^\\s*DELETE\\s+FROM\\s+($ident)\\s+WHERE\\s+(.+?)\\s*;?\\s*$$".r
  private val updateRe =
    s"(?is)^\\s*UPDATE\\s+($ident)\\s+SET\\s+(.+?)\\s+WHERE\\s+(.+?)\\s*;?\\s*$$".r
  private val mergeRe =
    (s"(?is)^\\s*MERGE\\s+INTO\\s+($ident)(?:\\s+(?:AS\\s+)?(?!USING\\b)($ident))?" +
      s"\\s+USING\\s+($ident)(?:\\s+(?:AS\\s+)?(?!ON\\b)($ident))?\\s+" +
      s"ON\\s+(.+?)\\s+(WHEN\\s+.+?)\\s*;?\\s*$$").r
  private val mergeOnRe =
    s"(?is)^\\s*(?:$ident\\s*\\.\\s*)?($ident)\\s*=\\s*(?:$ident\\s*\\.\\s*)?($ident)\\s*$$".r
  private val mergeUpsertRe =
    ("(?is)^WHEN\\s+MATCHED\\s+THEN\\s+UPDATE\\s+SET\\s+\\*\\s+" +
      "WHEN\\s+NOT\\s+MATCHED\\s+THEN\\s+INSERT\\s+\\*$").r
  private val mergeDeleteUpsertRe =
    ("(?is)^WHEN\\s+MATCHED\\s+AND\\s+(.+?)\\s+THEN\\s+DELETE\\s+" +
      "WHEN\\s+MATCHED\\s+THEN\\s+UPDATE\\s+SET\\s+\\*\\s+" +
      "WHEN\\s+NOT\\s+MATCHED\\s+THEN\\s+INSERT\\s+\\*$").r
  // general clause grammar (the conditional / column-level forms):
  // clauses split at WHEN MATCHED / WHEN NOT MATCHED boundaries (a
  // CASE WHEN inside a condition or assignment never matches those)
  private val clauseBoundary = "(?i)(?=\\bWHEN\\s+(?:NOT\\s+)?MATCHED\\b)"
  private val clauseDeleteRe =
    "(?is)^WHEN\\s+MATCHED(?:\\s+AND\\s+(.+?))?\\s+THEN\\s+DELETE\\s*$".r
  private val clauseUpdateRe =
    "(?is)^WHEN\\s+MATCHED(?:\\s+AND\\s+(.+?))?\\s+THEN\\s+UPDATE\\s+SET\\s+(.+?)\\s*$".r
  private val clauseInsertStarRe =
    "(?is)^WHEN\\s+NOT\\s+MATCHED\\s+THEN\\s+INSERT\\s+\\*\\s*$".r
  private val clauseInsertColsRe =
    ("(?is)^WHEN\\s+NOT\\s+MATCHED\\s+THEN\\s+INSERT\\s*\\((.+?)\\)" +
      "\\s*VALUES\\s*\\((.+?)\\)\\s*$").r

  // one fresh provenance id per SQL mutation — the SQL face is a
  // human/administrative surface, not a replayed micro-batch stream,
  // so each statement is its own batch
  private val sqlBatchId = new java.util.concurrent.atomic.AtomicLong(
    System.currentTimeMillis())

  /** Run one statement with the lake extensions resolved. */
  def sql(spark: SparkSession, statement: String): DataFrame =
    statement match {
      case historyRe(name) =>
        LakeLayout.lakeHistory(spark, pathOf(spark, name))
      case detailRe(name) =>
        LakeLayout.describeLake(spark, pathOf(spark, name))
      case restoreVersionRe(name, v) =>
        restoreResult(spark, name, v.toLong)
      case restoreTimestampRe(name, ts) =>
        val path = pathOf(spark, name)
        val v = LakeLayout.lakeVersionAsOf(spark, path, ts.toLong)
          .getOrElse(throw new IllegalArgumentException(
            s"$name has no version committed at or before instant $ts " +
              "(the table did not exist yet)"))
        restoreResult(spark, name, v)
      case optimizeRe(name, key) =>
        import spark.implicits._
        val v = LakeLayout.compactLakeOcc(spark, pathOf(spark, name),
          key, writerId = "sql")
        Seq((name, v)).toDF("table_name", "version")
      case optimizeZorderRe(name, dimList) =>
        import spark.implicits._
        val dims = dimList.split(",").map(_.trim).toSeq
        dims.foreach(d => require(d.matches(ident),
          s"OPTIMIZE $name ZORDER BY: '$d' is not a plain identifier"))
        val v = LakeLayout.optimizeLakeZOrderOcc(spark,
          pathOf(spark, name), dims, writerId = "sql",
          maxAttempts = 8, targetFileMB = 128, minFiles = 1)
        Seq((name, v)).toDF("table_name", "version")
      case addConstraintRe(name, cname, check) =>
        import spark.implicits._
        val path = pathOf(spark, name)
        LakeLayout.setLakeConstraints(spark, path,
          LakeLayout.lakeConstraints(spark, path) + (cname -> check.trim))
        Seq((name, cname, check.trim))
          .toDF("table_name", "constraint_name", "check_expr")
      case dropConstraintRe(name, cname) =>
        import spark.implicits._
        LakeLayout.dropLakeConstraint(spark, pathOf(spark, name), cname)
        Seq((name, cname)).toDF("table_name", "constraint_name")
      case showConstraintsRe(name) =>
        import spark.implicits._
        LakeLayout.lakeConstraints(spark, pathOf(spark, name))
          .toSeq.sortBy(_._1).toDF("constraint_name", "check_expr")
      case vacuumRe(name, retain) =>
        import spark.implicits._
        val path = pathOf(spark, name)
        LakeLayout.vacuumLake(spark, path,
          keep = Option(retain).map(_.toInt).getOrElse(2))
        Seq((name, LakeLayout.lakeVersions(spark, path).size.toLong))
          .toDF("table_name", "versions_retained")
      // DML forms lower to lake operations ONLY for registered lake
      // names — a statement targeting any other table (a Hive table,
      // a temp view) falls through to spark.sql untouched, the same
      // posture as the AS-OF rewrite
      case insertRe(name, body) if isRegistered(spark, name) =>
        insertResult(spark, name, body)
      case updateRe(name, sets, pred) if isRegistered(spark, name) =>
        updateResult(spark, name, sets, pred)
      case deleteRe(name, pred) if isRegistered(spark, name) =>
        deleteResult(spark, name, pred)
      case mergeRe(name, tAlias, srcName, sAlias, on, clauses)
          if isRegistered(spark, name) =>
        mergeResult(spark, name, Option(tAlias), srcName, Option(sAlias),
          on, clauses)
      case _ =>
        // pin AS-OF references as snapshot views. Two guards keep the
        // rewrite from touching text that is not a table reference:
        // STRING LITERALS and backquoted identifiers are masked out
        // entirely, and a match whose identifier is not a registered
        // lake table passes through untouched (genuinely-misspelled
        // references get Spark's own analysis error)
        def quoted(m: scala.util.matching.Regex.Match): String =
          scala.util.matching.Regex.quoteReplacement(m.matched)
        val rewritten = rewriteOutsideLiterals(statement) { seg =>
          val afterVersion = versionAsOfRe.replaceAllIn(seg, m =>
            if (isRegistered(spark, m.group(1)))
              pinnedView(spark, m.group(1), m.group(2).toLong)
            else quoted(m))
          timestampAsOfRe.replaceAllIn(afterVersion, m =>
            if (!isRegistered(spark, m.group(1))) quoted(m)
            else {
              val (name, ts) = (m.group(1), m.group(2).toLong)
              val v = LakeLayout.lakeVersionAsOf(spark, pathOf(spark, name), ts)
                .getOrElse(throw new IllegalArgumentException(
                  s"$name has no version committed at or before instant " +
                    s"$ts (the table did not exist yet)"))
              pinnedView(spark, name, v)
            })
        }
        // hydrate table references this session has never seen from the
        // METASTORE record (a fresh session's first SELECT of a lake
        // name) — only FROM/JOIN positions, so column names don't cost
        // catalog lookups
        tableRefRe.findAllMatchIn(rewritten).map(_.group(1)).toSet
          .filterNot(n => registryOf(spark).contains(n.toLowerCase))
          .foreach(n => resolve(spark, n))
        // advance the plain current-snapshot views the statement uses,
        // always under the ORIGINAL registered casing
        registryOf(spark).values.foreach { case (orig, path, _) =>
          if (s"(?i)\\b$orig\\b".r.findFirstIn(rewritten).isDefined)
            Catalog.registerLakeView(spark, path, orig)
        }
        spark.sql(rewritten)
    }

  /** Apply `f` to every segment of `stmt` OUTSIDE quoted regions,
    * re-assembling the quoted text verbatim — the rewrite can then
    * never corrupt data values or identifiers that merely mention a
    * table name or an AS-OF phrase. Three quote forms, matching
    * Spark's default (non-ANSI) lexer: single- AND double-quoted
    * string literals (doubled-quote '' / "" escapes and backslash
    * escapes included — the default parser processes \' and \" inside
    * both), and backquoted identifiers (doubled `` escape). */
  private val literalRe =
    ("'(?:\\\\.|''|[^'\\\\])*'" +      // '...'  with \x and '' escapes
      "|\"(?:\\\\.|\"\"|[^\"\\\\])*\"" + // "..."  with \x and "" escapes
      "|`(?:``|[^`])*`").r             // `...`  with `` escape
  private def rewriteOutsideLiterals(stmt: String)(
      f: String => String): String = {
    val sb = new StringBuilder
    var last = 0
    literalRe.findAllMatchIn(stmt).foreach { m =>
      sb.append(f(stmt.substring(last, m.start))).append(m.matched)
      last = m.end
    }
    sb.append(f(stmt.substring(last)))
    sb.toString
  }

  private def restoreResult(spark: SparkSession, name: String,
      version: Long): DataFrame = {
    import spark.implicits._
    val path = pathOf(spark, name)
    val v = LakeLayout.restoreLake(spark, path, version)
    // advance the plain view (under the ORIGINAL registered casing) so
    // the next SELECT sees the rolled-back state
    val orig = registryOf(spark)(name.toLowerCase)._1
    Catalog.registerLakeView(spark, path, orig)
    Seq((orig, version, v))
      .toDF("table_name", "restored_version", "version")
  }

  private def refreshView(spark: SparkSession, name: String): String = {
    val (orig, path, _) = registryOf(spark)(name.toLowerCase)
    Catalog.registerLakeView(spark, path, orig)
    orig
  }

  /** `INSERT INTO <name> VALUES ...` / `INSERT INTO <name> SELECT ...`
    * lowered to [[LakeLayout.appendToLake]] — the O(batch) append
    * commit, constraints enforced, provenance recorded. Rows align to
    * the table's committed schema BY POSITION (ANSI insert semantics)
    * and cast to its column types; a SELECT body goes through the
    * full statement rewrite, so AS-OF sources work inside it. */
  private def insertResult(spark: SparkSession, name: String,
      body: String): DataFrame = {
    import spark.implicits._
    val path = pathOf(spark, name)
    val key = registryOf(spark)(name.toLowerCase)._3
    val src =
      if (body.trim.toUpperCase(java.util.Locale.ROOT).startsWith("VALUES"))
        spark.sql(body) // standalone inline table
      else sql(spark, body)
    val aligned = LakeLayout.readLake(spark, path) match {
      case Some(snap) =>
        val s = snap.schema
        require(src.columns.length == s.fields.length,
          s"INSERT INTO $name: ${src.columns.length} columns provided, " +
            s"table has ${s.fields.length}")
        src.toDF(s.fieldNames.toIndexedSeq: _*)
          .select(s.fields.toIndexedSeq.map(f =>
            org.apache.spark.sql.functions.col(f.name)
              .cast(f.dataType).as(f.name)): _*)
      case None => src // first commit fixes the schema
    }
    val r = LakeLayout.appendToLake(spark, path, aligned,
      "sql-insert", sqlBatchId.incrementAndGet(), statsKey = key)
    val orig = refreshView(spark, name)
    Seq((orig, r.filesAdded.toLong, r.version))
      .toDF("table_name", "files_added", "version")
  }

  /** Split a SET clause on TOP-LEVEL commas only: commas inside
    * parentheses (function args) and string literals stay put, so
    * `SET a = greatest(x, y), b = 'v,w'` parses as two assignments. */
  private def splitAssignments(sets: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var quote: Char = 0
    var start = 0
    var i = 0
    while (i < sets.length) {
      val c = sets.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += sets.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += sets.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** `UPDATE <name> SET c = <expr>, ... WHERE <pred>` lowered to the
    * OCC upsert of exactly the touched rows: one pruned read selects
    * them, the SET expressions rewrite the named columns (cast back to
    * their committed types), and `upsertIntoLakeOcc` lands the batch —
    * O(touched rows + touched files), constraints enforced, never a
    * table rewrite. The merge key itself cannot be SET (rewriting
    * identity is an insert+delete, not an update). */
  private def updateResult(spark: SparkSession, name: String,
      sets: String, pred: String): DataFrame = {
    import spark.implicits._
    val path = pathOf(spark, name)
    val key = keyOf(spark, name, "UPDATE")
    val snap = LakeLayout.readLake(spark, path)
      .getOrElse(throw new IllegalArgumentException(
        s"UPDATE $name: the table has no committed version"))
    val assigns = splitAssignments(sets).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"UPDATE $name: malformed assignment '$a'")
      (a.substring(0, i).trim, a.substring(i + 1).trim)
    }
    assigns.foreach { case (c, _) =>
      require(snap.columns.contains(c),
        s"UPDATE $name: no such column '$c' " +
          s"(columns: ${snap.columns.mkString(", ")})")
      require(!c.equalsIgnoreCase(key),
        s"UPDATE $name: cannot SET the merge key '$key'")
    }
    // single-scan lowering: which files hold a predicate row, then a
    // per-row CASE rewrite of exactly those files — the generic
    // filter-into-batch upsert lowering read the touched bytes 4×
    // (predicate scan, key touch-set, anti-join, union) for the same
    // result rows ([[LakeLayout.updateLakeWhereOcc]])
    val r = LakeLayout.updateLakeWhereOcc(spark, path, key,
      org.apache.spark.sql.functions.expr(pred), assigns,
      writerId = "sql", batchId = sqlBatchId.incrementAndGet())
    val orig = refreshView(spark, name)
    Seq((orig, r.filesRewritten.toLong, r.version))
      .toDF("table_name", "files_rewritten", "version")
  }

  /** `DELETE FROM <name> WHERE <pred>` lowered to the MERGE-ON-READ
    * deletion-vector delete under the OCC protocol
    * ([[LakeLayout.deleteFromLakeDvOcc]]): the predicate selects the
    * doomed keys from the current snapshot (one pruned read), the
    * delete itself writes O(deleted keys) sidecar bytes and rewrites
    * nothing — the posture a 100 TB table needs for scattered-key
    * takedowns; normal maintenance retires the vectors. */
  private def deleteResult(spark: SparkSession, name: String,
      pred: String): DataFrame = {
    import spark.implicits._
    val path = pathOf(spark, name)
    val key = keyOf(spark, name, "DELETE FROM")
    val snap = LakeLayout.readLake(spark, path)
      .getOrElse(throw new IllegalArgumentException(
        s"DELETE FROM $name: the table has no committed version"))
    val doomed = snap.filter(org.apache.spark.sql.functions.expr(pred))
      .select(org.apache.spark.sql.functions.col(key))
    val v = LakeLayout.deleteFromLakeDvOcc(spark, path, doomed, key,
      writerId = "sql", batchId = sqlBatchId.incrementAndGet())
    val orig = refreshView(spark, name)
    Seq((orig, v)).toDF("table_name", "version")
  }

  /** `MERGE INTO` — lowered to the OCC merge core in ONE commit per
    * statement, three supported shapes:
    *
    *   MERGE INTO t USING s ON t.k = s.k
    *     WHEN MATCHED THEN UPDATE SET *
    *     WHEN NOT MATCHED THEN INSERT *           → upsertIntoLakeOcc
    *
    *   MERGE INTO t USING s ON t.k = s.k
    *     WHEN MATCHED AND <cond> THEN DELETE
    *     WHEN MATCHED THEN UPDATE SET *
    *     WHEN NOT MATCHED THEN INSERT *           → upsertIntoLakeOcc
    *                                                with deleteWhen
    *                                                (one atomic commit:
    *                                                updates, inserts and
    *                                                removals land in one
    *                                                version — a reader
    *                                                can never observe a
    *                                                half-applied merge)
    *
    *   MERGE INTO t [AS a] USING s [AS b] ON a.k = b.k
    *     WHEN MATCHED [AND <cond>] THEN UPDATE SET c = expr, ...  (or SET *)
    *     [WHEN NOT MATCHED THEN INSERT *
    *      | WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs)]
    *                                              → join lowering +
    *                                                upsertIntoLakeOcc
    *
    * `s` is any resolvable table/view name (a registered lake name's
    * view is refreshed first); the ON clause must equate the table's
    * registered merge key with itself across the two sides. In the
    * delete form `<cond>` is evaluated over SOURCE rows and may
    * reference source-only marker columns (never written to the
    * table). In the conditional/assignment form, conditions and
    * expressions reference the two sides by table name, explicit
    * alias, or the `t`/`s` convention; matched rows failing the
    * condition stay untouched; unassigned columns keep their target
    * value (UPDATE) or null-fill (explicit-column INSERT). Constraints
    * gate inside the lowered operation. Scale: the SET * forms never
    * read the table (file-granular touch sets); the assignment form
    * reads only the files whose key range intersects the source keys
    * ([[LakeLayout.readLakeMatching]] — the touch-set pruning as a
    * read), so a key-local source costs O(touched files) where a
    * naive Delta-style merge would scan the table; the commit itself
    * stays file-granular. */
  private def mergeResult(spark: SparkSession, name: String,
      tAlias: Option[String], srcName: String, sAlias: Option[String],
      on: String, clauses: String): DataFrame = {
    import spark.implicits._
    val path = pathOf(spark, name)
    val key = on match {
      case mergeOnRe(a, b) =>
        require(a.equalsIgnoreCase(b),
          s"MERGE INTO $name: ON must equate the same key column on " +
            s"both sides, got '$a' = '$b'")
        a
      case _ => throw new IllegalArgumentException(
        s"MERGE INTO $name: unsupported ON clause '$on' — use " +
          "ON t.<key> = s.<key>")
    }
    // a MERGE keyed on anything but the registered merge key would
    // silently collapse rows sharing that column's value — fail loudly
    // instead (standard MERGE errors on multiple matches)
    resolve(spark, name).flatMap(_._3).foreach { reg =>
      require(key.equalsIgnoreCase(reg),
        s"MERGE INTO $name: ON column '$key' must equal the " +
          s"registered merge key '$reg'")
    }
    if (isRegistered(spark, srcName)) refreshView(spark, srcName)
    val src = spark.table(srcName)
    import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit}
    // standard MERGE errors when a target row matches more than one
    // source row; the lowerings below would instead write one
    // replacement per duplicate — breaking the key-uniqueness
    // invariant the touch-set pruning and anti-joins rely on. One
    // narrow aggregate over the source (the small side) guards it.
    require(src.groupBy(col(key)).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).isEmpty,
      s"MERGE INTO $name: source '$srcName' carries duplicate values " +
        s"of merge key '$key' — a MERGE source must match each target " +
        "row at most once; deduplicate the source first")
    val bid = sqlBatchId.incrementAndGet()
    val r = clauses.trim match {
      case mergeUpsertRe() =>
        LakeLayout.upsertIntoLakeOcc(spark, path, src, key,
          writerId = "sql", batchId = bid)
      case mergeDeleteUpsertRe(cond) =>
        // ONE atomic commit: the delete condition (evaluated over
        // source rows; source-only marker columns allowed — the merge
        // core filters before its table-schema projection, so markers
        // are visible to the condition and never written)
        LakeLayout.upsertIntoLakeOcc(spark, path, src, key,
          writerId = "sql", batchId = bid,
          deleteWhen = Some(coalesce(expr(stripSourceQuals(
            cond, srcName, sAlias)), lit(false))))
      case other =>
        mergeGeneral(spark, name, path, key, tAlias, srcName, sAlias,
          src, other, bid)
    }
    val orig = refreshView(spark, name)
    Seq((orig, r.filesRewritten.toLong, r.version))
      .toDF("table_name", "files_rewritten", "version")
  }

  /** Drop source-side qualifiers from an expression evaluated directly
    * over the source frame (the delete-form condition): `s.marker`,
    * `<srcName>.marker`, `<alias>.marker` all resolve as `marker`. */
  private def stripSourceQuals(e: String, srcName: String,
      sAlias: Option[String]): String = {
    val quals = (Seq(srcName) ++ sAlias.toSeq ++
      (if (sAlias.isEmpty) Seq("s") else Nil))
      .map(java.util.regex.Pattern.quote).mkString("|")
    rewriteOutsideLiterals(e)(
      _.replaceAll(s"(?i)\\b(?:$quals)\\s*\\.\\s*", ""))
  }

  /** The conditional / column-assignment MERGE forms, lowered to ONE
    * OCC upsert: matched rows passing the condition become replacement
    * rows (assignments applied over a target⋈source join, unassigned
    * columns carried from the target), unmatched source rows become
    * inserts (source row for `INSERT *`, expression list with null
    * fill for the explicit form); matched rows failing the condition
    * are simply absent from the batch — untouched on disk. */
  private def mergeGeneral(spark: SparkSession, name: String,
      path: String, key: String, tAlias: Option[String], srcName: String,
      sAlias: Option[String], src: org.apache.spark.sql.DataFrame,
      clauses: String, bid: Long): LakeLayout.LakeUpsertResult = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    val snap = LakeLayout.readLake(spark, path)
      .getOrElse(throw new IllegalArgumentException(
        s"MERGE INTO $name: the table has no committed version"))
    val tFields = snap.schema.fields.toIndexedSeq
    // qualifier canonicalization: the two sides are joined under the
    // internal aliases __t/__s, and every way the statement may name
    // them (table name, explicit alias, or the t/s convention when no
    // alias was given) rewrites to those — outside string literals
    val tQuals = (Seq(name) ++ tAlias.toSeq ++
      (if (tAlias.isEmpty) Seq("t") else Nil)).map(_.toLowerCase).distinct
    val sQuals = (Seq(srcName) ++ sAlias.toSeq ++
      (if (sAlias.isEmpty) Seq("s") else Nil)).map(_.toLowerCase).distinct
    require(tQuals.intersect(sQuals).isEmpty,
      s"MERGE INTO $name: target and source qualifiers overlap " +
        s"(${tQuals.intersect(sQuals).mkString(", ")}) — alias one side")
    def canon(e: String): String = {
      val tq = tQuals.map(java.util.regex.Pattern.quote).mkString("|")
      val sq = sQuals.map(java.util.regex.Pattern.quote).mkString("|")
      rewriteOutsideLiterals(e)(
        _.replaceAll(s"(?i)\\b(?:$tq)\\s*\\.\\s*", "__t.")
          .replaceAll(s"(?i)\\b(?:$sq)\\s*\\.\\s*", "__s."))
    }
    // parse the clause list
    var update: Option[(Option[String], Option[Seq[(String, String)]])] =
      None // (condition, assignments — None = SET *)
    var insertStar = false
    var insertCols: Option[(Seq[String], Seq[String])] = None
    clauses.split(clauseBoundary).map(_.trim).filter(_.nonEmpty)
      .foreach {
        case clauseUpdateRe(cond, sets) =>
          require(update.isEmpty,
            s"MERGE INTO $name: at most one WHEN MATCHED ... UPDATE clause")
          val assigns =
            if (sets.trim == "*") None
            else Some(splitAssignments(sets).map { a =>
              val i = a.indexOf('=')
              require(i > 0,
                s"MERGE INTO $name: malformed assignment '$a'")
              (a.substring(0, i).trim, a.substring(i + 1).trim)
            })
          assigns.foreach(_.foreach { case (c, _) =>
            val bare = c.substring(c.lastIndexOf('.') + 1).trim
            require(tFields.exists(_.name.equalsIgnoreCase(bare)),
              s"MERGE INTO $name: no such column '$bare' " +
                s"(columns: ${snap.columns.mkString(", ")})")
            require(!bare.equalsIgnoreCase(key),
              s"MERGE INTO $name: cannot SET the merge key '$key'")
          })
          update = Some((Option(cond), assigns))
        case clauseInsertStarRe() => insertStar = true
        case clauseInsertColsRe(cols, vals) =>
          val cs = splitAssignments(cols)
          val vs = splitAssignments(vals)
          require(cs.length == vs.length,
            s"MERGE INTO $name: INSERT names ${cs.length} columns " +
              s"but VALUES has ${vs.length} expressions")
          cs.foreach(c => require(
            tFields.exists(_.name.equalsIgnoreCase(c)),
            s"MERGE INTO $name: no such column '$c' " +
              s"(columns: ${snap.columns.mkString(", ")})"))
          require(cs.exists(_.equalsIgnoreCase(key)),
            s"MERGE INTO $name: the INSERT column list must include " +
              s"the merge key '$key'")
          insertCols = Some((cs, vs))
        case clauseDeleteRe(_) =>
          throw new IllegalArgumentException(
            s"MERGE INTO $name: a DELETE clause combines only with " +
              "the SET * form — WHEN MATCHED AND <cond> THEN DELETE " +
              "WHEN MATCHED THEN UPDATE SET * " +
              "WHEN NOT MATCHED THEN INSERT *")
        case other => throw new IllegalArgumentException(
          s"MERGE INTO $name: unsupported clause '$other'")
      }
    // the join reads only the files whose key range intersects the
    // source's keys (the upsert touch-set pruning, as a read) — a
    // key-local merge source costs O(touched files), never a table
    // scan; the anti-join below stays exact because a file pruned out
    // provably holds no source key
    val tgt = LakeLayout
      .readLakeMatching(spark, path, src.select(col(key)), key)
      .as("__t")
    val srcA = src.as("__s")
    val joinOn = col(s"__t.$key") === col(s"__s.$key")
    val updated = update.map { case (condTxt, assigns) =>
      val cond = condTxt
        .map(c => coalesce(expr(canon(c)), lit(false)))
        .getOrElse(lit(true))
      val projected = assigns match {
        case None => tFields.map(f =>
          col(s"__s.${f.name}").cast(f.dataType).as(f.name))
        case Some(as) => tFields.map { f =>
          as.find { case (c, _) =>
            c.substring(c.lastIndexOf('.') + 1).trim
              .equalsIgnoreCase(f.name)
          } match {
            case Some((_, e)) =>
              expr(canon(e)).cast(f.dataType).as(f.name)
            case None => col(s"__t.${f.name}").as(f.name)
          }
        }
      }
      tgt.join(srcA, joinOn, "inner").filter(cond).select(projected: _*)
    }
    val inserted =
      if (insertStar)
        Some(srcA.join(tgt, joinOn, "left_anti").select(tFields.map(f =>
          col(s"__s.${f.name}").cast(f.dataType).as(f.name)): _*))
      else insertCols.map { case (cs, vs) =>
        val byCol = cs.map(_.toLowerCase).zip(vs).toMap
        srcA.join(tgt, joinOn, "left_anti").select(tFields.map { f =>
          byCol.get(f.name.toLowerCase) match {
            case Some(v) => expr(canon(v)).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*)
      }
    val batch = (updated.toSeq ++ inserted.toSeq)
      .reduceOption(_ unionByName _)
      .getOrElse(throw new IllegalArgumentException(
        s"MERGE INTO $name: no supported clause found in '$clauses'"))
    LakeLayout.upsertIntoLakeOcc(spark, path, batch, key,
      writerId = "sql", batchId = bid)
  }

  /** A view pinned to one committed version — its name encodes the
    * version, so repeated statements reuse the registration and two
    * pins of different versions never collide. */
  private def pinnedView(spark: SparkSession, name: String,
      version: Long): String = {
    val viewName = s"${name}__asof_v$version"
    Catalog.registerLakeVersionView(spark, pathOf(spark, name), version,
      viewName)
    viewName
  }
}
