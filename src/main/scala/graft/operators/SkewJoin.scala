package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys (SURVEY §7.4 risk 6 / 100 TB
  * posture). AQE's skew-join handles most cases at runtime; explicit
  * salting is for the pathological hot key that still overwhelms one
  * task — e.g. the null-ish "unknown user" owning 10% of a 100 TB fact
  * table.
  *
  * Mechanics: the skewed (large) side gets a random-ish salt in
  * [0, factor); the small side is replicated `factor`× with every salt
  * value; the join key becomes (key, salt), splitting each hot key's
  * rows across `factor` tasks. Row multiplicity is preserved exactly
  * (each large-side row matches exactly one replica).
  *
  * The salt must be DETERMINISTIC per row: a non-deterministic source
  * (monotonically_increasing_id, rand) feeding the shuffle key means a
  * partially re-executed map stage (shuffle-fetch failure → task retry)
  * can re-salt rows differently and duplicate/lose them — exactly the
  * fault profile of a 1000-executor run. So the salt is a content hash:
  * pass `uniqueCol` (a stable row-unique column, e.g. the fact table's
  * primary key) to spread byte-identical duplicate rows of the hot key;
  * without it the hash covers all columns, and fully identical duplicate
  * rows share one sub-key (documented trade-off, still correct).
  */
object SkewJoin {

  /** Join `large` ⋈ `small` on `key`, salting `large` into `factor`
    * sub-keys. Inner join only (outer variants need null-side care).
    * @param uniqueCol stable row-unique column of `large` to derive the
    *   salt from (retry-safe AND spreads identical-content duplicates);
    *   None → deterministic hash of all columns. */
  def saltedJoin(
      large: DataFrame,
      small: DataFrame,
      key: String,
      factor: Int = 8,
      uniqueCol: Option[String] = None): DataFrame = {
    require(factor >= 1)
    require(!large.columns.contains("__salt") && !small.columns.contains("__salt"),
      "__salt column name is reserved by saltedJoin")
    val salted = withSalt(large, factor, uniqueCol)
    val salts = (0 until factor).map(i => lit(i))
    val replicated = small.withColumn("__salt",
      explode(array(salts: _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** The salting step itself, shared with tests so they observe the
    * REAL salt distribution rather than re-deriving the expression. */
  private[graft] def withSalt(large: DataFrame, factor: Int,
      uniqueCol: Option[String]): DataFrame = {
    val saltSource = uniqueCol match {
      case Some(c) => xxhash64(col(c))
      case None    => xxhash64(struct(large.columns.map(col): _*))
    }
    large.withColumn("__salt", pmod(saltSource, lit(factor)))
  }

  /** Diagnostic: per-key row counts on the top-N heaviest keys — what
    * you run BEFORE deciding to salt. */
  def keySkewProfile(df: DataFrame, key: String, topN: Int = 10): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("rows"))
      .orderBy(col("rows").desc, col(key))
      .limit(topN)
}
