package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.exact.div

/** Explicit salt-and-replicate equi-join for degenerate key skew.
  *
  * AQE's skew-join handles moderate skew after the fact by splitting
  * oversized shuffle partitions; explicit salting is for the tail AQE
  * can't fix — a single key carrying 10⁸ rows (an empty-document band
  * bucket, a null-ish join key, one viral URL) where every split of the
  * hot partition still lands the same build rows, or where the skew is
  * known ahead of time and runtime re-planning is wasted work. The
  * banded dedup generators note exactly this regime ("chunk+prefix
  * salting beyond ~10⁸ docs") — this is that machinery, reusable.
  *
  * Semantics: EXACTLY the plain equi-join (tested law). The skewed side
  * salts its key with `pmod(xxhash64(rowKey), saltFactor)`; the build
  * side replicates once per salt value; the join keys on (key, salt) so
  * a hot key's rows spread across `saltFactor` reducers. Cost: build
  * side × saltFactor — size saltFactor to the observed hot-key multiple,
  * not higher. `rowKey` must vary within a hot key (a row id, a digest)
  * or the salt cannot spread it; it stays deterministic across retries,
  * unlike a rand() salt, so shuffle replays and speculative tasks agree.
  */
object Skew {

  def saltedJoin(skewed: DataFrame, build: DataFrame, key: String,
      rowKey: Column, saltFactor: Int): DataFrame = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    require(!skewed.columns.contains("__salt") && !build.columns.contains("__salt"),
      "inputs must not already carry a __salt column (it would be clobbered)")
    val s = skewed.withColumn("__salt",
      pmod(xxhash64(rowKey), lit(saltFactor.toLong)).cast("int"))
    val b = build.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    s.join(b, Seq(key, "__salt")).drop("__salt")
  }

  /** Join-key skew profile — the measurement that decides which tier a
    * join needs (plain shuffle, AQE splits, or [[saltedJoin]], and at
    * what saltFactor): the `k` heaviest keys with, per key,
    *
    *   - `cnt` and `key_rank` (count desc, key asc — deterministic)
    *   - `share_permille`   = cnt × 1000 div total_rows
    *   - `vs_mean_permille` = cnt × 1000 div mean-rows-per-key — the
    *     hot-key multiple: 1000 = perfectly uniform; saltFactor ≈
    *     vs_mean_permille / 1000 rounded up is the spread that levels it
    *
    * plus the corpus totals (`total_rows`, `n_keys`) on every row.
    * All-integer, so the profile replays exactly in the oracle.
    *
    * Scale: per-key counts partial-aggregate map-side; the top-k is a
    * distributed heap (TakeOrderedAndProject), never a global sort; the
    * totals reduce to one broadcast row. The exchange carries one count
    * row per distinct key — never input rows.
    */
  /** Exact equi-join output cardinality WITHOUT running the join: both
    * sides reduce to per-key counts, the counts inner-join (vocabulary-
    * sized frames), and one row comes back:
    *
    *   - `join_rows` = Σ over matched keys of cntL × cntR — the exact
    *     output size of `left JOIN right ON keys`
    *   - `max_key_rows` = the largest single-key contribution (the row
    *     count the hottest reducer would see — the salt decision)
    *   - `matched_keys`, `left_rows/keys`, `right_rows/keys`
    *
    * Run on the sample tier first when the sides are 100 TB; the counts
    * themselves are exact at any scale. Long arithmetic holds to ~10¹⁸
    * output rows — past that the join was never going to run anyway.
    */
  def joinCardinality(left: DataFrame, right: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val cl = left.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__cl"))
    val cr = right.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__cr"))
    val matched = cl.join(cr, keyCols)
      .agg(coalesce(sum(col("__cl") * col("__cr")), lit(0L)).as("join_rows"),
        coalesce(max(col("__cl") * col("__cr")), lit(0L)).as("max_key_rows"),
        count(lit(1)).as("matched_keys"))
    val ls = cl.agg(coalesce(sum(col("__cl")), lit(0L)).as("left_rows"),
      count(lit(1)).as("left_keys"))
    val rs = cr.agg(coalesce(sum(col("__cr")), lit(0L)).as("right_rows"),
      count(lit(1)).as("right_keys"))
    matched.crossJoin(broadcast(ls)).crossJoin(broadcast(rs))
  }

  def keyProfile(df: DataFrame, keyCols: Seq[String], k: Int = 20): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(k >= 1, "k must be >= 1")
    val counts = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(sum(col("cnt")).as("total_rows"),
      count(lit(1)).as("n_keys"))
    val top = counts
      .orderBy(col("cnt").desc +: keyCols.map(col): _*)
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc +: keyCols.map(col): _*)
    top.crossJoin(broadcast(stats))
      .withColumn("key_rank", row_number().over(w).cast("long"))
      .withColumn("share_permille", div(col("cnt") * 1000L, col("total_rows")))
      .withColumn("vs_mean_permille", div(col("cnt") * 1000L,
        greatest(div(col("total_rows"), col("n_keys")), lit(1L))))
  }
}
