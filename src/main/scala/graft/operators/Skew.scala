package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities. AQE's skew-join split handles sort-merge
  * skew automatically; salting is the explicit tool for hash-partitioned
  * joins/aggregations against a hot key (e.g. one mega-city's quadbin
  * ancestor holding 100× the tiles of any other).
  */
object Skew {

  /** Salted equi-join of a skewed `left` against a smaller `right`:
    * left rows get a deterministic salt in [0, salts); right rows are
    * replicated once per salt; the join key becomes (key, salt), splitting
    * each hot key's partition into `salts` tasks. Results are identical to
    * the plain equi-join. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      salts: Int, joinType: String = "inner"): DataFrame = {
    // right rows are REPLICATED per salt, so any join type that can emit
    // an unmatched right row (right/full outer) would emit it `salts`
    // times — refuse those loudly rather than silently duplicate
    val safe = Set("inner", "left", "leftouter", "leftsemi", "leftanti", "cross")
    require(safe.contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin replicates the right side; joinType '$joinType' would " +
        "duplicate unmatched right rows — use the plain join for right/full outer")
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(salts)).cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft.join(saltedRight, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Two-stage salted aggregation: partial aggregate on (key, salt), final
    * on key — bounds any single task's input to ~1/salts of the hot key.
    * `partials` maps each aggregated column to (partialExpr, finalExpr). */
  def saltedCountSum(df: DataFrame, key: String, sumCol: String,
      salts: Int): DataFrame =
    df.withColumn("__salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(salts)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"), sum(col(sumCol)).as("__s"))
      .groupBy(col(key))
      .agg(sum("__n").as("n"), sum("__s").as(s"sum_$sumCol"))
}
