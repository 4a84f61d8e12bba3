package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Skew mitigation utilities. AQE's skew-join splitting handles most cases at
 * runtime (`spark.sql.adaptive.skewJoin.enabled`, on by default in our
 * sessions); this is the explicit tool for a shape AQE can't fix: a
 * broadcast-ineligible join with known hot keys.
 */
object SkewOps {

  /**
   * Salted join for hot keys: replicate each right-side row `salts` times
   * (one per salt value) and scatter left-side rows randomly across salts, so
   * a hot join key spreads over `salts` reducers instead of one. Right side
   * grows by the factor — use with a small-ish right side that still exceeds
   * the broadcast threshold, or restrict to the known-hot keys.
   */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      salts: Int = 16
  ): DataFrame = {
    val l = left.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val r = right
      .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
      .withColumn("__salt", col("__salt").cast("long")) // generators can't nest inside a cast
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }

  /**
   * [[saltedJoin]] as an oracle-checked query: events (the skew-prone fact
   * side) joined to a customer-derived dimension through the 8-way salt,
   * then rolled up per market segment. The salt provably cancels — every
   * left row matches exactly ONE replica of its dimension row (the one
   * carrying its salt value) — so the result is bit-identical to the plain
   * join the oracle runs, whatever the salt distribution was. Value sums
   * quantize to integer cents before summing (order-independent exactness,
   * same rule as [[TimeSeriesOps.slidingWindowAgg]]).
   *
   * At 100 TB this is the shape for a hot-keyed fact↔dimension join whose
   * dimension exceeds the broadcast threshold: the 8x replicated dimension
   * still shuffles as a dimension, while the hot fact key fans out over 8
   * reducers instead of melting one.
   */
  def saltedSegmentRollup(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.t(spark, dir, "events")
    val dim = Tables.t(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    saltedJoin(events, dim, "user_id", salts = 8)
      .groupBy("segment")
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_cents")
      )
      .orderBy("segment")
  }
}
