package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew handling (A14/X2, north-rule op): explicit salted two-phase
  * aggregation for hot keys. Catalyst already splits hash aggregates into
  * partial/final; explicit salting matters when a single key's partial
  * state is itself too large for one task — hot conversations at 10^12
  * turns — or ahead of keyed stateful ops that hash-partition by key.
  */
object Skew {

  /** Two-phase count/sum aggregate: phase 1 groups on (key, salt) —
    * spreading one hot key over `saltBuckets` tasks — phase 2 merges the
    * partials per key. Result is exactly groupBy(key).agg(count, sum).
    */
  def saltedCountSum(df: DataFrame, key: String, valueCol: Column,
                     saltBuckets: Int = 16): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)))
    salted
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_pc"), sum(valueCol).as("_ps"))
      .groupBy(col(key))
      .agg(sum("_pc").as("n"), sum("_ps").as("total"))
  }
}
