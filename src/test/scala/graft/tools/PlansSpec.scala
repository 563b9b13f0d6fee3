package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Pins the plan audit's red-flag count on three tiny plans. */
class PlansSpec extends SparkSuite {
  private def flags(df: DataFrame) = Plans.redFlags(df.queryExecution.executedPlan)
  private def ids = spark.range(0, 100, 1, 4).toDF("x")

  test("an unpartitioned window plans one SinglePartition exchange") {
    val df = ids.withColumn("r", row_number().over(Window.orderBy("x")))
    assert(flags(df) == Plans.RedFlags(1, 0, 0))
  }

  test("a cross join plans one nested-loop or cartesian join") {
    val f = flags(ids.crossJoin(ids.select(col("x").as("y"))))
    assert(f.singlePartition == 0 && f.cartesian + f.nestedLoop == 1, f)
  }

  test("a plain groupBy raises no flag") {
    assert(flags(ids.groupBy(col("x") % 3).count()) == Plans.RedFlags(0, 0, 0))
  }
}
