package graft.queries

import org.apache.spark.sql.functions._

/** Relational joins and aggregates over the TPC-H-ish tables. */
object TpchQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q1_agg",
      (s, dir) => s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
             count(lit(1)).as("count_order"),
             countDistinct("l_orderkey").as("n_orders")),
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
        |       COUNT(*) AS count_order, COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY 1, 2""".stripMargin),
    QueryDef("q_mkt_orders",
      (s, dir) => {
        val o = s.read.parquet(s"$dir/orders.parquet")
        val c = s.read.parquet(s"$dir/customer.parquet")
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
               countDistinct("o_custkey").as("n_custs"))
      },
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |       COUNT(DISTINCT o_custkey) AS n_custs
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin),
    // TPC-H Q3-shaped: selective filters on all three tables (pushed to
    // the parquet scans), broadcast dimension, fact-fact equi-join;
    // integer-valued quantity sums keep the oracle exact
    QueryDef("q3_shipping",
      (s, dir) => {
        val cutoff = lit("1995-03-15").cast("timestamp_ntz")
        val c = s.read.parquet(s"$dir/customer.parquet")
          .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val o = s.read.parquet(s"$dir/orders.parquet")
          .where(col("o_orderdate") < cutoff)
          .select("o_orderkey", "o_custkey", "o_orderpriority")
        val l = s.read.parquet(s"$dir/lineitem.parquet")
          .where(col("l_shipdate") > cutoff)
          .select("l_orderkey", "l_quantity")
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_lines"),
               sum("l_quantity").as("sum_qty"),
               countDistinct("o_orderkey").as("n_orders"))
      },
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |       SUM(l_quantity) AS sum_qty,
        |       COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |            JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY 1""".stripMargin)
  )
}
