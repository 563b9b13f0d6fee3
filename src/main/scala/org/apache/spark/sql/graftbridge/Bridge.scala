package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic

/** Minimal accessor for the `private[sql]` classic API graft needs: the
  * Column ↔ Catalyst Expression conversion for its custom expressions,
  * session cloning and plan rebinding for conf-scoped work. Lives inside
  * the org.apache.spark.sql package solely to re-export those calls —
  * standard practice for libraries shipping native Catalyst expressions
  * against the classic API.
  */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The one way graft runs work under a conf other than the caller's: a
    * clone of `s` (conf, temp views; SparkContext and cache shared) with
    * `conf` set on the clone only, so the caller's session is never
    * touched. A relation built on `s` runs in the child only after
    * [[rebind]]: a join takes its session from its left side.
    */
  def child(s: SparkSession, conf: (String, String)*): SparkSession = {
    val c = s.asInstanceOf[classic.SparkSession].cloneSession()
    conf.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** `df`'s analyzed plan as a DataFrame of `s` (`df` itself if bound to
    * `s`); analyzed, so a name resolved in `df`'s catalog stays resolved.
    */
  def rebind(df: DataFrame, s: SparkSession): DataFrame =
    if (df.sparkSession eq s) df
    else classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
                                df.queryExecution.analyzed)

  /** Rebuild a DataFrame as a fresh leaf over an already-materialized
    * plan's InternalRow RDD, DROPPING inherited statistics.
    *
    * Dataset.localCheckpoint preserves the checkpointed plan's size
    * estimate on the resulting LogicalRDD; an iterative kernel that
    * self-joins its state every round then SQUARES that estimate per
    * round — double-exponential growth that overflows BigInteger in the
    * size-only stats visitor after ~30 rounds. The fresh leaf restores
    * default stats (no broadcast misplans either — iterative state joins
    * are shuffle joins by design). Call on a checkpointed Dataset so
    * `toRdd` is the materialized RDD, not a recompute.
    */
  def freshLeaf(df: DataFrame): DataFrame =
    df.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema)
}
