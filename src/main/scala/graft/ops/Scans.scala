package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Scale-adaptive scan widening (guide §2.5 "input skew: one huge
  * unsplittable file"). A parquet file with a single row group — this
  * sandbox's testdata layout — yields a ONE-task scan, so every
  * compute-heavy narrow chain on it (regex scrubs, per-char gram
  * hashing, all-pairs NLJ) runs on one core of the machine. The fix the
  * guide prescribes is a repartition immediately after the read, applied
  * CONDITIONALLY: when the scan already carries at least the session's
  * parallelism (any production-scale input), this is a planning-only
  * no-op — no shuffle is ever added at scale.
  *
  * Deliberately NOT applied to scan→aggregate queries (q1_agg-class):
  * measured there, the round-robin shuffle costs more than the
  * single-task aggregation it parallelizes. Use only ahead of chains
  * whose per-row compute dominates the row's shuffle bytes.
  *
  * CALLER CONTRACT, checked: the input is a SHUFFLE-FREE scan relation
  * (scan + narrow ops only). The partition probe reads `df.rdd`, and
  * under AQE that materializes every non-result query stage — an input
  * containing an Exchange would execute (and throw away) its upstream
  * work just to learn a partition count. The check only plans: under
  * AQE it walks the initial plan, before any stage is created.
  */
object Scans extends AdaptiveSparkPlanHelper {
  def wide(df: DataFrame): DataFrame = {
    require(find(df.queryExecution.executedPlan)(_.isInstanceOf[ShuffleExchangeLike]).isEmpty,
      "Scans.wide needs a shuffle-free input; its plan has an Exchange")
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }
}
