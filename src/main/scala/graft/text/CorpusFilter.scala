package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end training-data corpus filter: the funnel every LLM data
  * pipeline runs before tokenization — language ID → quality gate →
  * exact dedup → near-dup cluster dedup — composed from the engine's own
  * kernels ([[TextAnalysis]], [[Dedup]]) and reported as per-stage
  * surviving doc/byte counts.
  *
  * Scale shape: ONE pass over the corpus computes every per-doc flag
  * (lang, quality, fingerprint) as codegen'd column expressions; the
  * exact-dedup keeper is a single window over the fingerprint shuffle —
  * the only corpus-sized shuffle in the funnel. The near-dup stage reads
  * sizes from that flagged relation: the survivor-restricted pairs, with
  * both ends' sizes, come to the driver in one bounded collect, and
  * union-find plus [[Dedup.clusterMembers]]' keeper rule yield the drops'
  * count and bytes (above the bound, the component kernel and a keeper
  * window do, and one aggregate returns the same two numbers). The final
  * stage counts are conditional aggregates of the flagged relation, the
  * near-dup stage the exact stage less the drops — no per-stage rescans
  * of the corpus and no join back.
  */
object CorpusFilter {

  /** Column-level quality verdict — same integer-threshold contract as
    * [[TextAnalysis.quality]]'s `is_quality` (≥5 tokens, mean token
    * length ≤ 20, ≥1 stopword per 50 tokens).
    */
  def isQuality(t: Column): Column = {
    val tok = TextAnalysis.tokenCount(t)
    tok >= 5 &&
      length(t).cast("int") <= tok * 20 &&
      TextAnalysis.stopwordCount(t) * 50 >= tok
  }

  /** The funnel. `nearDupPairs` is a verified (id_a, id_b) near-dup pair
    * relation (e.g. [[Dedup.minhashNearDupsFrom]]); it is restricted to
    * docs still alive after the exact-dedup stage before clustering, so
    * each stage filters the previous stage's survivors — pipeline
    * semantics, not four independent filters. Output: 5 rows
    * (stage_idx, stage, n_docs, n_bytes) — total, lang, quality,
    * exact_dedup, near_dedup.
    */
  def funnel(docs: DataFrame, nearDupPairs: DataFrame,
             idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val t = col(textCol)
    val fpW = Window.partitionBy("fp")
    val flagged = docs
      .select(col(idCol), octet_length(t).as("n_bytes"),
              (TextAnalysis.langPrediction(t) === "en").as("ok_lang"),
              isQuality(t).as("ok_quality"),
              TextAnalysis.fingerprint(t).as("fp"))
      // exact-dedup keeper AMONG lang+quality survivors: min surviving id
      // per fingerprint (the when() drops non-survivors from the min)
      .withColumn("ok_exact",
        col(idCol) === min(when(col("ok_lang") && col("ok_quality"),
                                col(idCol))).over(fpW))
      // materialized once: the flag relation feeds BOTH the near-dup
      // restriction (with its sizes) and the final stage-count
      // aggregate — without the barrier the second
      // consumer re-paid the corpus scan + quality/lang columns + the
      // fingerprint window. This is the funnel's natural materialization
      // point at any scale (one row of flags per doc).
      .localCheckpoint(true)
    val s1 = col("ok_lang")
    val s2 = s1 && col("ok_quality")
    val s3 = s2 && col("ok_exact")
    // the near-dup drops are exact-stage survivors, so the last stage is
    // the third less their count and bytes
    val survivors = flagged.where(s3).select(col(idCol), col("n_bytes"))
    val sized = Dedup.sizedPairs(nearDupPairs, survivors, idCol, "inner")
    val (nDrop, bDrop) = Dedup.membersOnDriver(sized).fold(loopDrops(sized, idCol)) { ms =>
      val drops = ms.filterNot(_.keeper)
      (drops.length.toLong, drops.map(_.nBytes.toLong).sum)
    }
    def n(c: Column) = count(when(c, 1))
    def b(c: Column) = sum(when(c, col("n_bytes")))
    flagged.agg(count(lit(1)).as("n0"), sum("n_bytes").as("b0"),
          n(s1).as("n1"), b(s1).as("b1"),
          n(s2).as("n2"), b(s2).as("b2"),
          n(s3).as("n3"), b(s3).as("b3"))
      .withColumn("n4", col("n3") - nDrop)
      .withColumn("b4", col("b3") - bDrop)
      .select(expr("""stack(5,
          0, 'total',       n0, CAST(b0 AS BIGINT),
          1, 'lang',        n1, CAST(b1 AS BIGINT),
          2, 'quality',     n2, CAST(b2 AS BIGINT),
          3, 'exact_dedup', n3, CAST(b3 AS BIGINT),
          4, 'near_dedup',  n4, CAST(b4 AS BIGINT))
        AS (stage_idx, stage, n_docs, n_bytes)"""))
  }

  /** The near-dup drops' count and bytes above the driver bound: one
    * aggregate over [[Dedup.clusterMembersLoop]]'s non-keepers.
    */
  private[graft] def loopDrops(sized: DataFrame, idCol: String): (Long, Long) = {
    val d = Dedup.clusterMembersLoop(sized, idCol).where(!col("is_keeper"))
      .agg(count(lit(1)), coalesce(sum("n_bytes"), lit(0L))).head()
    (d.getLong(0), d.getLong(1))
  }
}
