package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale evidence for the training-data pipeline operators (the dedup /
  * funnel family only has sf-sized numbers otherwise): generates a
  * deterministic N-doc corpus FULLY DISTRIBUTED (no driver-side rows —
  * text is derived per-row from a seed id via xxhash64 word picks,
  * written once to parquet so every leg times the operators over a real
  * scan), then runs exact dedup, the MinHash near-dup pipeline, and the
  * end-to-end corpus-filter funnel, reporting docs/sec. One parallelism
  * leg per invocation (the [[Scaling]] convention — run at
  * SPARK_GRAFT_CPUS=N and 4N for the N→4N pair; see [[ToolSession]]).
  *
  * Knobs: GRAFT_DOCS_N (default 1,000,000), GRAFT_DOCS_OUT (JSON line
  * mirror, default /tmp/docsbench.json).
  *
  * Corpus structure (all by id arithmetic, so every leg sees identical
  * bytes): every 17th doc is a NEAR dup of its predecessor (same seed,
  * one extra token), every 23rd an EXACT dup (same seed, same text),
  * every 13th seed has no stopwords (fails the lang gate), every 19th
  * has 3 tokens (fails the quality gate); lengths vary 30-80 tokens.
  */
object DocsBench {

  private val stop = Seq("the", "a", "an", "and", "of", "to", "in", "is",
    "it", "that", "for", "on", "with", "as")
  private val content = Seq("graph", "segment", "stream", "window", "state",
    "shuffle", "partition", "cluster", "vector", "token", "corpus", "batch",
    "join", "hash", "filter", "spill", "codec", "buffer", "offset", "merge",
    "probe", "bucket", "record", "schema", "column", "metric", "replay",
    "commit", "horizon", "lineage", "index", "degree", "vertex", "edge")

  /** The deterministic corpus as a single select over spark.range(n). */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    val vocab = array((stop ++ content).map(lit): _*)     // 48 words
    val vocabNoStop = array(content.map(lit): _*)         // lang-gate fail
    val df = spark.range(n).toDF("doc_id")
    val isNear = col("doc_id") % 17 === 0 && col("doc_id") > 0
    val isExact = !isNear && col("doc_id") % 23 === 0 && col("doc_id") > 0
    val seed = when(isNear || isExact, col("doc_id") - 1)
      .otherwise(col("doc_id"))
    val noStop = seed % 13 === 0
    val nTok = when(seed % 19 === 0, lit(3L))
      .otherwise(pmod(xxhash64(seed, lit(-1)), lit(51)) + 30)
    def words(v: org.apache.spark.sql.Column, size: Int) =
      transform(sequence(lit(1), nTok),
        i => element_at(v, (pmod(xxhash64(seed, i), lit(size)) + 1)
          .cast("int")))
    val baseText = array_join(
      when(noStop, words(vocabNoStop, content.length))
        .otherwise(words(vocab, stop.length + content.length)), " ")
    df.select(col("doc_id"),
      when(isNear, concat(baseText, lit(" trailing marker")))
        .otherwise(baseText).as("text"))
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("GRAFT_DOCS_N", "1000000").toLong
    val cpus = ToolSession.cpus
    val spark = ToolSession()
    // v2: versioned fixture dir — a pre-existing 8-file v1 layout would
    // silently reuse the old scan ceiling the 64-file repartition fixed
    val path = s"/tmp/graft_docsbench/v2/$n"
    // 64 files regardless of generating parallelism: an 8-file layout
    // caps every SCAN-side stage at 8 tasks and silently flattens the
    // N→4N ratio of map-heavy legs (the round-6 scrub probe's finding —
    // content is unchanged, hash-repartition on doc_id is deterministic)
    if (!new java.io.File(s"$path/_SUCCESS").exists())
      corpus(spark, n).repartition(64, col("doc_id"))
        .write.mode("overwrite").parquet(path)
    val docs = spark.read.parquet(path)
    val (nd, tDedup) = time {
      graft.text.Dedup.exact(docs).where(col("n_docs") > 1).count()
    }
    // the MinHash signature tables are computed once, inside the pairs
    // leg, and both legs derive their pairs from them (the amortized
    // signatures-written-once production shape)
    val ((sh, banded, np), tPairs) = time {
      val sh = graft.text.Dedup.shingleTable(docs)
      val banded = graft.text.Dedup.minhashBands(sh).localCheckpoint(true)
      (sh, banded, graft.text.Dedup.minhashNearDupsFrom(sh, banded, 0.5).count())
    }
    // end-to-end funnel INCLUDING the candidate join and verify of its
    // pairs (over the shared signature tables)
    val (funnelRows, tFunnel) = time {
      graft.text.CorpusFilter.funnel(docs,
          graft.text.Dedup.minhashNearDupsFrom(sh, banded, 0.5))
        .orderBy("stage_idx").collect()
    }
    val stages = funnelRows.map(r =>
      s""""${r.getString(1)}":${r.getLong(2)}""").mkString("{", ",", "}")
    // curation family (round 5): decontamination against a ~n/211-doc
    // benchmark slice (eval sets are orders of magnitude smaller than
    // the corpus — the broadcast-side contract), the stratified split
    // over 7 synthetic source strata (~n/7-row hot-stratum windows),
    // and the repetition features (full token explode + two aggs)
    val strat = docs.withColumn("lang", lit("en"))
      .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(7))))
    val (nContam, tDecon) = time {
      graft.text.Curation.decontaminate(
        docs.where(col("doc_id") % 211 =!= 7),
        docs.where(col("doc_id") % 211 === 7), n = 8).count()
    }
    val (nVal, tSplit) = time {
      graft.text.Curation.stratifiedSplit(strat)
        .where(col("split") === "val").count()
    }
    val (nRep, tRep) = time {
      graft.text.Curation.repetition(docs)
        .where(col("is_repetitive")).count()
    }
    // sequence packing: 2048-token cuts, 16k-id buckets (61 buckets at
    // 1M docs — the two-phase path, not the degenerate single bucket)
    val (nStraddle, tPack) = time {
      graft.text.Packing.packOffsets(docs, budget = 2048, bucketSize = 16384)
        .where(col("seq_first") =!= col("seq_last")).count()
    }
    // round-6 legs. PII scrub over a deterministically PII-augmented
    // view (every 5th doc gains a phone, every 3rd an email — id
    // arithmetic, identical bytes per leg)
    val pii = docs.select(col("doc_id"), concat(
        when(col("doc_id") % 5 === 2, concat(lit("call "),
          lpad(pmod(col("doc_id") * 7, lit(1000L)).cast("string"), 3, "0"),
          lit("-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
          lit(" "))).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 3 === 0, concat(lit(" reach user"),
          pmod(col("doc_id"), lit(100L)).cast("string"), lit("@mail.com")))
          .otherwise(lit(""))).as("text"))
    val (nPii, tScrub) = time {
      graft.text.Redaction.scrub(pii).agg(sum("n_pii")).collect()(0).getLong(0)
    }
    // C4-style line dedup over the 8-token re-segmentation (the small
    // shared vocabulary makes cross-doc duplicate lines dense — the
    // boilerplate-heavy regime)
    val lined = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), array_join(transform(
        sequence(lit(0), expr("(size(tk) + 7) div 8 - 1")),
        g => concat_ws(" ", slice(col("tk"), g * 8 + 1, lit(8)))), "\n")
        .as("text"))
    val (nLineKept, tLine) = time {
      graft.text.Dedup.lineDedup(lined)
        .agg(sum("kept_lines")).collect()(0).getLong(0)
    }
    // token-budget selection: 2/5 of the corpus tokens, banded prefix sum
    val (nSel, tBudget) = time {
      graft.text.Curation.tokenBudgetSelect(docs, 2, 5)
        .where(col("selected")).count()
    }
    // Misra-Gries heavy hitters per source stratum (exact regime: 50-word
    // vocabulary ≤ capacity 64)
    val (nTerms, tHeavy) = time {
      graft.ops.HeavyHitters.terms(strat, capacity = 64).count()
    }
    // SemDeDup: deterministic 16-dim embeddings (every 11th vector an
    // exact copy of its predecessor — the planted semantic dups), 256
    // k-means clusters, within-cluster round-3 cosine verdicts
    val nVec = math.min(n, 100000L)
    val seedv = when(col("vec_id") % 11 === 0 && col("vec_id") > 0,
                     col("vec_id") - 1).otherwise(col("vec_id"))
    val embn = spark.range(nVec).toDF("vec_id").select(col("vec_id"),
      transform(sequence(lit(1), lit(16)), d =>
        // the / promotes to double — cast BACK to float (the corpus
        // contract everywhere is FLOAT[] vectors)
        (pmod(xxhash64(seedv, d), lit(2000L)).cast("float") / lit(1000f)
          - lit(1f)).cast("float")).as("embedding"))
    val (nSemDropped, tSem) = time {
      val cents = graft.sim.Ivf.trainCentroids(embn, nClusters = 256,
        iters = 2, sampleFactor = 25)
      val assign = graft.sim.Ivf.assign(
        embn.select(col("vec_id").as("id"), col("embedding").as("v")), cents)
      graft.text.Dedup.semanticDedupFromAssign(embn, assign, threshold = 0.9)
        .where(col("dropped")).count()
    }
    val json =
      f"""{"bench":"docs","n":$n,"cpus":$cpus,"dedup_sec":$tDedup%.2f,
         |"dedup_docs_per_sec":${(n / tDedup).toLong},"pairs_sec":$tPairs%.2f,
         |"pairs_docs_per_sec":${(n / tPairs).toLong},"funnel_sec":$tFunnel%.2f,
         |"funnel_docs_per_sec":${(n / tFunnel).toLong},"dup_groups":$nd,
         |"neardup_pairs":$np,"funnel":$stages,
         |"decontam_sec":$tDecon%.2f,"decontam_docs_per_sec":${(n / tDecon).toLong},
         |"contaminated":$nContam,
         |"split_sec":$tSplit%.2f,"split_docs_per_sec":${(n / tSplit).toLong},
         |"val_docs":$nVal,
         |"repetition_sec":$tRep%.2f,"repetition_docs_per_sec":${(n / tRep).toLong},
         |"repetitive_docs":$nRep,
         |"pack_sec":$tPack%.2f,"pack_docs_per_sec":${(n / tPack).toLong},
         |"straddling_docs":$nStraddle,
         |"scrub_sec":$tScrub%.2f,"scrub_docs_per_sec":${(n / tScrub).toLong},
         |"pii_matches":$nPii,
         |"linededup_sec":$tLine%.2f,"linededup_docs_per_sec":${(n / tLine).toLong},
         |"kept_lines":$nLineKept,
         |"budget_sec":$tBudget%.2f,"budget_docs_per_sec":${(n / tBudget).toLong},
         |"selected_docs":$nSel,
         |"heavy_sec":$tHeavy%.2f,"heavy_docs_per_sec":${(n / tHeavy).toLong},
         |"heavy_terms":$nTerms,
         |"semdedup_sec":$tSem%.2f,"semdedup_vecs_per_sec":${(nVec / tSem).toLong},
         |"sem_vecs":$nVec,"sem_dropped":$nSemDropped}"""
        .stripMargin.replace("\n", "")
    println(json)
    val out = sys.env.getOrElse("GRAFT_DOCS_OUT", "/tmp/docsbench.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }
}
