package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw crawl and tokenization: benchmark decontamination
  * (word-n-gram overlap against a held-out eval set), exactly-stratified
  * deterministic train/val splitting, Gopher-style repetition-quality
  * features, and source-mixture epoch weighting.
  *
  * Design rules shared with [[TextAnalysis]]: integer counts and
  * string/md5 expressions only (bit-exact in the DuckDB oracle — no
  * cross-engine float drift), every kernel relational and codegen'd (no
  * UDFs, no higher-order lambdas that recapture computed arrays — see the
  * O(L²) note on [[TextAnalysis.gramHashes]]).
  */
object Curation {

  /** (idCol, pos, w): one row per whitespace-delimited word token. The
    * split is a literal single-space split (the corpus is single-space
    * joined), so the oracle's string_split agrees byte-for-byte.
    */
  def tokens(docs: DataFrame, idCol: String = "doc_id",
             textCol: String = "text"): DataFrame =
    docs.select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))

  /** (idCol, pos, gram): every word n-gram, assembled ROW-LOCALLY —
    * `zip_with` over n shifted `slice`s of the split array (the
    * [[TextAnalysis.wordNgramTopK]] construction), so gram building is
    * shuffle-FREE: the previous sliding collect_list window forced a
    * corpus-tokens-sized sort shuffle just to see adjacent words. The
    * shifted slices sit as plain (non-lambda) arguments of zip_with, so
    * nothing re-evaluates per element (the O(L²) captured-subtree trap
    * documented on [[TextAnalysis.gramHashes]] does not apply);
    * `pos` is the 0-based start position via posexplode. Trailing
    * positions with fewer than n tokens never materialize — the slices
    * are already trimmed to size−(n−1).
    */
  def wordNgrams(docs: DataFrame, n: Int, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val toks = split(col(textCol), " ")
    val m = greatest(size(toks) - (n - 1), lit(0))
    val grams = (2 to n).foldLeft(slice(toks, lit(1), m)) { (acc, i) =>
      zip_with(acc, slice(toks, lit(i), m), (a, b) => concat(a, lit(" "), b))
    }
    docs.select(col(idCol), posexplode(grams).as(Seq("pos", "gram")))
  }

  /** Benchmark decontamination: flag every training document sharing at
    * least one word n-gram with any benchmark (eval-set) document — the
    * standard n-gram-overlap decontamination pass (GPT-3 §C / PaLM-style)
    * run before a training corpus is frozen. Output: one row per
    * CONTAMINATED training doc — (idCol, n_hits = distinct shared grams,
    * n_bench_docs = distinct benchmark docs sharing one).
    *
    * Scale shape: the benchmark set is orders of magnitude smaller than
    * the corpus, so its distinct-gram relation is the BROADCAST side of
    * the only join; the corpus side is one scan → explode → distinct
    * (map-side-combinable on (doc, gram)). No corpus×corpus shuffle.
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, n: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val trainGrams = wordNgrams(corpus, n, idCol, textCol)
      .select(col(idCol), col("gram")).distinct()
    val benchGrams = wordNgrams(bench, n, idCol, textCol)
      .select(col(idCol).as("bench_id"), col("gram")).distinct()
    trainGrams
      .join(broadcast(benchGrams), "gram")
      .groupBy(idCol)
      .agg(countDistinct("gram").as("n_hits"),
           countDistinct("bench_id").as("n_bench_docs"))
  }

  /** Exactly-stratified deterministic train/val split: within every
    * stratum (e.g. lang × source), rank docs by md5(id) — a stable
    * pseudo-random order both engines compute identically — and assign
    * the first ⌊n·valNum/valDen⌋ to `val`, the rest to `train`. Exact
    * per-stratum proportions (a hash-mod split is only stratified in
    * expectation) and reproducible across runs/engines/cluster sizes.
    * Output: (idCol, strata..., rn, n_stratum, split).
    *
    * Scale shape: one shuffle on the stratum key; the rank window runs
    * inside each stratum partition. Strata are the natural partition
    * unit of a curated corpus (source shards), so the window never sees
    * a global sort. A hot stratum is still one partition — for corpora
    * whose largest stratum exceeds executor memory, pre-split the
    * stratum key (the md5 rank is stable under any tie-free subdivision
    * refinement, so a salted two-phase rank can be layered on).
    */
  def stratifiedSplit(docs: DataFrame, strata: Seq[String] = Seq("lang", "source"),
                      valNum: Int = 1, valDen: Int = 10,
                      idCol: String = "doc_id"): DataFrame = {
    require(valNum >= 0 && valDen > 0 && valNum <= valDen,
      s"val fraction $valNum/$valDen out of [0,1]")
    val byStratum = Window.partitionBy(strata.map(col): _*)
    val ranked = byStratum.orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs
      .withColumn("rn", row_number().over(ranked))
      .withColumn("n_stratum", count(lit(1)).over(byStratum))
      .withColumn("split",
        when(col("rn") * valDen <= col("n_stratum") * valNum, lit("val"))
          .otherwise(lit("train")))
      .select((col(idCol) +: strata.map(col)) ++
              Seq(col("rn"), col("n_stratum"), col("split")): _*)
  }

  /** Gopher-style repetition-quality features: per doc, total/distinct
    * token counts and the frequency of the single most-repeated word
    * bigram; `is_repetitive` fires when the top bigram accounts for more
    * than 20% of all bigrams (integer cross-multiplication — the Gopher
    * "fraction of characters in most common 2-gram" family of rules,
    * token-count flavored). Single-token docs have no bigrams and are
    * never repetitive.
    *
    * Scale shape: one explode + two keyed aggregations, both
    * map-side-combinable ((doc) and (doc, bigram)); the bigram itself
    * comes from a lead() window inside the per-doc sort — no
    * corpus-sized state beyond the group-by shuffles.
    */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val tok = tokens(docs, idCol, textCol)
    val stats = tok.groupBy(idCol)
      .agg(count(lit(1)).cast("int").as("n_tokens"),
           countDistinct("w").cast("int").as("n_distinct_tokens"))
    val top = tok
      .withColumn("w2", lead("w", 1).over(byDoc))
      .where(col("w2").isNotNull)
      .withColumn("bigram", concat_ws(" ", col("w"), col("w2")))
      .groupBy(col(idCol), col("bigram"))
      .agg(count(lit(1)).as("n"))
      .groupBy(idCol)
      .agg(sum("n").cast("int").as("n_bigrams"),
           max("n").cast("int").as("top_bigram_n"))
    stats.join(top, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_distinct_tokens"),
              coalesce(col("n_bigrams"), lit(0)).as("n_bigrams"),
              coalesce(col("top_bigram_n"), lit(0)).as("top_bigram_n"))
      .withColumn("is_repetitive", col("top_bigram_n") * 5 > col("n_bigrams"))
  }

  /** Context-length chunking: split each document's whitespace tokens
    * into fixed-size windows of `window` tokens advancing by `stride`
    * (stride < window ⇒ overlapping chunks — the standard
    * long-document-to-context-length prep before tokenization). Chunk k
    * starts at token k·stride for every k with k·stride < n_tokens; the
    * last chunk may be shorter. Output: (idCol, chunk_idx, chunk_text,
    * n_chunk_tokens).
    *
    * Scale shape: embarrassingly parallel — one scan, a per-row explode
    * of ⌈n/stride⌉ chunk indexes, no shuffle at all (the split array is
    * computed once per input row by the Generate node and sliced per
    * chunk). Output volume is the only cost: ~window/stride × corpus.
    */
  def chunk(docs: DataFrame, window: Int = 64, stride: Int = 48,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1, s"chunk window must be >= 1, got $window")
    require(stride >= 1, s"chunk stride must be >= 1, got $stride")
    docs
      .select(col(idCol), split(col(textCol), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col(idCol), col("toks"), col("n"),
        explode(sequence(lit(0L), floor((col("n") - 1) / lit(stride))))
          .as("k"))
      .withColumn("chunk_idx", col("k").cast("int"))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("toks"),
          col("chunk_idx") * lit(stride) + lit(1), lit(window)), " ")
          .as("chunk_text"),
        least(lit(window), col("n") - col("chunk_idx") * lit(stride))
          .cast("int").as("n_chunk_tokens"))
  }

  /** Apply a source-mixture plan: replicate every document `epochs`
    * times, where epochs comes from [[mixtureEpochs]] — the materialized
    * epoch-expanded training corpus (one row per (doc, epoch) pass), in
    * the deterministic order a downstream shuffle/pack stage consumes.
    * Output: (idCol, srcCol, epoch ∈ [1, epochs(source)]).
    *
    * Scale shape: the epoch table is one row per SOURCE — broadcast to
    * the corpus scan, then a per-row explode of ≤ capEpochs ints; no
    * shuffle beyond mixtureEpochs' own per-source aggregate. Two corpus
    * scans total (one to weigh, one to expand) — unavoidable without
    * caching, and both are full-scan-shaped anyway.
    */
  def applyMixture(docs: DataFrame, capEpochs: Int = 4,
                   srcCol: String = "source", idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val ep = mixtureEpochs(docs, capEpochs, srcCol, textCol)
      .select(col(srcCol), col("epochs"))
    docs
      .join(broadcast(ep), srcCol)
      .select(col(idCol), col(srcCol),
        explode(sequence(lit(1), col("epochs"))).as("epoch"))
  }

  /** Source-mixture epoch weighting: per source, doc/token totals and the
    * integer epoch factor that levels every source up toward the largest
    * one — epochs = min(⌈max_source_tokens / tokens⌉, cap) (ceiling
    * division in integers; the cap bounds small-source repetition, the
    * standard ≤4-epoch rule of thumb). `weighted_tokens` is the
    * post-mixing token budget the source contributes.
    *
    * Scale shape: a per-source aggregate (map-side combinable) of
    * corpus-wide counts, then a max over the handful of source rows —
    * the second "shuffle" moves one row per source.
    */
  def mixtureEpochs(docs: DataFrame, capEpochs: Int = 4,
                    srcCol: String = "source", textCol: String = "text")
      : DataFrame = {
    require(capEpochs >= 1, s"epoch cap must be >= 1, got $capEpochs")
    val perSrc = docs.groupBy(srcCol)
      .agg(count(lit(1)).as("n_docs"),
           sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    perSrc
      // global max via a window over the POST-AGG relation: the
      // "no partition defined" WindowExec warning is a false positive
      // here — the single-partition exchange moves one row per SOURCE,
      // not per doc, and the corpus is scanned exactly once (asserted in
      // CurationSpec; a crossJoin against perSrc.agg(max) does NOT reuse
      // the agg exchange — column pruning makes the subtrees differ —
      // and so scans the corpus twice)
      .withColumn("max_tokens",
        max("n_tokens").over(Window.partitionBy(lit(1))))
      .withColumn("epochs",
        least(expr("(max_tokens + n_tokens - 1) div n_tokens"),
              lit(capEpochs.toLong)))
      .select(col(srcCol), col("n_docs"), col("n_tokens"),
              col("epochs").cast("int").as("epochs"),
              (col("epochs") * col("n_tokens")).cast("long").as("weighted_tokens"))
  }

  /** Token-budget corpus selection: rank documents by an integer quality
    * score (stopword-density ppm — `n_stopwords·10⁶ div n_tokens`, ties
    * broken by ascending id) and greedily keep documents from the top
    * until the cumulative token count reaches `budgetNum/budgetDen` of
    * the corpus total — the "select the best N-token subset" pass that
    * sits between quality scoring and tokenization in a pretraining
    * pipeline (quality-ranked data selection, the DataComp/DoReMi-style
    * fixed-token-budget regime).
    *
    * Output, one row per document: (idCol, score_ppm, n_tokens,
    * cum_before, selected) where `cum_before` is the token count of all
    * strictly-better-ranked documents and `selected = cum_before <
    * budget` (so the document straddling the budget boundary is kept —
    * the greedy convention, matching the oracle's window inequality).
    *
    * Scale shape: the global quality ordering is the same problem as
    * [[Packing.packOffsets]]'s global token offset, and gets the same
    * TWO-PHASE prefix sum — documents are banded by `score_ppm div
    * bandWidth`, the corpus-sized relation only does a band-partitioned
    * window, and the cross-band cumulation runs on the one-row-per-band
    * relation (≤ 10⁶/bandWidth + 1 rows at ANY corpus size) before
    * broadcasting back. The corpus total (for the fractional budget)
    * falls out of the band totals for free — no second corpus pass. A
    * score distribution concentrated in one band degrades the intra-band
    * window to a near-global sort; bandWidth is a tuning knob against
    * the observed score histogram (50 000 ⇒ ≤ 21 bands of stopword ppm).
    */
  def tokenBudgetSelect(docs: DataFrame, budgetNum: Long, budgetDen: Long,
                        bandWidth: Long = 50000L, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(budgetDen >= 1 && budgetNum >= 0,
      s"budget fraction must be >= 0, got $budgetNum/$budgetDen")
    require(bandWidth >= 1, s"band width must be >= 1, got $bandWidth")
    val t = col(textCol)
    val scored = docs.select(
        col(idCol),
        TextAnalysis.tokenCount(t).cast("long").as("n_tokens"),
        TextAnalysis.stopwordCount(t).cast("long").as("n_stop"))
      .withColumn("score_ppm",
        expr("(n_stop * 1000000) div greatest(n_tokens, 1)"))
      .withColumn("band", expr(s"score_ppm div $bandWidth"))
    // phase 1: prefix sum WITHIN each score band, best-first
    val intra = Window.partitionBy("band")
      .orderBy(col("score_ppm").desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // phase 2: cross-band cumulation + corpus total on the band relation
    val bandTotals = scored.groupBy("band")
      .agg(sum("n_tokens").as("band_total"))
      .withColumn("band_offset",
        coalesce(sum("band_total").over(
          Window.orderBy(col("band").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total_tokens",
        sum("band_total").over(Window.partitionBy(lit(1))))
      .select(col("band"), col("band_offset"), col("total_tokens"))
    scored
      .withColumn("intra", coalesce(sum("n_tokens").over(intra), lit(0L)))
      .join(broadcast(bandTotals), "band")
      .select(col(idCol),
        col("score_ppm"),
        col("n_tokens"),
        (col("band_offset") + col("intra")).as("cum_before"),
        (col("band_offset") + col("intra") <
          expr(s"(total_tokens * $budgetNum) div $budgetDen")).as("selected"))
  }
}
