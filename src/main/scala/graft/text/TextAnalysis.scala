package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines over the `documents` table:
  * token counting, quality scoring, language-ID heuristic, fingerprinting.
  *
  * Design rule: every feature is computed with integer counts and
  * literal-shaped expressions only, so the DuckDB oracle can reproduce the
  * values bit-exactly (no cross-engine floating-point drift); thresholds
  * are integer cross-multiplications instead of ratio compares.
  * All expressions are built-in (codegen'd) — no UDFs.
  */
object TextAnalysis {

  /** Whitespace-delimited token count (the "BPE-ish" cheap tokenizer:
    * runs of non-space); 0 for empty text.
    */
  def tokenCount(text: Column): Column =
    regexp_count(text, lit("\\S+")).cast("int")

  /** BPE-ish subword-boundary token count: letter runs, digit runs, and
    * non-alphanumeric symbol runs each count as one token (the coarse
    * GPT-2-style pre-tokenization split). ASCII classes only so the Java
    * and RE2 (DuckDB) regex dialects agree.
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+")).cast("int")

  /** The character-k-gram rolling-hash table (idCol, pos, h) — the
    * hash-dependent half of the winnowing pipeline, and its
    * materialization point ([[graft.ops.OracleSig]]): everything
    * downstream ([[winnowFromGrams]] — sliding minima, tail trim,
    * distinct) is plain window algebra a SQL oracle can recompute over
    * the written parquet.
    *
    * Shape note: the grams leave as ROWS (posexplode) and the windowed
    * minima are computed relationally, not with a nested higher-order
    * function. A lambda that captures the computed gram array
    * re-evaluates that whole subtree PER ELEMENT — measured O(L²·k) per
    * document, 553 s for 2,000 docs at sf0.1 — whereas the Generate node
    * consumes the array once per row.
    */
  def gramHashes(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", k: Int = 8): DataFrame = {
    val text = col(textCol)
    // guard the sequence: Spark's sequence(a, b) DESCENDS when b < a
    val grams = when(length(text) >= k,
      transform(sequence(lit(0), length(text) - k),
        i => xxhash64(substring(text, i + 1, lit(k)))))
      .otherwise(array().cast("array<bigint>"))
    docs.select(col(idCol), posexplode(grams).as(Seq("pos", "h")))
  }

  /** Winnowed rolling-hash document fingerprints over a pre-materialized
    * gram-hash table from [[gramHashes]]: keep the MINIMUM hash of each
    * sliding window of `w` consecutive k-grams (the winnowing scheme —
    * guarantees any shared substring of length ≥ k+w−1 between two
    * documents yields at least one shared fingerprint). Output: one row
    * per input doc with a sorted distinct fingerprint array; docs absent
    * from `grams` (text shorter than k) get an empty one.
    */
  def winnowFromGrams(docs: DataFrame, grams: DataFrame,
                      idCol: String = "doc_id", w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(idCol)
    val sliding = byDoc.orderBy("pos").rowsBetween(0, w - 1)
    val fp = grams
      .withColumn("wmin", min("h").over(sliding))
      .withColumn("n", count(lit(1)).over(byDoc))
      .where(col("pos") <= greatest(col("n") - w, lit(0)))
      .groupBy(idCol)
      .agg(array_sort(collect_set("wmin")).as("fp"))
    docs.select(col(idCol)).join(fp, Seq(idCol), "left")
      .select(col(idCol),
              coalesce(col("fp"), array().cast("array<bigint>")).as("fp"))
  }

  /** ASCII-letter count. */
  def alphaCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]")).cast("int")

  def digitCount(text: Column): Column =
    regexp_count(text, lit("[0-9]")).cast("int")

  def punctCount(text: Column): Column =
    regexp_count(text, lit("[.,;:!?]")).cast("int")

  /** Common-English stopword hits (word-bounded). */
  def stopwordCount(text: Column): Column =
    regexp_count(lower(text),
      lit("\\b(the|a|an|and|of|to|in|is|it|that|for|on|with|as)\\b")).cast("int")

  /** Quality features + verdict. `is_quality` uses integer
    * cross-multiplication thresholds: ≥5 tokens, mean token length ≤ 20
    * (chars ≤ 20·tokens), and ≥1 stopword per 50 tokens.
    */
  def quality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_chars_m", length(t).cast("int"))
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("n_alpha", alphaCount(t))
      .withColumn("n_digits", digitCount(t))
      .withColumn("n_punct", punctCount(t))
      .withColumn("n_stopwords", stopwordCount(t))
      .withColumn("is_quality",
        col("n_tokens") >= 5 &&
        col("n_chars_m") <= col("n_tokens") * 20 &&
        col("n_stopwords") * 50 >= col("n_tokens"))
  }

  /** N-gram-heuristic language ID: a document is predicted `en` when it
    * has at least 1 English stopword per 25 tokens, else `unk`. (The
    * sandbox corpus is synthetic English-vocabulary text, so the heuristic
    * itself — not label agreement — is the tested contract.)
    */
  def langPrediction(text: Column): Column =
    when(stopwordCount(text) * 25 >= tokenCount(text), lit("en"))
      .otherwise(lit("unk"))

  /** Document fingerprint: md5 of the casefolded, whitespace-collapsed,
    * trimmed text — the rolling-hash-style near-canonical form used as the
    * exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** TF-IDF-style keyword extraction, float-free: the top-`k` terms per
    * document ranked by `score_ppm = tf · 1e6 div df` (term frequency in
    * the doc over corpus document frequency, parts-per-million integer
    * division — within one document the idf numerator is a constant, so
    * ranking by tf/df IS tf-idf ranking, and the integer form is
    * bit-identical across engines where log() parity is not). Ties break
    * on the term string; fully deterministic.
    *
    * Scale shape: tf = one count agg keyed (doc, term); df = one count
    * agg keyed term over the distinct (doc, term) pairs tf already
    * produced (no second corpus scan); the tf⋈df equi-join on term
    * shuffles vocabulary-sized tables (AQE broadcasts df when small);
    * the top-k window partitions by doc over the joined table.
    */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val terms = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term")
      .withColumn("score_ppm", expr("tf * 1000000L div df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_ppm").desc, col("term"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "score_ppm", "rank")
  }

  /** Corpus word-n-gram count table with per-source top-k — the canonical
    * count-based LM / corpus-statistics workload (and the df side of
    * TF-IDF): one row per (source, ngram) among each source's `k` most
    * frequent n-grams, with its total occurrence count and document
    * frequency. Ordering ties break on the n-gram string, so the result
    * is fully deterministic.
    *
    * Scale shape: n-gram generation is ROW-LOCAL — `zip_with` over n
    * shifted `slice`s of the token array, whose lambda touches only its
    * own lambda variables (a lambda CAPTURING the computed token array
    * would re-evaluate the split per element — the measured O(L²)
    * CollapseProject trap, see [[gramHashes]]) — so the only
    * shuffles are the count aggregation (map-side partial combine over
    * exploded grams) and the per-source top-k window, which runs over the
    * already-aggregated vocabulary-sized table, not the corpus.
    */
  def wordNgramTopK(docs: DataFrame, n: Int = 2, k: Int = 5): DataFrame = {
    require(n >= 2, "use tokenCount for unigrams")
    val toks = split(col("text"), " ")
    val m = greatest(size(toks) - (n - 1), lit(0)) // n-grams per doc
    val grams = (2 to n).foldLeft(slice(toks, lit(1), m)) { (acc, i) =>
      zip_with(acc, slice(toks, lit(i), m), (a, b) => concat(a, lit(" "), b))
    }
    val counts = docs
      .select(col("doc_id"), col("source"), explode(grams).as("ngram"))
      .groupBy("source", "ngram")
      .agg(count(lit(1)).as("n_occ"), countDistinct("doc_id").as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_occ").desc, col("ngram"))
    counts.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
