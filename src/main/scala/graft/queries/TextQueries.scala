package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.{Curation, Dedup, Packing, Redaction, TextAnalysis}
import Inputs._

/** Training-data curation over the documents table: dedup, quality,
  * decontamination, packing, redaction and near-dup pipelines.
  */
object TextQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q_doc_dedup", (s, dir) => Dedup.exact(docs(s, dir)),
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |       COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin),
    QueryDef("q_doc_quality",
      (s, dir) => TextAnalysis.quality(graft.ops.Scans.wide(docs(s, dir)))
        .select("doc_id", "n_tokens", "n_alpha", "n_digits", "n_punct",
                "n_stopwords", "is_quality"),
      """SELECT doc_id, n_tokens, n_alpha, n_digits, n_punct, n_stopwords,
        |       (n_tokens >= 5 AND n_chars_m <= n_tokens * 20
        |        AND n_stopwords * 50 >= n_tokens) AS is_quality
        |FROM (
        |  SELECT doc_id,
        |         CAST(LENGTH(text) AS INTEGER) AS n_chars_m,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS INTEGER) AS n_alpha,
        |         CAST(len(regexp_extract_all(text, '[0-9]')) AS INTEGER) AS n_digits,
        |         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INTEGER) AS n_punct,
        |         CAST(len(regexp_extract_all(lower(text),
        |           '\b(the|a|an|and|of|to|in|is|it|that|for|on|with|as)\b')) AS INTEGER) AS n_stopwords
        |  FROM documents)""".stripMargin),
    QueryDef("q_doc_lang",
      (s, dir) => graft.ops.Scans.wide(docs(s, dir))
        .select(col("doc_id"), col("lang"),
                TextAnalysis.langPrediction(col("text")).as("pred_lang")),
      """SELECT doc_id, lang,
        |       CASE WHEN CAST(len(regexp_extract_all(lower(text),
        |                 '\b(the|a|an|and|of|to|in|is|it|that|for|on|with|as)\b')) AS INTEGER) * 25
        |                 >= CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER)
        |            THEN 'en' ELSE 'unk' END AS pred_lang
        |FROM documents""".stripMargin),
    // token counting: whitespace + BPE-ish subword-boundary split
    QueryDef("q_doc_tokens",
      (s, dir) => docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpe_tokens")),
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS INTEGER) AS bpe_tokens
        |FROM documents""".stripMargin),
    // benchmark decontamination: the deterministic doc_id%10==7 slice
    // plays the held-out eval set; every remaining (training) doc sharing
    // a word 8-gram with it is flagged with its shared-gram / bench-doc
    // counts (broadcast bench-gram join — see [[Curation.decontaminate]])
    QueryDef("q_decontam",
      (s, dir) => {
        val d = docs(s, dir)
        Curation.decontaminate(graft.ops.Scans.wide(d.where(col("doc_id") % 10 =!= 7)),
                               d.where(col("doc_id") % 10 === 7), n = 8)
      },
      // word-8-gram decontamination: tokens via indexed list access (DuckDB
      // has no WITH ORDINALITY), grams via the same pos-ascending sliding
      // frame the Spark window uses; benchmark slice = doc_id % 10 = 7
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tok AS (
        |  SELECT doc_id, CAST(t.i - 1 AS INTEGER) AS pos,
        |         toks[CAST(t.i AS INTEGER)] AS w
        |  FROM d, UNNEST(generate_series(1, CAST(len(toks) AS BIGINT))) AS t(i)),
        |g AS (
        |  SELECT doc_id, pos,
        |         string_agg(w, ' ') OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS gram,
        |         COUNT(*) OVER (PARTITION BY doc_id) AS n
        |  FROM tok),
        |gr AS (SELECT DISTINCT doc_id, gram FROM g WHERE pos <= n - 8)
        |SELECT t.doc_id,
        |       CAST(COUNT(DISTINCT t.gram) AS BIGINT) AS n_hits,
        |       CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
        |FROM gr t JOIN gr b ON t.gram = b.gram
        |WHERE t.doc_id % 10 <> 7 AND b.doc_id % 10 = 7
        |GROUP BY 1""".stripMargin),
    // exactly-stratified deterministic train/val split (10% val per
    // lang×source stratum, md5-ranked)
    QueryDef("q_train_split", (s, dir) => Curation.stratifiedSplit(docs(s, dir)),
      // exactly-stratified split: md5 over the decimal-rendered id is
      // byte-identical in both engines, so the per-stratum rank agrees
      """SELECT doc_id, lang, source, rn, n_stratum,
        |       CASE WHEN rn * 10 <= n_stratum * 1 THEN 'val' ELSE 'train' END AS split
        |FROM (
        |  SELECT doc_id, lang, source,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rn,
        |         COUNT(*) OVER (PARTITION BY lang, source) AS n_stratum
        |  FROM documents)""".stripMargin),
    // Gopher-style repetition-quality features
    QueryDef("q_doc_repetition", (s, dir) => Curation.repetition(docs(s, dir)),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tok AS (
        |  SELECT doc_id, CAST(t.i - 1 AS INTEGER) AS pos,
        |         toks[CAST(t.i AS INTEGER)] AS w
        |  FROM d, UNNEST(generate_series(1, CAST(len(toks) AS BIGINT))) AS t(i)),
        |stats AS (
        |  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens,
        |         CAST(COUNT(DISTINCT w) AS INTEGER) AS n_distinct_tokens
        |  FROM tok GROUP BY 1),
        |bg AS (
        |  SELECT doc_id, w || ' ' ||
        |         LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        |  FROM tok),
        |bgc AS (SELECT doc_id, bigram, COUNT(*) AS n FROM bg
        |        WHERE bigram IS NOT NULL GROUP BY 1, 2),
        |top AS (SELECT doc_id, CAST(SUM(n) AS INTEGER) AS n_bigrams,
        |               CAST(MAX(n) AS INTEGER) AS top_bigram_n
        |        FROM bgc GROUP BY 1)
        |SELECT s.doc_id, s.n_tokens, s.n_distinct_tokens,
        |       COALESCE(t.n_bigrams, 0) AS n_bigrams,
        |       COALESCE(t.top_bigram_n, 0) AS top_bigram_n,
        |       COALESCE(t.top_bigram_n, 0) * 5 > COALESCE(t.n_bigrams, 0)
        |         AS is_repetitive
        |FROM stats s LEFT JOIN top t ON s.doc_id = t.doc_id""".stripMargin),
    // source-mixture epoch weighting (≤4 epochs levelling toward the
    // largest source)
    QueryDef("q_mix_epochs", (s, dir) => Curation.mixtureEpochs(docs(s, dir)),
      """WITH perSrc AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |         CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
        |           AS n_tokens
        |  FROM documents GROUP BY 1),
        |m AS (SELECT *, MAX(n_tokens) OVER () AS max_tokens FROM perSrc)
        |SELECT source, n_docs, n_tokens,
        |       CAST(LEAST((max_tokens + n_tokens - 1) // n_tokens, 4)
        |            AS INTEGER) AS epochs,
        |       CAST(LEAST((max_tokens + n_tokens - 1) // n_tokens, 4)
        |            * n_tokens AS BIGINT) AS weighted_tokens
        |FROM m""".stripMargin),
    // context-length chunking: 64-token windows advancing by 48 (16-token
    // overlap) — shuffle-free explode, the long-doc prep before packing
    QueryDef("q_doc_chunks",
      (s, dir) => Curation.chunk(docs(s, dir), window = 64, stride = 48),
      // context-length chunking: chunk k of doc d = tokens [k*48, k*48+64)
      // for every k*48 < n; DuckDB's 1-based inclusive list_slice mirrors
      // Spark's slice(arr, start, length)
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, toks, CAST(len(toks) AS INTEGER) AS n,
        |             CAST(k.i AS INTEGER) AS chunk_idx
        |      FROM d, UNNEST(generate_series(0,
        |             CAST((len(toks) - 1) // 48 AS BIGINT))) AS k(i))
        |SELECT doc_id, chunk_idx,
        |       array_to_string(list_slice(toks, chunk_idx * 48 + 1,
        |                                  LEAST(chunk_idx * 48 + 64, n)), ' ')
        |         AS chunk_text,
        |       CAST(LEAST(64, n - chunk_idx * 48) AS INTEGER) AS n_chunk_tokens
        |FROM c""".stripMargin),
    // the mixture plan APPLIED: one row per (doc, epoch) training pass,
    // epochs broadcast per source
    QueryDef("q_mix_apply", (s, dir) => Curation.applyMixture(docs(s, dir)),
      // mixture application: epochs(source) recomputed as in q_mix_epochs,
      // then one row per (doc, epoch) via a lateral series
      """WITH perSrc AS (
        |  SELECT source,
        |         CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
        |           AS n_tokens
        |  FROM documents GROUP BY 1),
        |m AS (SELECT source,
        |             CAST(LEAST((MAX(n_tokens) OVER () + n_tokens - 1)
        |                  // n_tokens, 4) AS INTEGER) AS epochs
        |      FROM perSrc)
        |SELECT d.doc_id, d.source, CAST(e.i AS INTEGER) AS epoch
        |FROM documents d JOIN m USING (source),
        |     UNNEST(generate_series(1, CAST(m.epochs AS BIGINT))) AS e(i)""".stripMargin),
    // GPT-style sequence packing coordinates: global token offsets via
    // the TWO-PHASE bucketed prefix sum (bucketSize 128 ⇒ genuinely
    // multi-bucket at every sf), 256-token sequences
    QueryDef("q_pack_offsets",
      (s, dir) => Packing.packOffsets(docs(s, dir), budget = 256, bucketSize = 128),
      // sequence packing: the oracle computes the SAME offsets with the
      // naive single global window — the two-phase bucketed sum must agree
      """WITH d AS (SELECT doc_id,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |               AS BIGINT) AS tok_offset
        |      FROM d)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, tok_offset,
        |       CAST(tok_offset // 256 AS INTEGER) AS seq_first,
        |       CAST((tok_offset + n_tokens - 1) // 256 AS INTEGER) AS seq_last
        |FROM o""".stripMargin),
    // corpus bigram count table, top-5 per source (count + doc frequency
    // — the df side of TF-IDF): row-local gram generation, map-side
    // partial-combined count, top-k window over the vocabulary-sized agg
    QueryDef("q_ngram_counts",
      (s, dir) => TextAnalysis.wordNgramTopK(docs(s, dir), n = 2, k = 5),
      // corpus bigram top-5 per source: grams via the same pos-ascending
      // sliding string_agg frame as q_decontam; integer counts + the
      // ngram-string tie-break make the top-k row set deterministic
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
        |           FROM documents),
        |tok AS (SELECT doc_id, source, CAST(t.i - 1 AS INTEGER) AS pos,
        |               toks[CAST(t.i AS INTEGER)] AS w
        |        FROM d, UNNEST(generate_series(1, CAST(len(toks) AS BIGINT))) AS t(i)),
        |g AS (SELECT doc_id, source, pos,
        |             string_agg(w, ' ') OVER (PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS ngram,
        |             COUNT(*) OVER (PARTITION BY doc_id) AS ntok
        |      FROM tok),
        |c AS (SELECT source, ngram, CAST(COUNT(*) AS BIGINT) AS n_occ,
        |             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |      FROM g WHERE pos <= ntok - 2 GROUP BY 1, 2)
        |SELECT source, ngram, n_occ, n_docs, rank FROM (
        |  SELECT source, ngram, n_occ, n_docs,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY n_occ DESC, ngram) AS INTEGER) AS rank
        |  FROM c) WHERE rank <= 5""".stripMargin),
    // TF-IDF keyword extraction with the float-free ppm score (within a
    // doc the idf numerator is constant, so tf·1e6 div df ranks exactly
    // like tf-idf — and integer division is bit-identical cross-engine
    // where log() parity is not)
    QueryDef("q_tfidf_keywords",
      (s, dir) => TextAnalysis.tfidfKeywords(docs(s, dir), k = 3),
      // TF-IDF keywords: tf over exploded whitespace terms, df over the
      // distinct (doc, term) pairs, ppm integer-division score, top-3 per
      // doc with the term tie-break
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |t AS (SELECT doc_id, toks[CAST(i.i AS INTEGER)] AS term
        |      FROM d, UNNEST(generate_series(1, CAST(len(toks) AS BIGINT))) AS i(i)),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM t GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        |       FROM tf GROUP BY 1),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |             CAST(tf.tf * 1000000 // df.df AS BIGINT) AS score_ppm
        |      FROM tf JOIN df USING (term))
        |SELECT doc_id, term, tf, df, score_ppm, rank FROM (
        |  SELECT doc_id, term, tf, df, score_ppm,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |           ORDER BY score_ppm DESC, term) AS INTEGER) AS rank
        |  FROM s) WHERE rank <= 3""".stripMargin),
    // bounded-memory heavy hitters: the imperative Misra-Gries aggregate
    // (functions.MgSketchAgg via HeavyHitters.terms) — at most
    // `capacity` counters per group survive the map-side partial
    // aggregation, so the shuffle is O(groups × capacity) at ANY
    // vocabulary size (a plain count keys state by distinct value). The
    // driver corpus has ≤ 31 distinct words per source, so capacity 64
    // runs the sketch in its EXACT regime (no counter ever evicted) and
    // the oracle is the plain per-(source, term) count; the approximate
    // regime's N/(capacity+1) bound is pinned by HeavyHittersSpec.
    QueryDef("q_heavy_terms",
      (s, dir) => graft.ops.HeavyHitters.terms(docs(s, dir), "source", "text",
                                   capacity = 64),
      // heavy hitters in the exact regime (distinct ≤ capacity): the MG
      // sketch must equal the plain count
      """SELECT source, w AS term, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |      FROM documents)
        |GROUP BY 1, 2""".stripMargin),
    // C4-style line-level dedup over the deterministically line-segmented
    // corpus (see [[linedDocs]]): first corpus-order occurrence of each
    // distinct line survives, documents reassemble from their survivors.
    // Skew-safe shape: min(struct) group-by on the line digest (map-side
    // combinable), NOT the row_number window the oracle uses.
    QueryDef("q_line_dedup", (s, dir) => Dedup.lineDedup(linedDocs(s, dir)),
      // line dedup: the oracle re-derives the 8-token line segmentation
      // straight from the raw text with list slicing (no newline fixture
      // materialized anywhere), then takes first occurrence per distinct
      // line with the row_number window — semantically identical to the
      // engine's skew-safe min(struct) group-by
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
        |            FROM documents),
        |lines AS (
        |  SELECT doc_id, g AS line_idx,
        |         array_to_string(t[g*8+1 : g*8+8], ' ') AS line
        |  FROM tk, unnest(range(CAST((len(t)+7)//8 AS BIGINT))) AS u(g)),
        |flagged AS (
        |  SELECT doc_id, line_idx, line,
        |         row_number() OVER (PARTITION BY md5(line)
        |                            ORDER BY doc_id, line_idx) = 1 AS keep
        |  FROM lines)
        |SELECT doc_id,
        |       CAST(count(*) AS INTEGER) AS n_lines,
        |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INTEGER)
        |         AS kept_lines,
        |       COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
        |                           ORDER BY line_idx), '') AS text
        |FROM flagged
        |GROUP BY doc_id""".stripMargin),
    // token-budget corpus selection: keep the stopword-ppm-best documents
    // until 2/5 of the corpus's tokens are spent — the global quality
    // ordering runs as a banded TWO-PHASE prefix sum (same machinery
    // class as q_pack_offsets; the corpus-sized relation never does a
    // global sort, and the corpus total falls out of the band totals)
    QueryDef("q_token_budget",
      (s, dir) => Curation.tokenBudgetSelect(docs(s, dir), budgetNum = 2, budgetDen = 5),
      // token-budget selection: DuckDB runs the NAIVE global-window form of
      // the same prefix sum (fine at oracle scale; the engine's banded
      // two-phase form must produce identical integers)
      """WITH s2 AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
        |           AS n_tokens,
        |         (CAST(len(regexp_extract_all(lower(text),
        |            '\b(the|a|an|and|of|to|in|is|it|that|for|on|with|as)\b'))
        |            AS BIGINT) * 1000000)
        |           // greatest(CAST(len(regexp_extract_all(text, '\S+'))
        |                           AS BIGINT), 1) AS score_ppm
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, score_ppm, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (
        |           ORDER BY score_ppm DESC, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum_before
        |  FROM s2)
        |SELECT doc_id, score_ppm, n_tokens, cum_before,
        |       cum_before < (SELECT (SUM(n_tokens) * 2) // 5 FROM s2)
        |         AS selected
        |FROM c""".stripMargin),
    // PII scrub over the deterministically PII-augmented corpus (see
    // [[piiDocs]]): regex-class redaction with per-class counts — one
    // codegen'd corpus map, no UDFs, no shuffle. The oracle CONSTRUCTS
    // the expected redacted text from the plants, so an over- or
    // under-matching regex breaks the hash.
    QueryDef("q_doc_redact", (s, dir) => Redaction.scrub(graft.ops.Scans.wide(piiDocs(s, dir))),
      redactOracle),
    // ... and the scrub's counted side output (the skip-and-warn reject
    // philosophy): per-class total matches + documents touched
    QueryDef("q_redact_counts",
      (s, dir) => Redaction.classCounts(Redaction.scrub(graft.ops.Scans.wide(piiDocs(s, dir)))),
      """WITH n AS (
        |  SELECT CASE WHEN doc_id % 3 = 0 THEN
        |           CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END
        |         ELSE 0 END AS n_email,
        |         CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS n_ssn,
        |         CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END AS n_phone
        |  FROM documents)
        |SELECT 'email' AS class, CAST(SUM(n_email) AS BIGINT) AS n_matches,
        |       CAST(SUM(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
        |FROM n
        |UNION ALL
        |SELECT 'ssn', CAST(SUM(n_ssn) AS BIGINT),
        |       CAST(SUM(CASE WHEN n_ssn > 0 THEN 1 ELSE 0 END) AS BIGINT) FROM n
        |UNION ALL
        |SELECT 'phone', CAST(SUM(n_phone) AS BIGINT),
        |       CAST(SUM(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) FROM n""".stripMargin),
    // post-hash pipelines (these five and SimQueries'): the xxhash64
    // signature stage of each query is materialized ONCE per (session,
    // sf) to the deterministic [[graft.ops.OracleSig]] path and read back,
    // so (a) the final result is computed from the very bytes the DuckDB
    // oracle reads — banding joins, hamming/jaccard/cosine verification,
    // winnowing, caps, and ranking are all under the exact
    // row/schema/hash compare — and (b) the queries exercise the
    // amortized production shape (signature/index tables written once per
    // corpus snapshot, reused across query batches). The oracles cannot
    // reproduce xxhash64, so they read the same parquet (multi-tag glob
    // filtered by the corpus fingerprint each row was stamped with,
    // making the compare exact at EVERY sf) and recompute the entire
    // post-hash pipeline independently. The hash stages stay pinned by
    // planted fixtures (DedupSpec / KnnSpec).
    QueryDef("q_doc_fingerprints",
      (s, dir) => {
        val grams = docsSig(s, dir, "fp_grams")(
          TextAnalysis.gramHashes(docs(s, dir), "doc_id", "text", k = 8))
        TextAnalysis.winnowFromGrams(docs(s, dir), grams, "doc_id", w = 4)
          .select(col("doc_id"), size(col("fp")).as("n_fp"))
      },
      s"""WITH g AS (SELECT doc_id, pos, h
         |           FROM read_parquet('${sigGlob("fp_grams")}')
         |           WHERE corpus_fp = $docsFpSql),
         |w AS (SELECT doc_id, pos,
         |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         |        COUNT(*) OVER (PARTITION BY doc_id) AS n
         |      FROM g),
         |f AS (SELECT doc_id, COUNT(DISTINCT wmin) AS n_fp FROM w
         |      WHERE pos <= GREATEST(n - 4, 0) GROUP BY doc_id)
         |SELECT d.doc_id, CAST(COALESCE(f.n_fp, 0) AS INTEGER) AS n_fp
         |FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id""".stripMargin),
    QueryDef("q_minhash_neardups",
      (s, dir) => {
        val (sh, bands) = minhashSigs(s, dir)
        Dedup.minhashRankedFrom(sh, bands, limit = 200)
      },
      s"""WITH b AS (SELECT id, band, band_hash
         |           FROM read_parquet('${sigGlob("mh_bands")}')
         |           WHERE corpus_fp = $docsFpSql
         |           QUALIFY COUNT(*) OVER (PARTITION BY band, band_hash)
         |                   <= ${Dedup.DefaultMaxBucket}),
         |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         |         FROM b x JOIN b y
         |           ON x.band = y.band AND x.band_hash = y.band_hash
         |         WHERE x.id < y.id),
         |sh AS (SELECT id, sh FROM read_parquet('${sigGlob("mh_sh")}')
         |       WHERE corpus_fp = $docsFpSql),
         |v AS (SELECT id_a, id_b,
         |        CAST(len(list_intersect(a.sh, c.sh)) AS DOUBLE) /
         |        (len(a.sh) + len(c.sh) - len(list_intersect(a.sh, c.sh)))
         |          AS jaccard
         |      FROM cand JOIN sh a ON a.id = id_a JOIN sh c ON c.id = id_b)
         |SELECT id_a, id_b, jaccard FROM v
         |ORDER BY jaccard DESC, id_a, id_b LIMIT 200""".stripMargin),
    // near-dup CLUSTERS: connected components over the verified
    // MinHash pair graph → one row per multi-doc cluster with the
    // canonical keeper (longest text, ties → lowest id) and the bytes a
    // keep-one-per-cluster pass deletes — the cluster-level shape a
    // training-data dedup actually acts on (A≈B≈C cluster together even
    // when jaccard(A,C) is below threshold). Same materialized signature
    // tables as q_minhash_neardups; the oracle recomputes pairs from the
    // same parquet and clusters them with a recursive min-label CTE.
    QueryDef("q_dup_clusters",
      (s, dir) => {
        val (sh, bands) = minhashSigs(s, dir)
        Dedup.clustersFromPairs(
          Dedup.minhashNearDupsFrom(sh, bands, threshold = 0.5), docs(s, dir))
      },
      // q_minhash_neardups' pair pipeline (same materialized signatures,
      // thresholded instead of ranked) + a recursive min-label clustering
      // and the keeper/bytes-saved rollup
      s"""WITH RECURSIVE b AS (SELECT id, band, band_hash
         |           FROM read_parquet('${sigGlob("mh_bands")}')
         |           WHERE corpus_fp = $docsFpSql
         |           QUALIFY COUNT(*) OVER (PARTITION BY band, band_hash)
         |                   <= ${Dedup.DefaultMaxBucket}),
         |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         |         FROM b x JOIN b y
         |           ON x.band = y.band AND x.band_hash = y.band_hash
         |         WHERE x.id < y.id),
         |sh AS (SELECT id, sh FROM read_parquet('${sigGlob("mh_sh")}')
         |       WHERE corpus_fp = $docsFpSql),
         |p AS (SELECT id_a, id_b FROM (
         |        SELECT id_a, id_b,
         |          CAST(len(list_intersect(a.sh, c.sh)) AS DOUBLE) /
         |          (len(a.sh) + len(c.sh) - len(list_intersect(a.sh, c.sh)))
         |            AS jaccard
         |        FROM cand JOIN sh a ON a.id = id_a JOIN sh c ON c.id = id_b)
         |      WHERE jaccard >= 0.5),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION SELECT id_b AS src, id_a AS dst FROM p),
         |reach AS (
         |  SELECT src AS node, src AS r FROM e
         |  UNION
         |  SELECT reach.node, e.dst FROM reach JOIN e ON reach.r = e.src
         |),
         |lab AS (SELECT node AS doc_id, MIN(r) AS cluster_id
         |        FROM reach GROUP BY node),
         |sized AS (SELECT cluster_id, lab.doc_id,
         |                 octet_length(encode(text)) AS n_bytes
         |          FROM lab JOIN documents USING (doc_id)),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
         |             ORDER BY n_bytes DESC, doc_id ASC) AS rn FROM sized)
         |SELECT cluster_id, COUNT(*) AS n_docs,
         |       MAX(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
         |       CAST(SUM(n_bytes) - MAX(n_bytes) AS BIGINT) AS dup_bytes
         |FROM ranked GROUP BY cluster_id""".stripMargin),
    // the END-TO-END training-data filter funnel: language ID →
    // quality gate → exact dedup → near-dup cluster dedup, each stage
    // filtering the previous stage's survivors, reported as per-stage
    // doc/byte counts ([[graft.text.CorpusFilter.funnel]]). One corpus
    // pass computes every per-doc flag; the only corpus-sized shuffle is
    // the fingerprint window; the near-dup drop list (from the same
    // materialized MinHash signatures as q_dup_clusters) broadcasts back.
    QueryDef("q_corpus_filter",
      (s, dir) => {
        val (sh, bands) = minhashSigs(s, dir)
        graft.text.CorpusFilter.funnel(docs(s, dir),
          Dedup.minhashNearDupsFrom(sh, bands, threshold = 0.5))
      },
      // the whole funnel recomputed independently: per-doc lang/quality
      // flags and the exact-dedup keeper window in SQL, near-dup drops via
      // the q_dup_clusters pair pipeline restricted to exact-stage
      // survivors, then one UNION ALL row per stage
      s"""WITH RECURSIVE base AS (
         |  SELECT doc_id, text, octet_length(encode(text)) AS n_bytes,
         |         CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER)
         |           AS n_tokens,
         |         CAST(len(regexp_extract_all(lower(text),
         |           '\\b(the|a|an|and|of|to|in|is|it|that|for|on|with|as)\\b'))
         |           AS INTEGER) AS n_stop
         |  FROM documents),
         |flags AS (
         |  SELECT doc_id, n_bytes,
         |         (n_stop * 25 >= n_tokens) AS ok_lang,
         |         (n_tokens >= 5 AND LENGTH(text) <= n_tokens * 20
         |          AND n_stop * 50 >= n_tokens) AS ok_quality,
         |         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         |           AS fp
         |  FROM base),
         |lg AS (SELECT doc_id, n_bytes FROM flags WHERE ok_lang),
         |lq AS (SELECT doc_id, n_bytes, fp FROM flags
         |       WHERE ok_lang AND ok_quality),
         |ex AS (SELECT doc_id, n_bytes FROM lq
         |       QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)),
         |b AS (SELECT id, band, band_hash
         |      FROM read_parquet('${sigGlob("mh_bands")}')
         |      WHERE corpus_fp = $docsFpSql
         |      QUALIFY COUNT(*) OVER (PARTITION BY band, band_hash)
         |              <= ${Dedup.DefaultMaxBucket}),
         |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         |         FROM b x JOIN b y
         |           ON x.band = y.band AND x.band_hash = y.band_hash
         |         WHERE x.id < y.id),
         |sh AS (SELECT id, sh FROM read_parquet('${sigGlob("mh_sh")}')
         |       WHERE corpus_fp = $docsFpSql),
         |p AS (SELECT id_a, id_b FROM (
         |        SELECT id_a, id_b,
         |          CAST(len(list_intersect(a.sh, c.sh)) AS DOUBLE) /
         |          (len(a.sh) + len(c.sh) - len(list_intersect(a.sh, c.sh)))
         |            AS jaccard
         |        FROM cand JOIN sh a ON a.id = id_a JOIN sh c ON c.id = id_b)
         |      WHERE jaccard >= 0.5),
         |pr AS (SELECT id_a, id_b FROM p
         |       WHERE id_a IN (SELECT doc_id FROM ex)
         |         AND id_b IN (SELECT doc_id FROM ex)),
         |e AS (SELECT id_a AS src, id_b AS dst FROM pr
         |      UNION SELECT id_b AS src, id_a AS dst FROM pr),
         |reach AS (
         |  SELECT src AS node, src AS r FROM e
         |  UNION
         |  SELECT reach.node, e.dst FROM reach JOIN e ON reach.r = e.src
         |),
         |lab AS (SELECT node AS doc_id, MIN(r) AS cluster_id
         |        FROM reach GROUP BY node),
         |mem AS (SELECT lab.doc_id, cluster_id, flags.n_bytes
         |        FROM lab JOIN flags USING (doc_id)),
         |drops AS (SELECT doc_id FROM (
         |            SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY
         |              cluster_id ORDER BY n_bytes DESC, doc_id ASC) AS rn
         |            FROM mem)
         |          WHERE rn > 1),
         |nd AS (SELECT doc_id, n_bytes FROM ex
         |       WHERE doc_id NOT IN (SELECT doc_id FROM drops))
         |SELECT * FROM (
         |  SELECT 0 AS stage_idx, 'total' AS stage, COUNT(*) AS n_docs,
         |         CAST(SUM(n_bytes) AS BIGINT) AS n_bytes FROM base
         |  UNION ALL SELECT 1, 'lang', COUNT(*),
         |         CAST(SUM(n_bytes) AS BIGINT) FROM lg
         |  UNION ALL SELECT 2, 'quality', COUNT(*),
         |         CAST(SUM(n_bytes) AS BIGINT) FROM lq
         |  UNION ALL SELECT 3, 'exact_dedup', COUNT(*),
         |         CAST(SUM(n_bytes) AS BIGINT) FROM ex
         |  UNION ALL SELECT 4, 'near_dedup', COUNT(*),
         |         CAST(SUM(n_bytes) AS BIGINT) FROM nd)""".stripMargin),
    QueryDef("q_simhash_neardups",
      (s, dir) => {
        val sigs = docsSig(s, dir, "sim_sigs")(
          Dedup.simhash(docs(s, dir), "doc_id", "text"))
        Dedup.simhashNearDupsFrom(sigs, maxHamming = 16)
      },
      s"""WITH s AS (SELECT id, simhash
         |           FROM read_parquet('${sigGlob("sim_sigs")}')
         |           WHERE corpus_fp = $docsFpSql),
         |c AS (SELECT id, simhash, ci AS chunk,
         |             (simhash >> (ci * 16)) & 65535 AS chunk_val
         |      FROM s, UNNEST(generate_series(0, 3)) AS t(ci)
         |      QUALIFY COUNT(*) OVER (PARTITION BY chunk, chunk_val)
         |              <= ${Dedup.DefaultMaxBucket}),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |                CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
         |                  AS hamming
         |         FROM c a JOIN c b
         |           ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
         |         WHERE a.id < b.id)
         |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 16""".stripMargin)
  )

  /** The documents corpus deterministically re-segmented into newline
    * lines of 8 tokens (the synthetic corpus is single-space prose with no
    * newlines — same construct-the-fixture-in-the-query approach as
    * [[piiDocs]]): gives [[graft.text.Dedup.lineDedup]] a real
    * multi-line corpus whose cross-document duplicate lines arise
    * naturally from the small vocabulary, while the oracle reconstructs
    * identical lines from the raw text with list slicing. The token
    * array is materialized as a column BEFORE the transform lambda (the
    * documented HOF capture trap re-evaluates a captured computed array
    * per element).
    */
  private def linedDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        array_join(
          transform(sequence(lit(0), expr("(size(tk) + 7) div 8 - 1")),
            g => concat_ws(" ", slice(col("tk"), g * 8 + 1, lit(8)))),
          "\n").as("text"))

  /** PII redaction: the oracle does NOT run a regex — it reconstructs
    * the expected redacted text and per-class counts directly from the
    * deterministic doc_id-arithmetic plants ([[Inputs.piiDocs]]), so the
    * compare certifies the Spark regexes match exactly the planted
    * tokens (an over-match eats base text, an under-match leaves a raw
    * plant — both break the hash). q_stream_redact restricts it to the
    * fed ids.
    */
  private[queries] val redactOracle =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 5 = 2 THEN 'call <PHONE> ' ELSE '' END
      |         || text
      |         || CASE WHEN doc_id % 3 = 0 THEN ' reach <EMAIL>'
      |              || CASE WHEN doc_id % 9 = 0 THEN ' and <EMAIL>' ELSE '' END
      |            ELSE '' END
      |         || CASE WHEN doc_id % 4 = 1 THEN ' ssn <SSN>' ELSE '' END
      |         AS redacted,
      |       CAST(CASE WHEN doc_id % 3 = 0 THEN
      |              CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END
      |            ELSE 0 END AS INTEGER) AS n_email,
      |       CAST(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS INTEGER) AS n_ssn,
      |       CAST(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END AS INTEGER) AS n_phone,
      |       CAST(CASE WHEN doc_id % 3 = 0 THEN
      |              CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END
      |            ELSE 0 END
      |          + CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END
      |          + CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END AS INTEGER) AS n_pii
      |FROM documents""".stripMargin
}
