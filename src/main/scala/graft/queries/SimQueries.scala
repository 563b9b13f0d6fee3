package graft.queries

import org.apache.spark.sql.functions._

import graft.sim.{Ivf, Knn}
import graft.text.Dedup
import Inputs._

/** Similarity search and semantic dedup over the embeddings table. */
object SimQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q_emb_neardups",
      (s, dir) => {
        // ranked form: best LSH-candidate pairs by cosine (threshold -1;
        // the synthetic corpus has no >0.8 dups)
        val e = emb(s, dir)
        val sigs = embSig(s, dir, "vec_sigs")(
          Knn.lshSignatures(e, "vec_id", "embedding", bits = 32))
        Dedup.embeddingNearDupsFromSigs(e, sigs, threshold = -1.0)
          .orderBy(col("cosine").desc, col("id_a"), col("id_b")).limit(100)
          .select(col("id_a"), col("id_b"), round(col("cosine"), 3).as("cos3"))
      },
      s"""WITH sig AS (SELECT id, sig
         |             FROM read_parquet('${sigGlob("vec_sigs")}')
         |             WHERE corpus_fp = $embFpSql),
         |ch AS (SELECT id, ci AS chunk, (sig >> (ci * 8)) & 255 AS chunk_val
         |       FROM sig, UNNEST(generate_series(0, 3)) AS t(ci)
         |       QUALIFY COUNT(*) OVER (PARTITION BY chunk, chunk_val)
         |               <= ${Dedup.DefaultMaxBucket}),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |         FROM ch a JOIN ch b
         |           ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
         |         WHERE a.id < b.id),
         |v AS (SELECT id_a, id_b,
         |        list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
         |        (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
         |         sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cosine
         |      FROM cand JOIN embeddings a ON a.vec_id = id_a
         |                JOIN embeddings b ON b.vec_id = id_b)
         |SELECT id_a, id_b, round(cosine, 3) AS cos3
         |FROM v WHERE cosine >= -1.0
         |ORDER BY cosine DESC, id_a, id_b LIMIT 100""".stripMargin),
    // SemDeDup (cluster-scoped semantic dedup): k-means assignment
    // materialized once per corpus snapshot (the same index-artifact
    // discipline as the MinHash/LSH signature tables), pairs confined
    // within clusters, verdict = round-3 cosine to a lower-id cluster
    // mate — the oracle recomputes pairs, cosines, and keeper choice from
    // the materialized assignment + the embeddings table
    QueryDef("q_sem_dedup",
      (s, dir) => {
        val e = emb(s, dir)
        val assign = embSig(s, dir, "sem_assign") {
          val cents = Ivf.trainCentroids(e, nClusters = 8, iters = 2,
                                         sampleFactor = 25)
          Ivf.assign(e.select(col("vec_id").as("id"),
                              col("embedding").as("v")), cents)
        }
        Dedup.semanticDedupFromAssign(e, assign, threshold = 0.3)
      },
      s"""WITH a AS (SELECT id, cluster_id
         |           FROM read_parquet('${sigGlob("sem_assign")}')
         |           WHERE corpus_fp = $embFpSql),
         |capped AS (SELECT id, cluster_id FROM a
         |           QUALIFY COUNT(*) OVER (PARTITION BY cluster_id)
         |                   <= ${Dedup.DefaultMaxBucket}),
         |p AS (SELECT x.id AS id_a, y.id AS id_b
         |      FROM capped x JOIN capped y
         |        ON x.cluster_id = y.cluster_id AND x.id < y.id),
         |s AS (SELECT id_a, id_b,
         |        round(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
         |          (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
         |           sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))),
         |          3) AS cos3
         |      FROM p JOIN embeddings ea ON ea.vec_id = id_a
         |             JOIN embeddings eb ON eb.vec_id = id_b),
         |d AS (SELECT id_b AS id, CAST(MIN(id_a) AS BIGINT) AS dup_of
         |      FROM s WHERE cos3 >= 0.3 GROUP BY 1)
         |SELECT a.id AS vec_id, a.cluster_id,
         |       COALESCE(d.dup_of, -1) AS dup_of,
         |       d.dup_of IS NOT NULL AS dropped
         |FROM a LEFT JOIN d USING (id)""".stripMargin),
    // self-kNN-graph construction (every vector is a query) — the
    // realistic ANN workload; rank on round(sim, 6) with id tie-break so
    // the brute variant is exactly reproducible in DuckDB (list_dot_product)
    QueryDef("q_knn_brute",
      (s, dir) => {
        val e = emb(s, dir)
        Knn.bruteTopK(e, e, 5, simDecimals = 6)
          .select("query_id", "nbr_id", "rank")
      },
      // brute cosine top-k IS SQL-expressible: double-cast list_dot_product
      // matches FloatVecDot's float→double accumulation, and ranking on
      // round(sim, 6) + id tie-break removes cross-engine FP order effects.
      // NaN note: the engine DROPS NaN sims (zero-norm vectors) uniformly
      // across brute/LSH/IVF, while this SQL would sort NaN first — the
      // embeddings table is unit-normalized, so no NaN can occur here; a
      // corpus with zero-norm vectors must be filtered before kNN.
      """SELECT query_id, nbr_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY q.vec_id
        |           ORDER BY round(
        |             list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |             (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |              sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) DESC,
        |             c.vec_id ASC) AS INTEGER) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id)
        |WHERE rank <= 5""".stripMargin),
    QueryDef("q_knn_lsh",
      (s, dir) => {
        val e = emb(s, dir)
        // same materialized signature table as q_emb_neardups (vec_sigs)
        val sigs = embSig(s, dir, "vec_sigs")(
          Knn.lshSignatures(e, "vec_id", "embedding", bits = 32))
        Knn.lshTopKFromSigs(e, sigs, 5, simDecimals = 6)
          .select("query_id", "nbr_id", "rank")
      },
      s"""WITH sig AS (SELECT id, sig
         |             FROM read_parquet('${sigGlob("vec_sigs")}')
         |             WHERE corpus_fp = $embFpSql),
         |ch AS (SELECT id, ci AS chunk, (sig >> (ci * 8)) & 255 AS chunk_val
         |       FROM sig, UNNEST(generate_series(0, 3)) AS t(ci)),
         |corp AS (SELECT id, chunk, chunk_val FROM ch
         |         QUALIFY COUNT(*) OVER (PARTITION BY chunk, chunk_val)
         |                 <= ${Dedup.DefaultMaxBucket}),
         |cand AS (SELECT DISTINCT q.id AS query_id, c.id AS nbr_id
         |         FROM corp c JOIN ch q
         |           ON c.chunk = q.chunk AND c.chunk_val = q.chunk_val
         |         WHERE q.id <> c.id),
         |scored AS (SELECT cand.query_id, cand.nbr_id,
         |             list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
         |             (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
         |              sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS sim
         |           FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
         |                     JOIN embeddings c ON c.vec_id = cand.nbr_id)
         |SELECT query_id, nbr_id, rank FROM (
         |  SELECT query_id, nbr_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |           ORDER BY round(sim, 6) DESC, nbr_id ASC) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 5""".stripMargin),
    // IVF scale path: spherical-k-means inverted lists + nprobe search
    // (deterministic sample-based training) with per-query probe
    // escalation: centroids within 0.35 cosine of the query's best are
    // probed too, capped at 16 — on this near-uniform corpus (IVF's
    // structural worst case) measured recall is 0.81 vs brute at 0.46×
    // brute's candidate volume (IvfTune), while a clustered corpus stays
    // at the base 8 probes (pinned in KnnSpec). Timed cost INCLUDES
    // index training — a real deployment trains once (trainCentroids +
    // invertedLists) and amortizes across query batches via ivfTopKWithLists.
    QueryDef("q_knn_ivf",
      (s, dir) => {
        val e = emb(s, dir)
        // train + assign + probe-escalate once per (session, sf); the
        // materialized candidate set is what the rerank (and the oracle's
        // recomputation of it) reads — its row count is exactly the
        // candidate-volume cost metric IvfTune reports
        val cands = embSig(s, dir, "ivf_cands") {
          val cents = Ivf.trainCentroids(e, nClusters = 32, iters = 2,
                                         sampleFactor = 25)
          Ivf.candidatePairs(e, cents, Ivf.invertedLists(e, cents),
                             nprobe = 8, nprobeMax = 16, escalateMargin = 0.35)
        }
        Ivf.rerankTopK(e, e, cands, 5, simDecimals = 6)
          .select("query_id", "nbr_id", "rank")
      },
      s"""WITH cand AS (SELECT query_id, nbr_id
         |              FROM read_parquet('${sigGlob("ivf_cands")}')
         |              WHERE corpus_fp = $embFpSql),
         |scored AS (SELECT cand.query_id, cand.nbr_id,
         |             list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
         |             (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
         |              sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS sim
         |           FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
         |                     JOIN embeddings c ON c.vec_id = cand.nbr_id)
         |SELECT query_id, nbr_id, rank FROM (
         |  SELECT query_id, nbr_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |           ORDER BY round(sim, 6) DESC, nbr_id ASC) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 5""".stripMargin)
  )
}
