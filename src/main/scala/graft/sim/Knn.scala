package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.VecFunctions.vec_dot

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the correctness baseline, and an
  * LSH-bucketed (random-hyperplane) variant as the scale path.
  *
  * The inner product is a custom codegen'd Catalyst expression
  * ([[graft.functions.FloatVecDot]]); norms are computed once per side
  * before the join, so the O(|q|·|corpus|) hot loop does exactly one
  * array traversal per pair.
  */
object Knn {

  /** Σ a[i]*b[i] in double precision (codegen'd, no per-element lambda). */
  def dot(a: Column, b: Column): Column = vec_dot(a, b)

  def norm(a: Column): Column = sqrt(vec_dot(a, a))

  def cosine(a: Column, b: Column): Column = vec_dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: every query row against every corpus row.
    * The query side should be small (it is broadcast); ties broken by
    * ascending neighbor id for determinism. O(|q|·|corpus|) — the exact
    * baseline the ANN path is validated against.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                simDecimals: Int = -1): DataFrame = {
    // the NLJ stream side must be wider than the scan's split count — a
    // single-row-group corpus file otherwise runs the whole O(|q|·|c|)
    // pair loop on one task (graft.ops.Scans.wide: no-op at scale)
    val c = graft.ops.Scans.wide(
        corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec")))
      .withColumn("nbr_norm", norm(col("nbr_vec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    val sim = (vec_dot(col("q_vec"), col("nbr_vec")) /
      (col("q_norm") * col("nbr_norm"))).as("sim")
    val rankKey =
      if (simDecimals >= 0) round(col("sim"), simDecimals) else col("sim")
    val scored = c.join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"), sim)
      .select(col("query_id"), col("nbr_id"), rankKey.as("key"), col("sim"))
    topKExplode(scored, k)
  }

  /** Map-side-combinable top-k over a scored (query_id, nbr_id, key, sim)
    * pair relation: each partition is pruned to k rows per query BEFORE
    * the shuffle ([[graft.functions.TopKByScoreAgg]] — the InternalRow
    * imperative twin of the typed TopKByScore Aggregator, whose per-row
    * encoder round-trip dominated the all-pairs stage) — a window over
    * the raw pair set would shuffle O(|q|·|corpus|) rows instead.
    * Identical results to row_number over (key desc, nbr_id asc). The
    * result is bound to a `Bridge.child` of `scored`'s session that
    * carries the aggregate's fallback threshold.
    */
  private[graft] def topKExplode(scored: DataFrame, k: Int): DataFrame = {
    // ObjectHashAggregate abandons hash mode after
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold distinct
    // groups per task (default 128) and SORTS the remaining input — tuned
    // for unbounded buffers (collect_list). This aggregate's buffer is
    // bounded at k entries (k × 24 B), so thousands of in-memory groups
    // per task cost ≤ ~1 MB at any scale; with corpus-as-queries there
    // are always ≫ 128 query groups per task and the fallback would sort
    // the full O(pairs) stream. 4096 groups ≈ 0.5 MB of buffers at k=5 —
    // a per-task memory bound, not a local-mode tune (measured: −0.7 s on
    // the sf0.1 all-pairs stage).
    //
    // The threshold is read when the aggregate is PLANNED, so the
    // aggregate is built in a child session that carries it and the
    // child-bound result is returned; the caller's session is never
    // touched. A plan that joins this result as its RIGHT side plans in
    // the left side's session, without the threshold (same rows).
    val c = Bridge.child(scored.sparkSession,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4096")
    Bridge.rebind(scored, c).groupBy("query_id")
      .agg(graft.functions.TopKAgg.top_k_by_score(
        col("key"), col("nbr_id"), col("sim"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.nbr_id").as("nbr_id"),
              col("e.sim").as("sim"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** `bits`-bit random-hyperplane signature (SimHash for vectors): one
    * codegen'd pass over the float array
    * ([[graft.functions.HyperplaneSig]]). The previous HOF formulation
    * (32 × `aggregate(zip_with(...))`) was interpreted per element and
    * made the ANN "scale path" slower than the brute baseline it was
    * supposed to beat.
    */
  def lshSignature(vec: Column, bits: Int): Column =
    graft.functions.VecFunctions.hyperplane_sig(vec, bits)

  /** Hyperplane-signature table (id, sig) of an embedding table — the
    * materialization point of the vector-LSH family: write this once per
    * corpus snapshot ([[graft.ops.OracleSig]]) and the banding + rerank
    * downstream ([[lshTopKFromSigs]],
    * [[graft.text.Dedup.embeddingNearDupsFromSigs]]) is hash-free.
    */
  def lshSignatures(df: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding", bits: Int = 32): DataFrame =
    df.select(col(idCol).as("id"), lshSignature(col(vecCol), bits).as("sig"))

  /** LSH-bucketed approximate top-k for the self-kNN-graph workload
    * (corpus == queries == `emb`) over a PRE-MATERIALIZED signature table
    * from [[lshSignatures]]: candidates share at least one
    * `bandBits`-bit chunk of the hyperplane signature; exact cosine rerank
    * within candidates. Trades recall for replacing the cross join with an
    * equi-join on (chunk, chunk_val) — the 100-TB-shaped plan. Chunk
    * banding, corpus-side bucket cap, candidate join, and rerank are all
    * signature/vector algebra, independently checkable by a SQL oracle
    * over the written signature parquet plus the embeddings table.
    */
  def lshTopKFromSigs(emb: DataFrame, sigs: DataFrame, k: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      bits: Int = 32, bandBits: Int = 8,
                      simDecimals: Int = -1,
                      maxBucket: Int = graft.text.Dedup.DefaultMaxBucket)
      : DataFrame = {
    val chunked = graft.text.Dedup.chunksOfSigs(sigs, bits, bandBits)
    // corpus-side bucket cap (same guard as the Dedup LSH paths): one
    // boilerplate cluster of near-identical vectors would otherwise make
    // a single bucket O(|queries|·cluster) candidate pairs. The window
    // count rides the banding shuffle. Candidate id pairs ride the join
    // WITHOUT vector payloads — the nChunks-fold explode would otherwise
    // push every vector through the shuffle nChunks times; vectors are
    // fetched once at rerank. No broadcast hints: AQE broadcasts the
    // small side at runtime, and at corpus-as-queries scale neither side
    // is driver-sized.
    val cappedCorpus = chunked
      .withColumnRenamed("id", "nbr_id")
      .withColumn("bsz", count(lit(1)).over(
        Window.partitionBy("chunk", "chunk_val")))
      .where(col("bsz") <= maxBucket).drop("bsz")
    val cands = cappedCorpus
      .join(chunked.withColumnRenamed("id", "query_id"),
            Seq("chunk", "chunk_val"))
      .where(col("query_id") =!= col("nbr_id"))
      .select("query_id", "nbr_id").distinct()
    val c = emb.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"))
      .withColumn("nbr_norm", norm(col("nbr_vec")))
    val q = emb.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    // `simDecimals ≥ 0` ranks on the ROUNDED similarity (ties broken by
    // ascending neighbor id) so the ordering is reproducible across
    // engines with different floating-point accumulation orders —
    // required for cross-engine (DuckDB) oracles
    val key = if (simDecimals >= 0) round(col("sim"), simDecimals) else col("sim")
    c.join(cands, Seq("nbr_id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("nbr_id"),
              (vec_dot(col("q_vec"), col("nbr_vec")) /
                (col("q_norm") * col("nbr_norm"))).as("sim"))
      // NaN sims (zero-norm vectors) are dropped BEFORE ranking so this
      // path agrees with TopKByScore (brute/IVF), which skips NaN keys —
      // a NaN would otherwise sort FIRST under desc in the window (and in
      // a SQL oracle), making the three cross-validated paths disagree
      .where(!isnan(col("sim")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(key.desc, col("nbr_id").asc)))
      .where(col("rank") <= k)
  }
}
