package graft.text

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StructField, StructType}

import graft.graph.{Graph, UnionFind}

/** Deduplication operators for training-data pipelines: exact (hash
  * group-by), MinHash+LSH, SimHash, and n-gram Jaccard verification.
  *
  * Scale shape: exact dedup is one map-side-combinable shuffle on the
  * digest; MinHash/LSH turns the O(n²) similarity problem into an
  * equi-join on (band, band_hash) — the only quadratic step is within a
  * bucket, bounded by banding parameters; SimHash candidates come from an
  * equi-join on 16-bit signature chunks.
  */
object Dedup {

  /** Exact duplicate groups keyed on the canonical fingerprint
    * (casefold + whitespace-collapse); keeper = min(id).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs
      .groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Incremental EXACT dedup for a growing corpus — the third member of
    * the incremental family ([[graft.stream.IncrementalNearDup]],
    * [[graft.stream.IncrementalIvf]]): new documents stream in, each
    * batch keeps only fingerprints never seen before — neither in the
    * BASE snapshot's fingerprint set nor earlier in the stream. The
    * within-stream first-occurrence is streaming `dropDuplicates` state
    * (O(distinct new fps), the q_stream_dedup machinery); the base
    * check is a stream-static LEFT ANTI join against the snapshot's
    * distinct-fingerprint table — BROADCAST explicitly (AQE does not
    * re-plan micro-batches). At 100 TB the base side is a
    * fingerprint-only projection of the corpus (32 bytes/doc);
    * partitioned/bucketed storage makes it a shuffle-free probe.
    * Output: (idCol, fp) — the accepted-new documents.
    *
    * PRECONDITION: duplicates within one micro-batch survive as an
    * ARBITRARY row per fingerprint (dropDuplicates keeps whichever task
    * order delivers first) — callers needing a deterministic survivor
    * must guarantee within-batch fingerprint uniqueness (the driver feed
    * asserts it on the normalized form) or pre-reduce the batch.
    */
  def incrementalExact(newDocs: DataFrame, baseFps: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text")
      : DataFrame =
    newDocs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .dropDuplicates("fp")
      .join(broadcast(baseFps), Seq("fp"), "left_anti")

  /** Distinct shingle hash set per doc, built WITHOUT materializing
    * shingle strings: tokens are hashed once, a shingle hash is the
    * xxhash64 of its k token hashes (40 bytes, no concat_ws string
    * building). All downstream minhash/jaccard math runs on longs.
    * Collisions are negligible for dedup purposes (2^-64 per pair).
    * NOTE: callers must materialize the token-hash array as a real column
    * first ([[shingleTable]]) — inlining it would duplicate the tokenize+
    * hash subtree k+1 times (no CSE through higher-order functions).
    */
  def shingleHashesFromTokenHashes(tokenHashes: Column, k: Int): Column =
    array_distinct(
      filter(
        transform(tokenHashes, (_, i) =>
          when(i + k <= size(tokenHashes),
               xxhash64((0 until k).map(j => get(tokenHashes, i + j)): _*))),
        x => x.isNotNull))

  /** MinHash signature over pre-hashed shingles: sig[h] = min over
    * xxhash64(h, base) — per-seed rehash of an 8-byte long, codegen'd.
    */
  def minhashSignature(shingleHashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map { h =>
      array_min(transform(shingleHashes, x => xxhash64(lit(h), x)))
    }: _*)

  /** Production guard for LSH banding: every member pair of one bucket
    * self-joins, so one boilerplate cluster of 10⁶ near-identical docs
    * would make a single bucket O(cluster²) = 10¹² candidate pairs.
    * Buckets above `maxBucket` members are DROPPED from candidate
    * generation (their contents belong to exact dedup, which handles
    * identical-signature clusters in one linear shuffle); the dropped
    * buckets are reported by the `*OversizeBuckets` side outputs. The
    * window count rides the same (band, band_hash) shuffle the candidate
    * self-join needs anyway.
    */
  private def capBuckets(banded: DataFrame, bandCols: Seq[String],
                         maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) banded
    else banded
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(bandCols.map(col): _*)))
      .where(col("bsz") <= maxBucket).drop("bsz")

  /** The distinct-shingle-hash table (id, sh: array<bigint>) — the
    * materialization point of the MinHash pipeline: write this (and
    * [[minhashBands]]) to parquet once per corpus snapshot, and the whole
    * candidate + verify stage downstream is hash-free relational algebra
    * ([[minhashRankedFrom]]), independently checkable by a SQL oracle
    * over the same parquet ([[graft.ops.OracleSig]]).
    *
    * The token-hash array sits behind a lazy localCheckpoint: a
    * CollapseProject barrier (shingleHashesFromTokenHashes references
    * `th` k+1 times, and without a leaf the optimizer inlines the
    * tokenize+hash subtree into every reference — measured 6× recompute)
    * that the candidate and verify stages share. It is computed by the
    * first action over the result and its blocks are freed with the
    * plan; nothing outlives the call's DataFrames, so every call reads
    * what `docs` holds now.
    */
  def shingleTable(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", shingleK: Int = 5): DataFrame = {
    val thDf = docs
      .select(col(idCol).as("id"),
        transform(
          split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), " "),
          t => xxhash64(t)).as("th"))
      .localCheckpoint(false)
    thDf
      .select(col("id"),
              shingleHashesFromTokenHashes(col("th"), shingleK).as("sh"))
      .where(size(col("sh")) > 0)
  }

  /** LSH band table (id, band, band_hash) of a shingle-hash table —
    * UNcapped; the bucket cap is applied by the candidate join so the
    * materialized artifact records every bucket (including the oversize
    * ones the join drops — [[minhashOversizeBuckets]] reads them).
    */
  def minhashBands(sh: DataFrame, numHashes: Int = 32,
                   bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    sh.withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(
        col("id"),
        posexplode(array((0 until bands).map { b =>
          xxhash64(slice(col("sig"), b * rows + 1, rows))
        }: _*)).as(Seq("band", "band_hash")))
  }

  private def candidatesFromBands(banded0: DataFrame,
                                  maxBucket: Int): DataFrame = {
    val banded = capBuckets(banded0, Seq("band", "band_hash"), maxBucket)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Default LSH bucket-size cap: 10⁴ members = ≤ 5·10⁷ pairs per bucket,
    * bounded work per task; raise explicitly for corpora where genuine
    * (non-exact-dup) clusters are expected to be larger.
    */
  val DefaultMaxBucket: Int = 10000

  /** Counted side output of the bucket cap: MinHash band buckets whose
    * membership exceeded `maxBucket` (dropped from candidate generation),
    * with their sizes — the observability half of the guard rail (the
    * reference's blowup-warning philosophy, builders.py:379-380).
    */
  def minhashOversizeBuckets(docs: DataFrame, idCol: String = "doc_id",
                             textCol: String = "text", shingleK: Int = 5,
                             numHashes: Int = 32, bands: Int = 8,
                             maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashBands(shingleTable(docs, idCol, textCol, shingleK), numHashes, bands)
      .groupBy("band", "band_hash")
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxBucket)

  /** Shingle-set Jaccard for candidate pairs — the verification step after
    * LSH (computed on the hashed shingle sets of [[shingleTable]]).
    */
  private[graft] def verifyFrom(sh: DataFrame, candidates: DataFrame): DataFrame =
    candidates
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
         size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))

  /** Candidate near-duplicate pairs via LSH banding: signatures split into
    * `bands` bands of numHashes/bands rows; docs sharing any band hash are
    * candidates. Returns (id_a, id_b) with id_a < id_b, distinct.
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 5, numHashes: Int = 32,
                        bands: Int = 8,
                        maxBucket: Int = DefaultMaxBucket): DataFrame =
    candidatesFromBands(
      minhashBands(shingleTable(docs, idCol, textCol, shingleK), numHashes,
                   bands),
      maxBucket)

  /** MinHash candidates + Jaccard without threshold, best-first (never
    * empty when any candidate exists), over PRE-MATERIALIZED signature
    * tables: `sh` = (id, sh) from [[shingleTable]], `banded` = (id, band,
    * band_hash) from [[minhashBands]] — typically both read back from the
    * parquet a pipeline (or [[graft.ops.OracleSig]]) wrote. Everything
    * here — bucket cap, banding self-join, Jaccard verify, ranking — is
    * hash-free and therefore SQL-oracle-checkable over the same parquet.
    */
  def minhashRankedFrom(sh: DataFrame, banded: DataFrame,
                        maxBucket: Int = DefaultMaxBucket,
                        limit: Int = 200): DataFrame =
    verifyFrom(sh, candidatesFromBands(banded, maxBucket))
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(limit)

  /** MinHash near-dup pairs: LSH candidates → shingle-set Jaccard ≥
    * threshold, over pre-materialized signature tables (same contract as
    * [[minhashRankedFrom]]): thresholded verified pairs (id_a < id_b).
    * One `sh` table feeds both the candidate and the verify stage (the
    * reference's cache-then-pair pattern, analysis.py:235-239); bucket
    * cap, banding self-join, and Jaccard verify are all hash-free and
    * SQL-oracle-checkable over the same parquet.
    */
  def minhashNearDupsFrom(sh: DataFrame, banded: DataFrame,
                          threshold: Double,
                          maxBucket: Int = DefaultMaxBucket): DataFrame =
    verifyFrom(sh, candidatesFromBands(banded, maxBucket))
      .where(col("jaccard") >= threshold)

  /** Near-duplicate CLUSTERS from verified pairs: connected components
    * over the pair graph (near-duplication is transitive only through
    * chains — A≈B≈C belong together even when jaccard(A,C) is below
    * threshold, which pair output alone misses), one row per multi-doc
    * cluster with the canonical keeper (longest text, ties → lowest id)
    * and the bytes a keep-one-per-cluster dedup pass saves. This is the
    * cluster-level shape a training-data pipeline actually deletes by.
    * The members come from [[clusterMembers]].
    */
  def clustersFromPairs(pairs: DataFrame, docs: DataFrame,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    clusterMembers(pairs, docs, idCol, textCol)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
           max(when(col("is_keeper"), col(idCol))).as("keep_id"),
           (sum("n_bytes") - max("n_bytes")).as("dup_bytes"))
      .select(col("cluster_id"), col("n_docs"), col("keep_id"),
              col("dup_bytes"))

  /** The per-member view [[clustersFromPairs]] rolls up: (idCol,
    * cluster_id, n_bytes, is_keeper) — one row per clustered doc, exactly one
    * keeper per cluster (longest text, ties → lowest id). The filter
    * shape a pipeline deletes with: `where(!is_keeper)` is the drop list.
    * A cluster's id is its member whose `%012d`-padded id is least in
    * string order (the numeric minimum for ids in [0, 10¹²)).
    *
    * Scale shape: the pair graph is tiny relative to the corpus
    * (near-dup pairs only). The pairs, each end sized by one join
    * against `octet_length(docs)`, are collected once when at most
    * [[Graph.BroadcastFrontierRows]] of them exist, and
    * union-find plus the keeper rule run on the driver
    * ([[membersOnDriver]]); more pairs go through
    * [[Graph.connectedComponents]] and a keeper window
    * ([[clusterMembersLoop]]). A pair end absent from `docs` still links
    * its cluster but is not a member row, as with an inner join.
    */
  def clusterMembers(pairs: DataFrame, docs: DataFrame,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val sizes = docs.select(col(idCol), octet_length(col(textCol)).as("n_bytes"))
    val sized = sizedPairs(pairs, sizes, idCol, "left")
    membersOnDriver(sized).fold(clusterMembersLoop(sized, idCol))(
      membersFrame(pairs.sparkSession, _, idCol))
  }

  /** (id_a, id_b, n_a, n_b): each pair with both ends' sizes from `sizes`
    * (idCol, n_bytes), joined `how` ("inner" keeps only pairs whose both
    * ends are sized).
    */
  private[graft] def sizedPairs(pairs: DataFrame, sizes: DataFrame, idCol: String,
                                how: String): DataFrame = {
    def side(id: String, n: String) =
      sizes.select(col(idCol).as(id), col("n_bytes").as(n))
    pairs.select("id_a", "id_b")
      .join(side("id_a", "n_a"), Seq("id_a"), how)
      .join(side("id_b", "n_b"), Seq("id_b"), how)
      .select("id_a", "id_b", "n_a", "n_b")
  }

  /** One row of [[clusterMembers]]. */
  private[graft] final case class Member(id: Long, cluster: Long, nBytes: Int, keeper: Boolean)

  /** [[clusterMembers]] on the driver from sized pairs: one collect of at
    * most [[Graph.BroadcastFrontierRows]] + 1 rows; None when
    * there are more pairs than that. Pairs with a null end are skipped,
    * as an equi-join would skip them.
    */
  private[graft] def membersOnDriver(sized: DataFrame): Option[Seq[Member]] = {
    val bound = Graph.BroadcastFrontierRows
    val got = sized.limit((bound + 1).toInt).collect()
    Option.when(got.length <= bound) {
      val uf = new UnionFind[Long]
      val nodes = mutable.LinkedHashSet.empty[Long]
      val size = mutable.HashMap.empty[Long, Int]
      for (r <- got if !r.isNullAt(0) && !r.isNullAt(1)) {
        val (a, b) = (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)
        uf.union(a, b)
        nodes += a += b
        if (!r.isNullAt(2)) size(a) = r.getInt(2)
        if (!r.isNullAt(3)) size(b) = r.getInt(3)
      }
      nodes.toSeq.groupBy(uf.root).values.toSeq.flatMap { ms =>
        val label = ms.minBy(padded)
        val sized = ms.filter(size.contains)
        sized.minByOption(id => (-size(id), id)).toSeq.flatMap(keeper =>
          sized.map(id => Member(id, label, size(id), id == keeper)))
      }
    }
  }

  private def padded(id: Long): String = "%012d".formatLocal(java.util.Locale.ROOT, id)

  private def membersFrame(spark: SparkSession, ms: Seq[Member], idCol: String): DataFrame =
    spark.createDataFrame(ms.map(m => Row.fromSeq(m.productIterator.toSeq)).asJava,
      StructType(Seq(StructField(idCol, LongType), StructField("cluster_id", LongType),
                     StructField("n_bytes", IntegerType),
                     StructField("is_keeper", BooleanType, nullable = false))))

  /** [[clusterMembers]] over sized pairs at any size: components over the
    * zero-padded ids (the kernel's string min-label is the cluster id),
    * then the keeper window.
    */
  private[graft] def clusterMembersLoop(sized: DataFrame, idCol: String): DataFrame = {
    def pad(c: Column) = format_string("%012d", c)
    val edges = sized.select(pad(col("id_a")).as("src"), pad(col("id_b")).as("dst"))
    val members = Graph.connectedComponents(edges)
      .select(col("label").cast("long").as("cluster_id"),
              col("node").cast("long").as(idCol))
    val sizes = sized.select(col("id_a").as(idCol), col("n_a").as("n_bytes"))
      .union(sized.select(col("id_b").as(idCol), col("n_b").as("n_bytes")))
      .where(col("n_bytes").isNotNull).distinct()
    val keeperOrder = Window.partitionBy("cluster_id")
      .orderBy(col("n_bytes").desc, col(idCol).asc)
    members.join(sizes, idCol)
      .withColumn("is_keeper", row_number().over(keeperOrder) === 1)
  }

  /** Chunk explode of a hyperplane-signature table (id, sig) — the one
    * banding step of the vector-LSH family: [[embeddingNearDupsFromSigs]]
    * and [[graft.sim.Knn.lshTopKFromSigs]] both band through it.
    */
  private[graft] def chunksOfSigs(sigs: DataFrame, bits: Int,
                                  bandBits: Int): DataFrame = {
    require(bits % bandBits == 0)
    val nChunks = bits / bandBits
    val mask = (1L << bandBits) - 1
    sigs.select(col("id"),
      posexplode(array((0 until nChunks).map { c =>
        shiftright(col("sig"), c * bandBits).bitwiseAND(mask)
      }: _*)).as(Seq("chunk", "chunk_val")))
  }

  /** Embedding-cosine near-duplicates: random-hyperplane LSH buckets the
    * corpus against itself, exact cosine verifies candidates ≥ threshold —
    * the vector-space member of the dedup family (pairs with id_a < id_b).
    * Runs over a pre-materialized hyperplane-signature table (id, sig)
    * from [[graft.sim.Knn.lshSignatures]] — banding, cap, candidate join,
    * and the exact-cosine verify are signature/vector algebra, SQL-oracle-
    * checkable over the written parquet plus the embeddings table.
    *
    * Scale shape: the banding self-join carries ONLY ids (the chunk
    * explode would otherwise copy every vector nChunks times through the
    * shuffle, and the old pair-level distinct() shuffled two full vectors
    * per row); vectors and norms are fetched once per side at rerank.
    * Buckets above `maxBucket` are dropped ([[capBuckets]]).
    */
  def embeddingNearDupsFromSigs(emb: DataFrame, sigs: DataFrame,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding",
                                threshold: Double = 0.95,
                                bits: Int = 32, bandBits: Int = 8,
                                maxBucket: Int = DefaultMaxBucket)
      : DataFrame = {
    import graft.sim.Knn
    val chunked = chunksOfSigs(sigs, bits, bandBits)
    val capped = capBuckets(chunked, Seq("chunk", "chunk_val"), maxBucket)
    val cands = capped.as("a")
      .join(capped.as("b"),
        col("a.chunk") === col("b.chunk") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val v = emb.select(col(idCol).as("vid"), col(vecCol).as("vv"))
      .withColumn("vn", Knn.norm(col("vv")))
    cands
      .join(v.select(col("vid").as("id_a"), col("vv").as("va"),
                     col("vn").as("na")), Seq("id_a"))
      .join(v.select(col("vid").as("id_b"), col("vv").as("vb"),
                     col("vn").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
              Knn.cosineOf(Knn.dot(col("va"), col("vb")), col("na"), col("nb"))
                .as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic dedup (cluster-then-dedup-within-cluster,
    * the Abbas et al. 2023 recipe): k-means-cluster the embedding space
    * — [[graft.sim.Ivf.trainCentroids]]/[[graft.sim.Ivf.assign]] supply
    * the (id, cluster_id) hard assignment, materialized once per corpus
    * snapshot like every index artifact here — then mark a vector a
    * semantic duplicate iff some LOWER-id member of its OWN cluster has
    * round(cosine, 3) ≥ `threshold` (keep-lowest-id representative: the
    * canonical greedy variant is removal-order-dependent and therefore
    * non-relational; this rule is order-free and oracle-exact). The
    * verdict rounds BEFORE thresholding so the drop decision is a pure
    * function of the cross-engine-bit-stable cos3.
    *
    * Scale shape: the pair problem shrinks from O(n²) to Σ cᵢ² confined
    * within clusters — `nClusters` is the knob (√n clusters ⇒ expected
    * cluster size √n ⇒ pair volume ~n^1.5, further bounded by
    * `maxCluster` with the same counted-cap mechanism as the banding
    * families — [[oversizeClusters]] is the side output). Over-cap
    * clusters contribute no pairs (their members all report
    * dropped=false), never a corpus-sized blowup.
    *
    * Output, one row per assigned vector: (idCol, cluster_id, dup_of,
    * dropped) with dup_of = lowest qualifying same-cluster id, −1 when
    * none (sentinel, not null — nullable-int columns decay to float in
    * the compare harness's pandas leg).
    */
  def semanticDedupFromAssign(emb: DataFrame, assign: DataFrame,
                              threshold: Double,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              maxCluster: Int = DefaultMaxBucket)
      : DataFrame = {
    import graft.sim.Knn
    val capped = capBuckets(assign, Seq("cluster_id"), maxCluster)
    val v = emb.select(col(idCol).as("vid"), col(vecCol).as("vv"))
      .withColumn("vn", Knn.norm(col("vv")))
    val dups = capped.as("a")
      .join(capped.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .join(v.select(col("vid").as("id_a"), col("vv").as("va"),
                     col("vn").as("na")), Seq("id_a"))
      .join(v.select(col("vid").as("id_b"), col("vv").as("vb"),
                     col("vn").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
              round(Knn.cosineOf(Knn.dot(col("va"), col("vb")), col("na"), col("nb")),
                    3).as("cos3"))
      .where(col("cos3") >= threshold)
      .groupBy(col("id_b").as("id"))
      .agg(min("id_a").as("dup_of"))
    assign.join(dups, Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster_id"),
              coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
              col("dup_of").isNotNull.as("dropped"))
  }

  /** Counted side output for [[semanticDedupFromAssign]]'s cluster cap:
    * (cluster_id, n) for every cluster whose membership exceeds the cap
    * and therefore contributed no dedup pairs.
    */
  def oversizeClusters(assign: DataFrame,
                       maxCluster: Int = DefaultMaxBucket): DataFrame =
    assign.groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .where(col("n") > maxCluster)

  /** 64-bit SimHash signature per doc: bit j is the sign of
    * Σ_tokens (bit_j(xxhash64(token)) ? +1 : -1). Static per-bit aggregate
    * columns keep the whole computation inside whole-stage codegen with a
    * single shuffle on the doc id.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"),
      explode(split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), " "))
        .as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$j")
    }
    val sums = toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    sums.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dups over a pre-materialized signature table (id,
    * simhash) from [[simhash]]: candidates are docs sharing any of the
    * four 16-bit signature chunks (guarantees recall for hamming distance
    * ≤ 3 across chunks), verified by exact hamming ≤ maxHamming via
    * bit_count(xor). Chunk explode, bucket cap, candidate join, and the
    * hamming verify are all signature-value algebra — SQL-oracle-
    * checkable over the written parquet ([[graft.ops.OracleSig]]).
    */
  def simhashNearDupsFrom(sigs: DataFrame, maxHamming: Int = 6,
                          maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val chunked = capBuckets(
      sigs.select(
        col("id"), col("simhash"),
        posexplode(array((0 until 4).map { c =>
          shiftright(col("simhash"), c * 16).bitwiseAND(0xffffL)
        }: _*)).as(Seq("chunk", "chunk_val"))),
      Seq("chunk", "chunk_val"), maxBucket)
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** C4-style line-level deduplication: split every document into lines
    * on `delim`, keep only the FIRST corpus-order occurrence (lowest
    * (id, line_idx)) of each distinct line, and reassemble — the
    * boilerplate-removal pass (repeated headers/footers/navigation
    * chrome) that runs at line granularity where [[exact]] runs at
    * document granularity. Output, one row per input document:
    * (idCol, n_lines, kept_lines, text) with `text` the surviving lines
    * re-joined by `delim` ('' when every line was seen earlier).
    *
    * Scale shape: two shuffles on the exploded line relation. The
    * first occurrence is `min(struct(id, line_idx))` over a window
    * partitioned by the md5 line digest, so each line learns its
    * verdict inside the digest shuffle, with no join back onto the
    * lines (a digest group-by would shuffle the lines a second time to
    * meet its result). Every copy of a line meets in one task's sort; a
    * boilerplate line repeated 10⁹ times is one hot task, where a
    * map-side-combined group-by would not be. Reassembly is one id-keyed
    * shuffle of the lines (`array_sort(collect_list(struct))` — per-doc
    * line counts are bounded by document length).
    */
  def lineDedup(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", delim: String = "\n")
      : DataFrame = {
    val first = min(struct(col(idCol), col("line_idx")))
      .over(Window.partitionBy(md5(col("line"))))
    docs.select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(delim))).as(Seq("line_idx", "line")))
      .withColumn("keep", struct(col(idCol), col("line_idx")) === first)
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("int").as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("int").as("kept_lines"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(
                struct(col("line_idx"), col("keep"), col("line")))),
              x => x.getField("keep")),
            x => x.getField("line")),
          delim).as(textCol))
  }
}
