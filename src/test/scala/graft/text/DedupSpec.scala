package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSuite

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep dark forest to hide from every hunter nearby"

  private lazy val docs = Seq(
    (0L, base),
    (1L, base),                                     // exact dup of 0
    (2L, base.replace("quick", "swift")),           // near dup of 0
    (3L, "completely different content about spark catalyst optimizer " +
         "rules and physical plans for distributed joins at scale"),
    (4L, "  THE  quick brown fox jumps over the lazy dog and then runs far " +
         "away into the deep dark forest to hide from every hunter nearby")
  ).toDF("doc_id", "text")                          // 4 = case/ws variant of 0

  test("exact dedup groups case/whitespace variants (fingerprint)") {
    val g = Dedup.exact(docs)
    val dupGroup = g.where(col("n_docs") === 3).collect()
    assert(dupGroup.length == 1)       // docs 0, 1, 4 share the fingerprint
    assert(dupGroup(0).getAs[Long]("keep_id") == 0L)
  }

  test("minhash LSH finds the planted near-dup pair") {
    val sh = Dedup.shingleTable(docs)
    val nd = Dedup.minhashNearDupsFrom(sh, Dedup.minhashBands(sh), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((0L, 2L)) || nd.contains((0L, 1L)))
    // near-dup 2 must surface against one of the identical trio
    assert(nd.exists { case (a, b) => (a == 2L) || (b == 2L) })
  }

  test("shingleTable reads the directory as it is now, after another writer swapped it") {
    import java.nio.file.{Files, StandardCopyOption}
    val root = Files.createTempDirectory("dedup_swap")
    val dir = root.resolve("docs")
    def write(ids: Seq[Long], to: java.nio.file.Path): Unit =
      ids.map(i => (i, s"doc $i $base")).toDF("doc_id", "text")
        .write.parquet(to.toString)
    def shingledIds(): Seq[Long] =
      Dedup.shingleTable(spark.read.parquet(dir.toString))
        .select("id").as[Long].collect().sorted.toSeq
    try {
      write(Seq(1L, 2L), dir)
      assert(shingledIds() == Seq(1L, 2L))
      // the swap OracleSig.materialize does, outside Spark: write a
      // sibling, move the old table aside, rename the sibling in
      val sibling = root.resolve("docs.tmp")
      write(Seq(7L, 8L, 9L), sibling)
      val aside = root.resolve("docs.old")
      Files.move(dir, aside, StandardCopyOption.ATOMIC_MOVE)
      Files.move(sibling, dir, StandardCopyOption.ATOMIC_MOVE)
      org.apache.commons.io.FileUtils.deleteDirectory(aside.toFile)
      assert(shingledIds() == Seq(7L, 8L, 9L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("clustersFromPairs: chains cluster transitively, keeper = longest text") {
    // A≈B and B≈C but no (A,C) pair — the cluster must still hold all
    // three (the thing pair-level output misses); a disjoint pair (7,9)
    // forms its own cluster. Keeper is the longest text, ties → min id.
    val cdocs = Seq(
      (1L, "aaaa"), (2L, "aaaaaaaaaa"), (3L, "aaaa"),
      (7L, "bb"), (9L, "bb"), (8L, "unrelated singleton")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val out = Dedup.clustersFromPairs(pairs, cdocs).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("keep_id"),
         r.getAs[Long]("dup_bytes"))).toMap
    assert(out.keySet == Set(1L, 7L))       // singleton 8 never appears
    assert(out(1L) == ((3L, 2L, 8L)))       // keeper = longest (10B); 4+4 dup
    assert(out(7L) == ((2L, 7L, 2L)))       // tie on length → min id keeps
  }

  test("jaccard: identical docs = 1.0, unrelated < 0.2") {
    val cands = Seq((0L, 1L), (0L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.verifyFrom(Dedup.shingleTable(docs), cands)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j((0L, 3L)) < 0.2)
  }

  test("simhash: near-identical docs land within small hamming distance") {
    val sigs = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(0L), sigs(1L)) == 0)   // identical text
    assert(hamming(sigs(0L), sigs(2L)) <= 12)  // one word changed
    assert(hamming(sigs(0L), sigs(3L)) > 12)   // unrelated
  }

  test("embedding near-dups: planted duplicate vector pair found") {
    val base = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(d =>
        ((i * 31 + d * 7) % 13 - 6).toFloat + (if (d == i % 16) 8f else 0f)).toSeq)
    }
    val planted = base :+ (100L, base.head._2)
    val df = planted.toDF("vec_id", "embedding")
    val nd = Dedup.embeddingNearDupsFromSigs(df,
        graft.sim.Knn.lshSignatures(df), threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((0L, 100L)))
  }

  test("incremental exact dedup: base fingerprints and earlier-batch repeats both drop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = Seq(Tuple1("a")).toDF("text")
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
    val ms = MemoryStream[(Long, String)](
      org.apache.spark.sql.Encoders.product[(Long, String)],
      spark.sqlContext)
    val name = s"inc_exact_${System.nanoTime()}"
    val q = Dedup.incrementalExact(ms.toDF().toDF("doc_id", "text"), base)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      ms.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      ms.addData((3L, "b"), (4L, "c")); q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).as[(String, Long)].collect().map(_._2).toSet
    // 1 drops against the base snapshot, 3 against batch-1 stream state
    assert(out == Set(2L, 4L))
  }

  test("semantic dedup: within-cluster dups drop to the lowest id; cross-cluster dups are out of scope") {
    // vecs 0,1,2 identical; 7 identical to 0 but assigned to the OTHER
    // cluster (the documented cluster-scoped miss); 5 orthogonal
    val u = Seq(1f, 0f, 0f, 0f)
    val w = Seq(0f, 1f, 0f, 0f)
    val emb = Seq((0L, u), (1L, u), (2L, u), (5L, w), (7L, u))
      .toDF("vec_id", "embedding")
    val assign = Seq((0L, 1), (1L, 1), (2L, 1), (5L, 1), (7L, 2))
      .toDF("id", "cluster_id")
    val out = Dedup.semanticDedupFromAssign(emb, assign, threshold = 0.9)
      .as[(Long, Int, Long, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, 1, -1L, false),  // cluster representative
      (1L, 1, 0L, true),
      (2L, 1, 0L, true),    // dup_of the LOWEST qualifying id, not 1
      (5L, 1, -1L, false),  // orthogonal survivor
      (7L, 2, -1L, false))) // identical to 0 but cluster-scoped: kept
  }

  test("semantic dedup: over-cap clusters contribute no pairs and are counted") {
    val u = Seq(1f, 0f)
    val emb = (0L until 6L).map(i => (i, u)).toDF("vec_id", "embedding")
    val assign = (0L until 6L).map(i => (i, 1)).toDF("id", "cluster_id")
    val out = Dedup.semanticDedupFromAssign(emb, assign, threshold = 0.9,
        maxCluster = 5)
      .as[(Long, Int, Long, Boolean)].collect()
    assert(out.forall(!_._4), "capped cluster must produce no drops")
    val over = Dedup.oversizeClusters(assign, maxCluster = 5)
      .as[(Int, Long)].collect()
    assert(over.toSeq == Seq((1, 6L)))
  }

  test("winnowed fingerprints: shared substring ≥ k+w−1 ⇒ shared fingerprint") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val shared = "the quick brown fox jumps over the lazy dog near the river bank"
    val docs = Seq(
      (1L, s"PREFIX AAA $shared SUFFIX BBB"),
      (2L, s"completely different opening text $shared and a different ending"),
      (3L, "nothing in common with the others at all, zq xv jk wm pq rs tuv"),
      (4L, "tiny")) // shorter than k → empty fingerprint set
      .toDF("doc_id", "text")
    val fp = TextAnalysis.winnowFromGrams(docs, TextAnalysis.gramHashes(docs))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fp(1L) intersect fp(2L)).nonEmpty, "shared substring must collide")
    assert((fp(1L) intersect fp(3L)).isEmpty, "disjoint docs must not collide")
    assert(fp(4L).isEmpty)
  }

  test("bpeish token count splits letter/digit/symbol runs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = Seq(Tuple1("don't stop123 me!!")).toDF("text")
      .select(graft.text.TextAnalysis.bpeishTokenCount(col("text")))
      .head().getInt(0)
    // don | ' | t | stop | 123 | me | !!
    assert(n == 7)
  }

  test("quality + langid heuristics behave on obvious inputs") {
    val q = TextAnalysis.quality(docs).where(col("doc_id") === 0).head()
    assert(q.getAs[Boolean]("is_quality"))
    val lang = docs.select(col("doc_id"),
      TextAnalysis.langPrediction(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lang(0L) == "en")
  }
}
