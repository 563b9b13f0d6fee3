package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSuite

class KnnSpec extends SparkSuite {
  import spark.implicits._

  // deterministic synthetic vectors: 3 tight clusters in 8 dims
  private lazy val vecs = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until 90).map { i =>
      val c = i % 3
      val base = Array.tabulate(8)(d => if (d % 3 == c) 10.0f else 0.0f)
      val jit = Array.tabulate(8)(d =>
        base(d) + ((mix(i.toLong * 8 + d) % 100) / 1000.0f))
      (i.toLong, jit.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("brute-force top-k: nearest neighbors share the cluster") {
    val topk = Knn.bruteTopK(vecs, vecs.where(col("vec_id") < 3), 5)
    val rows = topk.collect()
    assert(rows.length == 15)
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val n = r.getAs[Long]("nbr_id")
      assert(q % 3 == n % 3, s"neighbor $n of query $q crosses clusters")
      assert(r.getAs[Double]("sim") > 0.99)
    }
  }

  test("zero vectors: brute and LSH top-k skip their null cosines alike") {
    val zeros = Seq((900L, Seq.fill(8)(0f)), (901L, Seq.fill(8)(0f))).toDF("vec_id", "embedding")
    val c = vecs.union(zeros)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val brute = ids(Knn.bruteTopK(c, c, 3, simDecimals = 6))
    val lsh = ids(Knn.lshTopKFromSigs(c, Knn.lshSignatures(c), 3, simDecimals = 6))
    for (got <- Seq(brute, lsh))
      assert(got.nonEmpty && !got.exists { case (q, n) => q >= 900 || n >= 900 })
  }

  test("cosine self-similarity is 1.0") {
    val s = vecs.limit(1).select(
      Knn.cosine(col("embedding"), col("embedding")).as("s")).head().getDouble(0)
    assert(math.abs(s - 1.0) < 1e-9)
  }

  test("aggregator top-k == row_number window top-k (identical ranking)") {
    import org.apache.spark.sql.expressions.Window
    val k = 5
    val c = vecs.select(col("vec_id").as("nbr_id"), col("embedding").as("nv"))
      .withColumn("nn", Knn.norm(col("nv")))
    val q = vecs.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("qn", Knn.norm(col("qv")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (Knn.dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim"))
    val windowed = scored.withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(round(col("sim"), 6).desc, col("nbr_id").asc)))
      .where(col("rank") <= k)
      .select("query_id", "nbr_id", "rank")
    val agg = Knn.bruteTopK(vecs, vecs, k, simDecimals = 6)
      .select("query_id", "nbr_id", "rank")
    assert(agg.exceptAll(windowed).isEmpty && windowed.exceptAll(agg).isEmpty)
    assert(agg.count() == windowed.count() && agg.count() > 0)
  }

  test("codegen HyperplaneSig is bit-exact vs the HOF formulation") {
    // the Column-DSL twin the codegen expression replaced — kept here as
    // the semantic oracle (same xxhash64 fold, same addition order)
    def hofSig(vec: org.apache.spark.sql.Column, bits: Int) = {
      val dims = sequence(lit(0), size(vec) - 1)
      (0 until bits).map { j =>
        val sign = (i: org.apache.spark.sql.Column) =>
          when(xxhash64(lit(j), i).bitwiseAND(1) === 1, lit(1.0)).otherwise(lit(-1.0))
        val s = aggregate(
          zip_with(vec, dims, (x, i) => x.cast("double") * sign(i)),
          lit(0.0), (acc, x) => acc + x)
        when(s > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }
    val both = vecs.select(
      Knn.lshSignature(col("embedding"), 32).as("fast"),
      hofSig(col("embedding"), 32).as("slow"))
    assert(both.where(col("fast") =!= col("slow")).isEmpty)
  }

  test("IVF top-k recall vs brute force ≥ 0.8 on clustered data") {
    val q = vecs.where(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    val brute = pairs(Knn.bruteTopK(vecs, q, 5))
    val cents = Ivf.trainCentroids(vecs, nClusters = 6)
    val ivf = pairs(Ivf.ivfTopKWithLists(vecs, q, cents,
      Ivf.invertedLists(vecs, cents), 5, nprobe = 2))
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall $recall")
  }

  // near-uniform corpus — IVF's structural worst case: vectors spread
  // over the sphere, so fixed-nprobe recall is bounded by the probe
  // fraction. 300 pseudo-random 12-dim vectors, deterministic mix hash.
  private lazy val uniformVecs = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until 300).map { i =>
      val v = Array.tabulate(12)(d =>
        ((mix(i.toLong * 12 + d) % 2000) / 1000.0f) - 1.0f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("IVF adaptive probing: recall ≥ 0.8 on a NEAR-UNIFORM corpus at ≤ half of brute's candidate volume") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    val brute = pairs(Knn.bruteTopK(uniformVecs, uniformVecs, 5,
                                    simDecimals = 6))
    val cents = Ivf.trainCentroids(uniformVecs, nClusters = 16, iters = 2,
                                   sampleFactor = 12)
    val ivf = pairs(Ivf.ivfTopKWithLists(uniformVecs, uniformVecs, cents,
      Ivf.invertedLists(uniformVecs, cents), 5,
      nprobe = 4, simDecimals = 6, nprobeMax = 7, escalateMargin = 0.35))
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"adaptive IVF recall $recall on uniform corpus")
    // candidate volume = probed cluster sizes summed over queries,
    // vs brute's n² — the scale-honest cost metric (the 7/16 probe cap
    // bounds it near 0.44 + cluster-size skew)
    val sizes = Ivf.invertedLists(uniformVecs, cents)
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val cand = Ivf.probeAssignments(
        uniformVecs.select(col("vec_id").as("query_id"),
                           col("embedding").as("v")),
        cents, 4, 7, 0.35)
      .join(sizes, Seq("cluster_id"))
      .agg(sum("sz")).head().getLong(0).toDouble
    val frac = cand / (300.0 * 300.0)
    assert(frac <= 0.5, s"adaptive IVF candidate fraction $frac")
  }

  test("IVF adaptive probing stays at base nprobe on CLUSTERED data") {
    // one centroid per (orthogonal) true cluster → the runner-up
    // centroid is ~0.0 cosine away → escalation never fires: the
    // adaptivity costs nothing when structure exists. (With MORE
    // centroids than true clusters, same-cluster centroid twins
    // legitimately escalate — that widening is wanted for recall.)
    val cents = Ivf.trainCentroids(vecs, nClusters = 3, iters = 2)
    val probes = Ivf.probeAssignments(
      vecs.select(col("vec_id").as("query_id"), col("embedding").as("v")),
      cents, nprobe = 1, nprobeMax = 3, escalateMargin = 0.35)
    val perQuery = probes.groupBy("query_id").agg(count(lit(1)).as("n"))
    assert(perQuery.where(col("n") > 1).isEmpty,
      "escalation fired on clustered data")
    assert(perQuery.count() == 90)
  }

  test("IVF exact-fallback tier: recall ≥ 0.9 on demand on the uniform corpus") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    val brute = pairs(Knn.bruteTopK(uniformVecs, uniformVecs, 5,
                                    simDecimals = 6))
    val cents = Ivf.trainCentroids(uniformVecs, nClusters = 16, iters = 2,
                                   sampleFactor = 12)
    // tight probe cap → the 0.35 margin band overflows for most queries
    // on the uniform corpus → they fall back to exact, so recall clears
    // 0.9 even where capped adaptive probing could not
    val ivf = pairs(Ivf.ivfTopKWithLists(uniformVecs, uniformVecs, cents,
      Ivf.invertedLists(uniformVecs, cents), 5,
      nprobe = 2, simDecimals = 6, nprobeMax = 3, escalateMargin = 0.35,
      fallbackMargin = 0.35))
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"fallback-tier IVF recall $recall")
    val nFallback = Ivf.fallbackQueries(
      uniformVecs.select(col("vec_id").as("query_id"),
                         col("embedding").as("v")),
      cents, nprobe = 2, nprobeMax = 3, escalateMargin = 0.35,
      fallbackMargin = 0.35).count()
    assert(nFallback > 0, "expected overflow queries on the uniform corpus")
  }

  test("IVF exact-fallback tier is free on CLUSTERED data") {
    val cents = Ivf.trainCentroids(vecs, nClusters = 3, iters = 2)
    val qv = vecs.select(col("vec_id").as("query_id"),
                         col("embedding").as("v"))
    assert(Ivf.fallbackQueries(qv, cents, nprobe = 1, nprobeMax = 2,
                               escalateMargin = 0.35,
                               fallbackMargin = 0.35).isEmpty)
    // with no overflow, the probe set is identical with the tier on/off
    val without = Ivf.probeAssignments(qv, cents, 1, 2, 0.35)
    val withFb = Ivf.probeAssignments(qv, cents, 1, 2, 0.35,
                                      fallbackMargin = 0.35)
    assert(withFb.exceptAll(without).isEmpty &&
           without.exceptAll(withFb).isEmpty)
  }

  test("IVF inverted lists cover the corpus and centroids are trained") {
    val cents = Ivf.trainCentroids(vecs, nClusters = 6, iters = 2)
    val n = cents.count()
    assert(n >= 3 && n <= 6) // clusters may die, never multiply
    val lists = Ivf.assign(
      vecs.select(col("vec_id").as("id"), col("embedding").as("v")), cents)
    assert(lists.count() == 90)                       // every vector assigned
    assert(lists.select("id").distinct().count() == 90) // exactly once
  }

  test("LSH top-k recall vs brute force ≥ 0.8 on clustered data") {
    val q = vecs.where(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    val brute = pairs(Knn.bruteTopK(vecs, q, 5))
    val lsh = pairs(Knn.lshTopKFromSigs(vecs, Knn.lshSignatures(vecs, bits = 16),
      5, bits = 16, bandBits = 4).where(col("query_id") < 10))
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"LSH recall $recall")
  }
}
