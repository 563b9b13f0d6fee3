package graft.tools

import org.apache.spark.sql.functions._

import graft.sim.{Ivf, Knn}

/** IVF recall/cost evidence on the driver's embeddings corpus (the
  * near-uniform case — IVF's structural worst case, where fixed-nprobe
  * recall is bounded by the probe fraction). Measures, for a grid of
  * (nprobe, nprobeMax, margin) configs: recall vs the exact brute top-k
  * and wall seconds (min of `SPARK_GRAFT_REPS`, default 2), against
  * brute's own seconds on the same session. One JSON line per config.
  */
object IvfTune {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    val k = 5
    val spark = ToolSession()
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()

    def timed(f: => Array[(Long, Long)]): (Double, Array[(Long, Long)]) = {
      var best = Double.MaxValue
      var out: Array[(Long, Long)] = null
      (1 to reps).foreach { _ =>
        val t0 = System.nanoTime()
        val r = f
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best) { best = sec; out = r }
      }
      (best, out)
    }
    def pairs(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
      df.select(col("query_id").cast("long"), col("nbr_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))

    // optional: per-query centroid-sim gap quantiles (csim_1 − csim_j),
    // the calibration data for the escalation margin
    if (sys.env.contains("GRAFT_IVF_MARGINS")) {
      val cents = Ivf.trainCentroids(e, nClusters = 32, iters = 2,
                                     sampleFactor = 25)
      val sims = e.select(col("vec_id").as("query_id"),
                          col("embedding").as("v"))
        .crossJoin(broadcast(cents))
        .select(col("query_id"), col("cluster_id"),
          (graft.functions.VecFunctions.vec_dot(col("v"), col("centroid")) /
           (sqrt(graft.functions.VecFunctions.vec_dot(col("v"), col("v"))) *
            sqrt(graft.functions.VecFunctions.vec_dot(col("centroid"),
                                                      col("centroid")))))
            .as("csim"))
        .groupBy("query_id")
        .agg(expr("array_sort(collect_list(-csim))").as("s"))
        .select((element_at(col("s"), 8) - element_at(col("s"), 1)).as("g8"),
                (element_at(col("s"), 16) - element_at(col("s"), 1)).as("g16"),
                (element_at(col("s"), 24) - element_at(col("s"), 1)).as("g24"))
      sims.select(
        expr("percentile(g8, array(0.1,0.5,0.9))").as("g8_q"),
        expr("percentile(g16, array(0.1,0.5,0.9))").as("g16_q"),
        expr("percentile(g24, array(0.1,0.5,0.9))").as("g24_q"))
        .show(false)
    }

    // warmup + exact baseline
    Knn.bruteTopK(e.limit(50), e.limit(50), k, simDecimals = 6).count()
    val (bruteSec, bruteArr) =
      timed(pairs(Knn.bruteTopK(e, e, k, simDecimals = 6)
        .select("query_id", "nbr_id")))
    val brute = bruteArr.toSet

    // train once (timed) — search configs share the index, separating the
    // amortizable train cost from the per-batch search cost
    val Array(nc, it, sfac) = sys.env.getOrElse("GRAFT_IVF_TRAIN", "32:2:25")
      .split(":").map(_.toInt)
    val tTrain0 = System.nanoTime()
    val cents = Ivf.trainCentroids(e, nClusters = nc, iters = it,
                                   sampleFactor = sfac)
    cents.count()
    val trainSec = (System.nanoTime() - tTrain0) / 1e9

    // materialize the inverted lists once (timed separately): the grid
    // below runs ivfTopKWithLists against them, so "search_sec" is the
    // per-batch SEARCH-ONLY cost of the amortized train-once/assign-once
    // deployment — corpus re-assignment no longer rides every config
    val tAssign0 = System.nanoTime()
    val lists = Ivf.invertedLists(e, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lists.count()
    val assignSec = (System.nanoTime() - tAssign0) / 1e9

    val grid = sys.env.getOrElse("GRAFT_IVF_GRID",
      // fixed-8 baseline, the shipped driver config (8→16 @ 0.35), the
      // wider/cheaper corners that informed it, fixed-16 for contrast,
      // and the exact-fallback tier (4th field = fallback margin:
      // overflow queries probe everything) at a tight cap
      "8:8:0.0,8:16:0.3,8:16:0.35,8:24:0.3,16:16:0.0,8:16:0.35:0.35")
    grid.split(",").foreach { cfg =>
      val f = cfg.split(":")
      val (np, npMax, margin) = (f(0), f(1), f(2))
      val fbMargin = if (f.length > 3) f(3).toDouble else -1.0
      val (sec, arr) = timed(pairs(
        Ivf.ivfTopKWithLists(e, e, cents, lists, k, nprobe = np.toInt,
                             simDecimals = 6, nprobeMax = npMax.toInt,
                             escalateMargin = margin.toDouble,
                             fallbackMargin = fbMargin)
          .select("query_id", "nbr_id")))
      val recall = arr.count(brute.contains).toDouble / brute.size
      // scale-honest cost: candidate rows actually scored (probed cluster
      // sizes summed over queries) as a fraction of brute's n² — immune
      // to the host's wall-clock noise
      val n = e.count().toDouble
      val sizes = lists
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      val cand = Ivf.probeAssignments(
          e.select(col("vec_id").as("query_id"), col("embedding").as("v")),
          cents, np.toInt, npMax.toInt, margin.toDouble, fbMargin)
        .join(sizes, Seq("cluster_id"))
        .agg(sum("sz")).head().getLong(0).toDouble
      val frac = cand / (n * n)
      println(f"""{"metric":"ivf_tune","n_clusters":$nc,"iters":$it,""" +
        f""""sample_factor":$sfac,"nprobe":$np,"nprobe_max":$npMax,""" +
        f""""margin":$margin,"fallback_margin":$fbMargin,"recall":$recall%.3f,""" +
        f""""candidate_frac":$frac%.3f,"search_sec":$sec%.2f,""" +
        f""""train_sec":$trainSec%.2f,"assign_sec":$assignSec%.2f,""" +
        f""""brute_sec":$bruteSec%.2f,""" +
        f""""search_vs_brute":${sec / bruteSec}%.2f,""" +
        f""""total_vs_brute":${(sec + trainSec + assignSec) / bruteSec}%.2f}""")
    }
    spark.stop()
  }
}
