package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.gen.DistributedTranscripts
import graft.stream.{CepQueries, Metrics, TranscriptSink}

/** Scaling-efficiency evidence runner (BASELINE.md protocol): runs the
  * SAME ingest-to-sink streaming job on the SAME pre-generated input at a
  * given parallelism ([[ToolSession]]: `SPARK_GRAFT_CPUS`, else the host's
  * cores), printing one JSON line with sustained turns/sec and
  * session-window p95 latency. A wrapper runs it at N and 4N cores and
  * computes efficiency = (T_N/T_4N)/4.
  *
  * Generation is done once (deterministic, seed 42) into
  * /tmp/graft_scale/turns so both runs read identical bytes.
  */
object Scaling {
  def main(args: Array[String]): Unit = {
    val cpus = ToolSession.cpus
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_CONVS", "120000").toLong
    val baseTurns = sys.env.getOrElse("SPARK_GRAFT_TURNS", "24").toInt
    // experiment knobs: trigger batch size (state commits are per
    // partition per trigger — bigger batches amortize them), RocksDB +
    // changelog checkpointing, and a job filter for focused A/B runs
    val fpt = sys.env.getOrElse("SPARK_GRAFT_FPT", "32")
    val rocks = sys.env.getOrElse("SPARK_GRAFT_ROCKSDB", "false").toBoolean
    val jobs = sys.env.getOrElse("SPARK_GRAFT_JOBS", "ingest,session,analytics,csr")
      .split(",").toSet
    // SPARK_GRAFT_INPUT points A/B runs at alternative pre-generated
    // volumes (e.g. the 4× input that amortizes the per-run fixed floor)
    val inputDir = sys.env.getOrElse("SPARK_GRAFT_INPUT", "/tmp/graft_scale/turns")
    val workDir = Files.createTempDirectory("graft_scaling").toString

    val spark = ToolSession()

    if (!Files.exists(Paths.get(inputDir))) {
      // range-partition by event time: file order == event-time order, as
      // any real ingest layout would be — so micro-batches arrive roughly
      // in order, the watermark drops only genuine stragglers, and each
      // batch touches only a few day partitions of the sink table.
      DistributedTranscripts.turns(spark, nConvs, baseTurns)
        .toDF()
        .repartitionByRange(256, col("ts"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(inputDir)
      // FileStreamSource orders files by modification time (task completion
      // order = random); stamp mtimes in part order so arrival order ==
      // event-time order, as a real time-partitioned ingest would deliver.
      val dir = Paths.get(inputDir)
      val parts = Files.list(dir).iterator()
      val sorted = scala.jdk.CollectionConverters.IteratorHasAsScala(parts)
        .asScala.filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.sortBy(_.getFileName.toString)
      sorted.zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
      }
    }
    val schema = spark.read.parquet(inputDir).schema
    val totalRows = spark.read.parquet(inputDir).count()

    val metrics = new Metrics
    spark.streams.addListener(metrics)

    if (rocks) graft.stream.StateStores.useRocksDb(spark)

    // --- job 1: ingest-to-sink (exactly-once upsert) throughput ---
    val ingestSec = if (!jobs("ingest")) -1.0 else {
      val t0 = System.nanoTime()
      val sinkQ = TranscriptSink.start(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", fpt)
          .parquet(inputDir),
        s"$workDir/table", s"$workDir/ckpt", lineagePath = None)
      sinkQ.processAllAvailable(); sinkQ.stop()
      (System.nanoTime() - t0) / 1e9
    }

    // --- job 2: session-window CEP query latency (best of 2 — the host
    // VM is noisy-neighbor-prone; min-of-N is the standard control).
    // State partitions are auto-sized from the per-trigger volume
    // (totalRows × fpt / 256 input files) instead of inheriting the
    // analytics core count: state-store commits are per partition per
    // trigger, so partitions track keyed-state volume
    // ([[graft.stream.StatePartitions]]); SPARK_GRAFT_STATE_PARTS
    // overrides for A/B runs, 0 = legacy (= cpus) behavior.
    val rowsPerTrigger = totalRows * fpt.toLong / 256
    val stateParts = sys.env.get("SPARK_GRAFT_STATE_PARTS").map(_.toInt)
      .getOrElse(graft.stream.StatePartitions.forVolume(
        rowsPerTrigger, maxParts = cpus))
    val sessSec = if (!jobs("session")) -1.0 else (1 to 2).map { i =>
      val t1 = System.nanoTime()
      val sessQ = graft.stream.StatePartitions.scoped(spark,
        if (stateParts > 0) stateParts else cpus) {
        CepQueries.sessionStats(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", fpt)
            .parquet(inputDir),
          watermark = "10 minutes", gap = "30 minutes")
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$workDir/ckpt2_$i")
          .format("memory").queryName(s"sess$i").start()
      }
      sessQ.processAllAvailable(); sessQ.stop()
      (System.nanoTime() - t1) / 1e9
    }.min

    // --- job 3: CPU-bound batch analytics over the same input (edges +
    // sessions + pairing in one pass) — the cores-scaling probe, free of
    // the single-disk commit path that bounds job 1 in-sandbox; best of 3 ---
    val turns = spark.read.parquet(inputDir)
    var (nEdges, nSessions, nPairs) = (0L, 0L, 0L)
    val analyticsSec = if (!jobs("analytics")) -1.0 else (1 to 3).map { _ =>
      val t2 = System.nanoTime()
      nEdges = graft.ops.TurnGraph.edges(turns).count()
      nSessions = graft.ops.Sessions.byGap(turns, 1800).count()
      nPairs = graft.ops.Pairing.userAssistant(turns).count()
      (System.nanoTime() - t2) / 1e9
    }.min

    if (jobs("ingest")) {
      val sunk = spark.read.parquet(s"$workDir/table").count()
      require(sunk == totalRows, s"exactly-once violated: $sunk != $totalRows")
    }

    // --- job 4: stateful CSR pipeline (salted pre-aggregation), noop
    // sink — keyed-state shuffle + per-key array merges, CPU-bound and
    // free of the disk commit path; best of 2 ---
    // the csr job's historical default trigger is 64 files, but the FPT
    // knob must reach it too — it is the job the per-trigger state-commit
    // rationale most applies to
    val csrFpt = sys.env.getOrElse("SPARK_GRAFT_FPT", "64")
    val csrSec = if (!jobs("csr")) -1.0 else (1 to 2).map { i =>
      import spark.implicits._
      val t3 = System.nanoTime()
      // same state-partition scoping as the session job: partitions track
      // keyed-state volume (SPARK_GRAFT_STATE_PARTS pins them for
      // matched-job N-vs-4N runs), not the analytics core count
      val q = graft.stream.StatePartitions.scoped(spark,
        if (stateParts > 0) stateParts else cpus) {
        graft.stream.CsrState.attachSalted(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", csrFpt)
              .parquet(inputDir).as[graft.schema.Turn], "1 hour")
          .toDF().writeStream.format("noop")
          .option("checkpointLocation", s"$workDir/ckpt_csr_$i")
          .start()
      }
      q.processAllAvailable(); q.stop()
      (System.nanoTime() - t3) / 1e9
    }.min

    // --- job 5 (round-5): the operator-widening batch families over the
    // same input — as-of attribution (one union-sort shuffle), latency
    // order statistics, CEP islands; CPU/shuffle bound like job 3 (not
    // in the default set, to keep job-3 numbers comparable across
    // rounds: SPARK_GRAFT_JOBS=ops); best of 3 ---
    var (nAttrib, nRuns) = (0L, 0L)
    val opsSec = if (!jobs("ops")) -1.0 else (1 to 3).map { _ =>
      val t4 = System.nanoTime()
      val userPts = turns.where(col("role") === "user")
        .groupBy(col("conv_id"), col("ts").as("u_ts"))
        .agg(max("turn_idx").cast("int").as("user_idx"))
      val toolTurns = turns.where(col("tool").isNotNull)
        .select("conv_id", "turn_idx", "tool", "ts")
      nAttrib = graft.ops.AsOfJoin.asOf(toolTurns, userPts, Seq("conv_id"),
          "ts", "u_ts", Seq("user_idx"))
        .where(col("user_idx").isNotNull).count()
      graft.ops.Quantiles.replyLatency(turns).count()
      nRuns = graft.stream.Patterns.toolRuns(turns, minLen = 2).count()
      (System.nanoTime() - t4) / 1e9
    }.min

    def tps(sec: Double): Long = if (sec > 0) (totalRows / sec).toLong else -1L
    println(
      s"""{"cpus":$cpus,"rows":$totalRows,"fpt":$fpt,"rocksdb":$rocks,"ingest_sec":$ingestSec,""" +
      s""""turns_per_sec":${tps(ingestSec)},""" +
      s""""session_sec":$sessSec,""" +
      s""""session_turns_per_sec":${tps(sessSec)},""" +
      s""""analytics_sec":$analyticsSec,""" +
      s""""analytics_turns_per_sec":${tps(analyticsSec)},""" +
      s""""csr_sec":$csrSec,""" +
      s""""csr_turns_per_sec":${tps(csrSec)},""" +
      s""""ops_sec":$opsSec,""" +
      s""""ops_turns_per_sec":${tps(opsSec)},""" +
      s""""edges":$nEdges,"sessions":$nSessions,"pairs":$nPairs,""" +
      s""""attrib":$nAttrib,"runs":$nRuns,""" +
      s""""batch_p95_ms":${metrics.p95DurationMs},""" +
      s""""late_dropped":${metrics.totalLateDropped}}""")
    spark.stop()
  }
}
