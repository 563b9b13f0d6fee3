package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.ops.{HeavyHitters, Rates, Sessions}
import graft.schema.Turn
import graft.sim.Ivf
import graft.stream._
import graft.text.{Dedup, Redaction, TextAnalysis}
import Inputs._

/** The streaming queries, each run on its actual micro-batch path: a
  * bounded driver feed goes through [[Harness]] into the query's sink,
  * and the sink's content must equal the oracle over the same fed subset
  * ([[streamFeedWhere]] for the turn feeds).
  */
object StreamQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // T1/T2/T3 under the driver oracle: the MICRO-BATCH EXECUTION PATH
    // itself — MemoryStream source → watermarked session_window aggregate
    // → append-mode memory sink across three triggers (the third is a
    // far-future sentinel that advances the watermark so every real
    // session finalizes). The sink table must equal the DuckDB islands
    // oracle, so a regression in incremental planning, watermark
    // advancement, or session-state handling breaks the hash match even
    // while the batch twin (q_sessions_sw) stays correct — the batch
    // plans never execute here. The fed subset is [[streamFeed]]-bounded
    // (oracle WHERE in lockstep) — cost independent of sf.
    QueryDef("q_stream_sessions",
      (s, dir) => turnStream(s, streamFeed(s, dir), "q_stream_sessions", nSentinels = 1) {
        src => CepQueries.sessionStats(src, watermark = "10 minutes", gap = "30 minutes")
      }.select(col("conv_id"), col("n_turns"), ntz("start_ts"), ntz("end_ts")),
      // identical islands oracle over the lockstep-restricted feed — but
      // the Spark side executes the actual micro-batch streaming path, not
      // the batch plan
      tsql(Sessions.sessionWindowOracle(1800, streamFeedWhere))),
    // The session-window aggregate's state on the ROCKSDB provider:
    // completes state-backend parity across the
    // three state types — q_stream_runs_tws covers custom
    // transformWithState state, this covers BUILT-IN aggregation
    // (session-window merge) state on RocksDB + changelog checkpointing,
    // under the identical islands oracle.
    QueryDef("q_stream_sessions_rocksdb",
      (s, dir) => turnStream(s, streamFeed(s, dir), "q_stream_sessions_rocksdb", nSentinels = 1,
                             conf = StateStores.RocksDbConf) {
        src => CepQueries.sessionStats(src, watermark = "10 minutes", gap = "30 minutes")
      }.select(col("conv_id"), col("n_turns"), ntz("start_ts"), ntz("end_ts")),
      // identical islands oracle — the RocksDB state backend must be
      // invisible in the result
      tsql(Sessions.sessionWindowOracle(1800, streamFeedWhere))),
    // T8/T9/S13 under the driver oracle: the SAME watermarked
    // session_window aggregate, but the query is KILLED after the first
    // half of the feed and RESTARTED from its checkpoint before the
    // second half + sentinel arrive — conversations and session windows
    // straddle the restart, so the rows are correct only if checkpoint
    // recovery, state re-hydration, and sink idempotence all work
    // (reference analog: node2idx insert-once, builders.py:190-198).
    // Oracle = the identical islands SQL as q_stream_sessions: a restart
    // must be INVISIBLE in the result.
    QueryDef("q_stream_sessions_resume",
      (s, dir) => turnStreamResumed(s, streamFeed(s, dir), "q_stream_sessions_resume",
                                    nSentinels = 1) {
        src => CepQueries.sessionStats(src, watermark = "10 minutes", gap = "30 minutes")
      }.select(col("conv_id"), col("n_turns"), ntz("start_ts"), ntz("end_ts")),
      // IDENTICAL islands oracle — the mid-feed kill/restart on the Spark
      // side must be invisible in the result (checkpoint recovery + state
      // re-hydration + sink idempotence under the hash compare)
      tsql(Sessions.sessionWindowOracle(1800, streamFeedWhere))),
    // T5/J6 under the driver oracle: the stream-stream join's ACTUAL
    // micro-batch path — both watermarked sides buffered in join state
    // across triggers, matches emitted incrementally, state evicted by
    // the time-range bound. Oracle = the q_pairing SQL restricted to the
    // same fed subset with the same 2 h latency bound.
    QueryDef("q_stream_pairing",
      (s, dir) => turnStream(s, streamFeed(s, dir), "q_stream_pairing", nSentinels = 1) {
        src => CepQueries.userAssistantJoin(src, watermark = "10 minutes",
                                            maxWait = "2 hours")
      }.select(col("conv_id"), col("user_idx"), col("asst_idx"), col("latency_us")),
      // q_pairing's relation, restricted to the fed subset and bounded by
      // userAssistantJoin's 2 h time-range condition — the Spark side runs
      // the actual stream-stream join with watermarked state
      tsql(s"""SELECT u.conv_id, u.turn_idx AS user_idx, a.turn_idx AS asst_idx,
              |       date_diff('microsecond', u.ts, a.ts) AS latency_us
              |FROM turns u JOIN turns a
              |  ON u.conv_id = a.conv_id AND a.turn_idx = u.turn_idx + 1
              |WHERE u.role = 'user' AND a.role = 'assistant'
              |  AND regexp_matches(u.conv_id, '^c[0-9]d')
              |  AND u.ts IS NOT NULL AND a.ts IS NOT NULL
              |  AND date_diff('microsecond', u.ts, a.ts)
              |      BETWEEN 0 AND ${2L * 3600 * 1000000}""".stripMargin)),
    // the LEFT OUTER stream-stream join — the third watermark semantic
    // under the oracle: unanswered user turns emit null-padded rows ONLY
    // once the watermark proves no reply can arrive (one batch after it
    // advances → two sentinels). Oracle = the same relation as LEFT JOIN
    // with the assistant-side predicates in the ON clause.
    QueryDef("q_stream_pairing_outer",
      (s, dir) => turnStream(s, streamFeed(s, dir), "q_stream_pairing_outer", nSentinels = 2,
                             roles = Seq("user", "assistant")) {
        src => CepQueries.userAssistantJoinOuter(src, watermark = "10 minutes",
                                                 maxWait = "2 hours")
      }.select(col("conv_id"), col("user_idx"), col("asst_idx"), col("latency_us")),
      // the LEFT OUTER form: assistant-side predicates move into ON so
      // unanswered user turns survive with null asst_idx / latency_us
      tsql(s"""SELECT u.conv_id, u.turn_idx AS user_idx, a.turn_idx AS asst_idx,
              |       date_diff('microsecond', u.ts, a.ts) AS latency_us
              |FROM turns u LEFT JOIN turns a
              |  ON u.conv_id = a.conv_id AND a.turn_idx = u.turn_idx + 1
              |  AND a.role = 'assistant' AND a.ts IS NOT NULL
              |  AND date_diff('microsecond', u.ts, a.ts)
              |      BETWEEN 0 AND ${2L * 3600 * 1000000}
              |WHERE u.role = 'user' AND u.ts IS NOT NULL
              |  AND regexp_matches(u.conv_id, '^c[0-9]d')""".stripMargin)),
    // T6 under the driver oracle: flatMapGroupsWithState keyed CSR state
    // on the ACTUAL incremental path — per-conversation state merged
    // across triggers, finalized by EventTimeTimeout once the sentinel
    // advances the watermark past every conversation's idle horizon
    // (timeouts fire a batch AFTER the watermark advances → two
    // sentinels). Oracle = the q_csr_agg SQL over the same fed subset.
    // idleTimeout must exceed a conversation's 24 h day-span PLUS the
    // watermark jump across the two-batch median split (months of event
    // time) — otherwise a boundary-straddling conversation times out
    // mid-stream and emits TWO partial finals; 48 h idle + 14 d sentinel
    // gaps guarantee exactly one final per conversation.
    QueryDef("q_stream_csr",
      (s, dir) => finals(turnStream(s, streamFeed(s, dir), "q_stream_csr", nSentinels = 2,
                                    gapMs = TwoWeeksMs) { src =>
        import s.implicits._
        CsrState.attach(src.withWatermark("ts", "10 minutes").as[Turn],
                        idleTimeout = "48 hours").toDF()
      }),
      // q_csr_agg's relation over the fed subset — the Spark side runs the
      // actual flatMapGroupsWithState path and emits these rows only via
      // EventTimeTimeout finalization
      csrOracle),
    // A14/X2 under the driver oracle: the SALTED CSR state
    // path — map-side per-partition partial aggregation compacts each
    // conversation's micro-batch slice into one (idxs[], max_ts) row
    // before the keyed-state shuffle ([[graft.stream.CsrState
    // .attachSalted]]); the in-order driver feed makes the output
    // row-identical to q_stream_csr (CsrParitySpec's contract), so the
    // SAME DuckDB oracle hash-checks the hot-key-hardened path.
    QueryDef("q_stream_csr_salted",
      (s, dir) =>
        finals(turnStream(s, streamFeed(s, dir), "q_stream_csr_salted", nSentinels = 2,
                          gapMs = TwoWeeksMs) { src =>
          import s.implicits._
          // attachSalted declares its own watermark on the partials'
          // max_ts — pass the stream UN-watermarked
          CsrState.attachSalted(src.as[Turn], idleTimeout = "48 hours",
                                watermarkDelay = "10 minutes").toDF()
        }),
      // identical oracle — the salted (map-side partial) state path must be
      // row-identical to the plain keyed path on the in-order feed
      csrOracle),
    // T7 as a PLAN operator: streaming exact dedup — distinct
    // text fingerprints emitted on first sight via the stateful
    // streaming dropDuplicates ([[graft.stream.CepQueries
    // .distinctFingerprints]]; global-state form — the offline-corpus
    // shape; the watermark-bounded form's re-emit semantics are pinned
    // in StreamingSpec). Rows emit in their arrival batch, so no
    // sentinel flush is needed — and none is fed, so there is nothing to
    // strip from the sink.
    QueryDef("q_stream_dedup",
      (s, dir) => turnStream(s, streamFeed(s, dir), "q_stream_dedup", nSentinels = 0,
                             drop = identity)(src => CepQueries.distinctFingerprints(src)),
      // the insert-once contract in SQL: one row per distinct normalized
      // fingerprint over the fed subset
      tsql(s"""SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ',
              |  'g'))) AS fp
              |FROM turns $streamFeedWhere""".stripMargin)),
    // CEP sequence pattern on its ACTUAL streaming path:
    // TOOL{2,} runs detected by [[graft.stream.Patterns
    // .attach]] — flagged turns buffered as keyed state, runs emitted
    // ONCE per conversation at event-time-timeout finalization (an early
    // emit would double-report a run still growing at a batch boundary).
    // Watermark declared UPSTREAM of the tool filter so unflagged turns
    // and the sentinels still advance event time; same 2-sentinel /
    // 48 h-idle timeout contract as q_stream_csr. Oracle = the identical
    // gaps-and-islands SQL as q_tool_runs restricted to the fed subset.
    QueryDef("q_stream_runs",
      (s, dir) => turnStream(s, streamFeed(s, dir), "q_stream_runs", nSentinels = 2,
                             gapMs = TwoWeeksMs) { src =>
        import s.implicits._
        Patterns.attach(src.withWatermark("ts", "10 minutes").as[Turn]
                          .filter(_.tool.isDefined),
                        minLen = 2, idleTimeout = "48 hours").toDF()
      },
      // q_tool_runs' gaps-and-islands SQL over the fed subset — the Spark
      // side detects the runs on the stateful streaming path
      runsOracle),
    // The SAME pattern on Spark 4's transformWithState API:
    // typed ValueState + explicit event-time timers on the
    // RocksDB state-store provider — the arbitrary-stateful successor API,
    // hash-checked against the identical islands oracle so the two state
    // backends/APIs must agree row-for-row ([[graft.stream.Patterns
    // .attachTws]], started with [[graft.stream.StateStores.RocksDbConf]]).
    QueryDef("q_stream_runs_tws",
      (s, dir) => turnStream(s, streamFeed(s, dir), "q_stream_runs_tws", nSentinels = 2,
                             gapMs = TwoWeeksMs, conf = StateStores.RocksDbConf) { src =>
        import s.implicits._
        Patterns.attachTws(src.withWatermark("ts", "10 minutes").as[Turn]
                             .filter(_.tool.isDefined),
                           minLen = 2, idleTimeout = "48 hours").toDF()
      },
      // identical oracle to q_stream_runs — the transformWithState/RocksDB
      // path must agree with the flatMapGroupsWithState/heap path exactly
      runsOracle),
    // Stream-STATIC enrichment join: every
    // incoming turn joined against a batch dimension (per-conversation
    // first-seen ts) on the actual micro-batch path — the standard
    // dim-lookup shape. The static side carries an explicit broadcast
    // hint: AQE is disabled inside micro-batch plans, so the join
    // strategy must be declared (at 100 TB the dim is the small side by
    // construction — per-tool/per-tenant attributes; a conversation-sized
    // dim would instead be pre-bucketed and the hint dropped). Stateless
    // → rows emit in their arrival batch; no watermark, no sentinels.
    QueryDef("q_stream_enrich",
      (s, dir) => {
        // static dim materialized once: the static side of a
        // stream-static join re-executes per micro-batch — without the
        // barrier every trigger re-paid the events scan + aggregate
        val dim = T(s, dir).groupBy("conv_id")
          .agg(min(col("ts").cast("timestamp")).as("first_ts"))
          .localCheckpoint(true)
        turnStream(s, streamFeed(s, dir), "q_stream_enrich", nSentinels = 0,
                   drop = identity) { src =>
          src.join(broadcast(dim), "conv_id")
            .select(col("conv_id"), col("turn_idx"),
                    expr("timestampdiff(MICROSECOND, first_ts, ts)").as("offset_us"))
        }
      },
      // the dim join recomputed relationally: per-conv min ts over the FULL
      // table (identical to the subset's per-conv min — min is per-conv),
      // offset per fed turn
      tsql(s""", dim AS (SELECT conv_id, MIN(ts) AS first_ts FROM turns GROUP BY 1)
              |SELECT t.conv_id, t.turn_idx,
              |       date_diff('microsecond', d.first_ts, t.ts) AS offset_us
              |FROM turns t JOIN dim d USING (conv_id)
              |$streamFeedWhere""".stripMargin)),
    // Incrementally-maintained MATERIALIZED VIEW:
    // update-mode streaming aggregation + foreachBatch replace-on-match
    // upsert into a parquet view table — the serving-layer sink semantic
    // (existing keys REPLACED by the fresher aggregate; TranscriptSink's
    // insert-once is the opposite resolution). Update mode emits only
    // CHANGED keys per trigger, so conversations straddling the two-batch
    // feed are upserted twice and the second write must win — exactly
    // what the oracle's full-table group-by certifies.
    QueryDef("q_stream_matview",
      (s, dir) => matView(s, dir, "q_stream_matview", restart = false),
      // the materialized view's final content == plain group-by over the
      // fed subset: only true if update-mode deltas + replace-on-match
      // upserts compose correctly across batches
      matViewOracle),
    // ... and the same view KILLED between the two feed batches and
    // restarted from its checkpoint: straddling
    // conversations have their batch-1 aggregate in the table AND their
    // state in the checkpoint; the restarted query must re-hydrate the
    // agg state and the replayed/late upserts must replace, not
    // duplicate — same full-table group-by oracle, restart invisible.
    QueryDef("q_stream_matview_resume",
      (s, dir) => matView(s, dir, "q_stream_matview_resume", restart = true),
      // identical oracle — the kill/restart must be invisible in the view
      matViewOracle),
    // T6 × T8/T9: the flatMapGroupsWithState CSR path KILLED
    // mid-feed and restarted from its checkpoint — conversations straddle
    // the restart, so the finals are correct only if the per-key binary
    // state (the sorted turn-index runs + max event time) re-hydrates
    // from the state store, the EventTimeTimeout re-arms, and the file
    // sink stays idempotent on replay. Same oracle as q_stream_csr: a
    // restart must be invisible. (q_stream_sessions_resume covers the
    // session-window aggregate's restart; this covers the CUSTOM-state
    // codec path, which recovers through a different store format.)
    QueryDef("q_stream_csr_resume",
      (s, dir) => finals(turnStreamResumed(s, streamFeed(s, dir), "q_stream_csr_resume",
                                           nSentinels = 2, gapMs = TwoWeeksMs) { src =>
        import s.implicits._
        CsrState.attach(src.withWatermark("ts", "10 minutes").as[Turn],
                        idleTimeout = "48 hours").toDF()
      }),
      // identical oracle to q_stream_csr — the mid-feed kill/restart of the
      // custom-state path must be invisible in the result
      csrOracle),
    // T4's SLIDING form on its actual micro-batch path: the
    // same [[graft.ops.Rates.slidingPerRole]] relation IS the streaming
    // query — the unified Dataset API means the batch twin's plan code
    // runs unchanged over a watermarked stream (each turn lands in
    // width/slide = 2 windows; state is one row per open (window, role),
    // finalized as the watermark passes each window's end). Sentinel rows
    // carry no conv_id in this aggregate → dropped by event time.
    QueryDef("q_stream_sliding",
      (s, dir) => {
        val rows = streamFeed(s, dir)
        turnStream(s, rows, "q_stream_sliding", nSentinels = 1,
                   drop = realWindows(rows)) { src =>
          Rates.slidingPerRole(src.withWatermark("ts", "10 minutes"), "2 hours", "1 hour")
        }.select(ntz("window_start"), col("role"), col("n_turns"))
      },
      // q_sliding_rate's SQL over the fed subset — the Spark side runs the
      // batch relation's plan on the actual micro-batch path
      tsql(s"""SELECT ws AS window_start, role, COUNT(*) AS n_turns FROM (
              |  SELECT date_trunc('hour', ts) AS ws, role FROM turns
              |  $streamFeedWhere
              |  UNION ALL
              |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, role FROM turns
              |  $streamFeedWhere
              |) GROUP BY 1, 2""".stripMargin)),
    // T4 under the driver oracle: the tumbling per-tool rate on
    // its ACTUAL micro-batch path — and with EXACT distinct conversation
    // counts, via chained stateful window aggregations
    // ([[graft.stream.CepQueries.turnRateExactDistinct]]): streaming aggs
    // cannot run countDistinct, so stage 1 collapses (window, tool,
    // conv_id) and stage 2 re-windows on window_time and counts the
    // collapsed rows. The oracle is the same COUNT(DISTINCT conv_id)
    // SQL as q_turn_rate restricted to the fed subset — the approx-HLL
    // compromise of the plain streaming form is not inherited. Sentinel
    // rows carry no conv_id here; they are dropped by event time (the
    // ≥48 h sentinel gap puts their windows past every real one), and
    // stage-2 finalization lags the watermark by one batch → 3 sentinels.
    QueryDef("q_stream_rate",
      (s, dir) => {
        val rows = streamFeed(s, dir)
        turnStream(s, rows, "q_stream_rate", nSentinels = 3,
                   drop = realWindows(rows)) { src =>
          CepQueries.turnRateExactDistinct(src, watermark = "10 minutes", width = "1 hour")
        }.select(ntz("window_start"), col("tool"), col("n_turns"), col("n_convs"))
      },
      // q_turn_rate's SQL over the fed subset — COUNT(DISTINCT conv_id) is
      // EXACT on both sides: the Spark side gets exactness on the streaming
      // path from the chained two-level window aggregation
      tsql(s"""SELECT date_trunc('hour', ts) AS window_start, tool,
              |       COUNT(*) AS n_turns, COUNT(DISTINCT conv_id) AS n_convs
              |FROM turns $streamFeedWhere GROUP BY 1, 2""".stripMargin)),
    // the north rule's "session-window query latency p95" LIVE: per-conv
    // keyed state emits each assistant reply gap (integer µs), a
    // re-declared watermark + windowed EXACT percentile finalizes
    // (p50, p95, max) per (hour, tool) in append mode — chained stateful
    // ops on the real micro-batch path, heartbeat rows keeping the
    // watermark moving through reply-free stretches
    QueryDef("q_stream_latency",
      (s, dir) => {
        val rows = streamFeed(s, dir)
        turnStream(s, rows, "q_stream_latency", nSentinels = 3,
                   drop = realWindows(rows)) { src =>
          import s.implicits._
          LatencyStream.windowedReplyLatency(src.as[Turn], watermark = "10 minutes",
                                             width = "1 hour")
        }.select(ntz("window_start"), col("tool"), col("n"), col("p50_us"),
                 col("p95_us"), col("max_us"))
      },
      tsql(s""", gaps AS (
              |  SELECT tool, role, ts, date_diff('microsecond',
              |           lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx),
              |           ts) AS gap_us
              |  FROM turns $streamFeedWhere
              |  QUALIFY role = 'assistant' AND gap_us IS NOT NULL)
              |SELECT date_trunc('hour', ts) AS window_start, tool,
              |       COUNT(*) AS n,
              |       quantile_cont(gap_us, 0.5) AS p50_us,
              |       quantile_cont(gap_us, 0.95) AS p95_us,
              |       MAX(gap_us) AS max_us
              |FROM gaps GROUP BY 1, 2""".stripMargin)),
    // ... and the same metric per SESSION WINDOW — the north-rule phrase
    // verbatim: reply-gap order statistics per session_window × conv over
    // the gap stream, finalized on watermark. The 8 h inactivity gap is
    // sized to the corpus (median spacing between reply events ≈ 7.75 h),
    // so sessions genuinely hold MULTIPLE gaps and the percentile
    // interpolates — a 30 min gap degenerates to one gap per session;
    // heartbeats ride under a disjoint conversation key so they advance
    // the watermark without extending any real session
    QueryDef("q_stream_session_latency",
      (s, dir) =>
        turnStream(s, streamFeed(s, dir), "q_stream_session_latency", nSentinels = 3) {
          src =>
            import s.implicits._
            LatencyStream.sessionReplyLatency(src.as[Turn], watermark = "10 minutes",
                                              gap = "8 hours")
        }.select(col("conv_id"), ntz("session_start"), ntz("session_end"),
                 col("n"), col("p50_us"), col("p95_us"), col("max_us")),
      tsql(s""", gaps AS (
              |  SELECT conv_id, ts, role, date_diff('microsecond',
              |           lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx),
              |           ts) AS gap_us
              |  FROM turns $streamFeedWhere
              |  QUALIFY role = 'assistant' AND gap_us IS NOT NULL),
              |flagged AS (
              |  SELECT conv_id, ts, gap_us,
              |         CASE WHEN LAG(ts) OVER w IS NULL
              |                OR date_diff('microsecond', LAG(ts) OVER w, ts)
              |                   >= ${28800L * 1000000L}
              |              THEN 1 ELSE 0 END AS new_session
              |  FROM gaps
              |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts)),
              |ns AS (
              |  SELECT conv_id, ts, gap_us,
              |         SUM(new_session) OVER (PARTITION BY conv_id ORDER BY ts
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              |  FROM flagged)
              |SELECT conv_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
              |       COUNT(*) AS n,
              |       quantile_cont(gap_us, 0.5) AS p50_us,
              |       quantile_cont(gap_us, 0.95) AS p95_us,
              |       MAX(gap_us) AS max_us
              |FROM ns GROUP BY conv_id, sid""".stripMargin)),
    // Misra-Gries ON THE STREAM: per-hour heavy-hitter terms where the
    // sketch buffer is the streaming aggregation state (window state is
    // O(capacity) at ANY vocabulary — the firehose "trending tokens"
    // shape); partial sketches merge across micro-batches under the same
    // mergeable-summaries bound as the batch map-side combine. The feed's
    // ≤7 distinct terms/window keep capacity 16 in the exact regime, so
    // the plain per-(window, term) count is the oracle.
    QueryDef("q_stream_heavy",
      (s, dir) => {
        val rows = streamFeed(s, dir)
        turnStream(s, rows, "q_stream_heavy", nSentinels = 3,
                   drop = realWindows(rows)) { src =>
          HeavyHitters.windowedTerms(src, watermark = "10 minutes", width = "1 hour")
        }.select(ntz("window_start"), col("term"), col("cnt"))
      },
      tsql(s"""SELECT date_trunc('hour', ts) AS window_start, word AS term,
              |       CAST(COUNT(*) AS BIGINT) AS cnt
              |FROM (SELECT ts, unnest(string_split(text, ' ')) AS word
              |      FROM turns $streamFeedWhere)
              |GROUP BY 1, 2""".stripMargin)),
    // the SAME scrub relation running unchanged on the actual micro-batch
    // path (unified batch/stream API — the firehose-scrub deployment):
    // stateless column expressions → rows emit in their arrival batch, no
    // watermark, no sentinels. Oracle = q_doc_redact's construct-based
    // oracle restricted to the fed ids.
    QueryDef("q_stream_redact",
      (s, dir) => {
        import s.implicits._
        val rows = piiDocs(s, dir).where(col("doc_id") < 200)
          .as[(Long, String)].collect().sortBy(_._1).toSeq
        val name = s"q_stream_redact_${System.nanoTime()}"
        Harness.run(s, rows) { src =>
          Harness.toMemory(Redaction.scrub(src.toDF("doc_id", "text")), name)
        }
        s.table(name)
      },
      TextQueries.redactOracle + " WHERE doc_id < 200"),
    // incremental EXACT dedup (completing the incremental trio with
    // q_stream_neardup / q_stream_ivf): the [[incDocsRows]] growing-corpus
    // feed streams in two batches; within-stream first-occurrence is
    // dropDuplicates state, base-known fingerprints drop via the
    // broadcast stream-static anti-join. Oracle reconstructs the same
    // feed with id arithmetic and recomputes both drops in SQL.
    QueryDef("q_stream_dedup_inc",
      (s, dir) => {
        // materialize the base fingerprint set once: the static side of a
        // stream-static join is re-executed EVERY micro-batch, so without
        // the barrier each trigger re-paid the corpus scan + distinct
        // shuffle (production reads this table from its parquet snapshot)
        val base = docs(s, dir).where(col("doc_id") >= 200)
          .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
          .localCheckpoint(true)
        val rows = incDocsRows(s, dir).toSeq
        // incrementalExact's within-batch survivor is arbitrary (see its
        // doc); the oracle's MIN(doc_id) parity holds because the incDocs
        // plants are always CROSS-batch — assert that precondition so a
        // feed change fails loudly, not as an intermittent oracle hash
        // mismatch. The dedup key is the NORMALIZED fingerprint (lower →
        // collapse whitespace → trim), so distinctness is asserted on that
        // form, not raw text.
        def normed(t: String) =
          if (t == null) null
          else t.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim
        Harness.halves(rows).foreach { b =>
          require(b.map(r => normed(r._2)).distinct.size == b.size,
            "q_stream_dedup_inc: within-batch duplicate normalized " +
            "text breaks the deterministic-survivor precondition")
        }
        val name = s"q_stream_dedup_inc_${System.nanoTime()}"
        Harness.run(s, rows) { src =>
          Harness.toMemory(Dedup.incrementalExact(src.toDF("doc_id", "text"), base), name)
        }
        s.table(name)
      },
      """WITH src AS (
        |  SELECT d.doc_id,
        |         CASE WHEN d.doc_id % 7 = 3 THEN b.text
        |              WHEN d.doc_id >= 100 AND d.doc_id % 9 = 7 THEN p.text
        |              ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents b ON b.doc_id = d.doc_id + 200
        |  LEFT JOIN documents p ON p.doc_id = d.doc_id - 100
        |  WHERE d.doc_id < 200),
        |f AS (SELECT doc_id,
        |             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |               AS fp
        |      FROM src),
        |base AS (SELECT DISTINCT
        |           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |             AS fp
        |         FROM documents WHERE doc_id >= 200)
        |SELECT MIN(doc_id) AS doc_id, fp
        |FROM f WHERE fp NOT IN (SELECT fp FROM base)
        |GROUP BY fp""".stripMargin),
    // INCREMENTAL near-dup: the corpus-growth shape — docs with
    // doc_id < 200 arrive as two micro-batches and are banded against the
    // BASE snapshot's materialized signature tables (the same mh_sh /
    // mh_bands parquet as q_minhash_neardups, restricted to ids ≥ 200)
    // plus the earlier batches' signature deltas; verified pairs append
    // per batch (overwrite-by-batch-dir = replay-idempotent). The corpus
    // is never re-shingled — per-batch work is batch-sized. Oracle: the
    // full batch pair relation restricted to pairs with a fed endpoint.
    QueryDef("q_stream_neardup",
      (s, dir) => {
        import s.implicits._
        val (sh, bands) = minhashSigs(s, dir)
        val rows = docs(s, dir).where(col("doc_id") < 200)
          .select(col("doc_id"), col("text"))
          .as[(Long, String)].collect().sortBy(_._1).toSeq
        val root = Harness.workDir("q_stream_neardup")
        Harness.run(s, rows) { src =>
          IncrementalNearDup.start(src.toDF("doc_id", "text"),
            sh.where(col("id") >= 200), bands.where(col("id") >= 200),
            s"$root/delta", s"$root/pairs", s"$root/ckpt", threshold = 0.5)
        }
        IncrementalNearDup.readPairs(s, s"$root/pairs")
      },
      // incremental near-dup: the batch pair pipeline (cap + banding join +
      // jaccard verify over the SAME materialized signatures) thresholded
      // at 0.5 and restricted to pairs with a streamed endpoint (doc_id <
      // 200) — base×base pairs are exactly the ones the incremental pass
      // must never emit. Bucket-cap note: the incremental cap is evaluated
      // on the corpus-so-far; it coincides with this full-corpus QUALIFY
      // whenever no bucket crosses the cap mid-stream (always true at test
      // scale — max bucket ≪ 10⁴).
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
         |WHERE jaccard >= 0.5 AND (id_a < 200 OR id_b < 200)""".stripMargin),
    // incremental IVF index maintenance (the ANN analog of
    // q_stream_neardup): centroids trained once on the BASE snapshot
    // (vec_id ≥ 200) and materialized; vectors < 200 arrive as two
    // micro-batches, are hard-assigned against the broadcast centroids
    // with the deterministic argmax, and publish replay-
    // idempotent inverted-list deltas. Oracle: DuckDB recomputes the
    // argmax from the materialized centroid table + the embeddings view.
    QueryDef("q_stream_ivf",
      (s, dir) => {
        import s.implicits._
        val e = emb(s, dir)
        val cents = embSig(s, dir, "ivf_cents")(
          Ivf.trainCentroids(e.where(col("vec_id") >= 200), nClusters = 8,
                             iters = 2, sampleFactor = 25))
        val rows = e.where(col("vec_id") < 200)
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
        val root = Harness.workDir("q_stream_ivf")
        Harness.run(s, rows) { src =>
          IncrementalIvf.start(src.toDF("vec_id", "embedding"), cents,
                               s"$root/lists", s"$root/ckpt")
        }
        IncrementalIvf.deltas(s, s"$root/lists")
      },
      s"""WITH c AS (SELECT cluster_id, centroid
         |           FROM read_parquet('${sigGlob("ivf_cents")}')
         |           WHERE corpus_fp = $embFpSql),
         |s AS (SELECT v.vec_id AS id, c.cluster_id,
         |        round(list_dot_product(v.embedding::DOUBLE[], c.centroid::DOUBLE[]) /
         |          (sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[])) *
         |           sqrt(list_dot_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[]))),
         |          6) AS sim6
         |      FROM embeddings v CROSS JOIN c
         |      WHERE v.vec_id < 200)
         |SELECT id, cluster_id, sim6 FROM s
         |QUALIFY row_number() OVER (PARTITION BY id
         |                           ORDER BY sim6 DESC, cluster_id) = 1""".stripMargin)
  )

  /** DuckDB lockstep restriction for the turn-feed oracles: the conv_ids
    * of [[streamFeed]]'s `user_id < 10` slice.
    */
  private val streamFeedWhere =
    "WHERE regexp_matches(conv_id, '^c[0-9]d') AND ts IS NOT NULL"

  /** The bounded driver feed of the turn streams: the `user_id < 10` slice
    * — 10 users, ~700 turns at EVERY shipped sf (volume grows with the day
    * span, never the table), so the feed stays kilobytes at any scale
    * factor; every turn-feed oracle restricts in lockstep
    * ([[streamFeedWhere]]: conv_id = 'c' + user_id + 'd' + date).
    * MemoryStream is driver-fed BY DESIGN; the production path consumes
    * `readStream` directly ([[CepQueries]], [[CsrState]]) and never
    * collects. Rows are event-time sorted (no late batches); rows with
    * null ts are excluded (none exist in the driver data; a null event
    * time is undroppable-late by definition) — the oracle WHERE carries
    * the same predicates.
    *
    * The Turn mapping runs ON THE DRIVER over the collected slice: the
    * user_id filter pushes into the parquet scan, and routing the rows
    * through the distributed rank-window derivation first paid a shuffle
    * + window stage per invocation just to compute a rank the driver
    * re-sorts afterwards. The mapping is the same bijective derivation as
    * [[graft.gen.Transcripts.fromEvents]] (conv_id = c<user>d<yyyyMMdd
    * UTC>, turn_idx = 0-based (ts, event_id) rank per conversation, role
    * by parity, text = type#props, tool for error/purchase) — parity with
    * the distributed form is pinned by StreamFeedSpec.
    */
  private[graft] def streamFeed(s: SparkSession, dir: String): Seq[Turn] = {
    val raw = s.read.parquet(s"$dir/events.parquet")
      .where(col("user_id") < 10 && col("ts").isNotNull)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
              col("event_id"), col("event_type"), col("props"))
      .collect()
    val dayFmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
      .withZone(java.time.ZoneOffset.UTC)
    // full-microsecond event time (Timestamp.getTime truncates to ms —
    // the rank window this replaces ordered by the exact ts value)
    def micros(ts: java.sql.Timestamp): Long =
      ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L
    val rows = raw.map { r =>
      (r.getLong(0), r.getTimestamp(1), r.getLong(2),
       if (r.isNullAt(3)) null else r.getString(3),
       if (r.isNullAt(4)) null else r.getString(4))
    }
    rows.groupBy { case (uid, ts, _, _, _) =>
        s"c${uid}d${dayFmt.format(ts.toInstant)}"
      }
      .iterator
      .flatMap { case (convId, members) =>
        members.sortBy { case (_, ts, eid, _, _) => (micros(ts), eid) }
          .iterator.zipWithIndex
          .map { case ((_, ts, _, etype, props), idx) =>
            Turn(
              convId, idx,
              if (idx % 2 == 0) "user" else "assistant",
              // concat() is null if ANY argument is — replicate exactly
              if (etype == null || props == null) null else s"$etype#$props",
              if (etype == "error" || etype == "purchase") Some(etype)
              else None,
              ts)
          }
      }
      .toVector
      .sortBy(t => (micros(t.ts), t.conv_id, t.turn_idx))
  }

  /** The growing-corpus feed for incremental exact dedup (the
    * [[Inputs.piiDocs]] construct-the-fixture approach — the raw corpus
    * has no exact duplicates inside the doc_id < 200 feed): every
    * 7th-residue-3 doc streams a BASE document's text (doc_id + 200 —
    * dropped by the base-fingerprint anti-join), every second-batch doc
    * with residue 9 ≡ 7 streams the ORIGINAL text of its first-batch
    * counterpart (doc_id − 100 — dropped by the within-stream dedup state,
    * and always CROSS-batch so the survivor is deterministic), the rest
    * stream their own text. Computed on the driver over one collected
    * narrow slice (ids < 400 cover the feed plus both lookup ranges); the
    * oracle rebuilds it with two joins, and StreamFeedSpec pins the two
    * forms equal.
    */
  private[graft] def incDocsRows(s: SparkSession, dir: String): Array[(Long, String)] = {
    val slice = docs(s, dir).where(col("doc_id") < 400)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    val byId = slice.toMap
    slice.collect {
      case (id, text) if id < 200 =>
        val t =
          if (id % 7 == 3) byId.get(id + 200).orNull
          else if (id >= 100 && id % 9 == 7) byId.get(id - 100).orNull
          else text
        (id, t)
    }.sortBy(_._1)
  }

  /** Sentinel gap of the timeout-based queries: with their 48 h idle
    * timeout, 14 d gaps guarantee exactly one final per conversation.
    */
  private val TwoWeeksMs = 14L * 24 * 3600 * 1000

  /** Streamed event-time outputs as `timestamp_ntz`, the type the oracle
    * compare reads them as.
    */
  private def ntz(c: String): Column = col(c).cast("timestamp_ntz").as(c)

  private val notSentinel: Column = col("conv_id") =!= Harness.SentinelConv

  /** Sink-row filter for aggregates that do not carry conv_id: drops the
    * windows the sentinels open by event time (the ≥48 h sentinel gap
    * guarantees no real window overlaps a sentinel's).
    */
  private def realWindows(rows: Seq[Turn]): DataFrame => DataFrame = df =>
    rows.lastOption.fold(df) { last =>
      df.where(col("window_start") <= lit(new java.sql.Timestamp(last.ts.getTime)))
    }

  /** The finalized per-conversation CSR rows of a CsrState sink. */
  private def finals(out: DataFrame): DataFrame =
    out.where(col("is_final"))
      .select(col("conv_id"), col("n_turns"), col("n_edges"),
              col("min_idx"), col("max_idx"), col("contiguous"))

  /** The child session a feed's query starts in: state partitions
    * auto-sized from the fed volume ([[StatePartitions]]; minParts = 2
    * keeps cross-partition state handling exercised at negligible commit
    * cost), plus `conf` (e.g. [[StateStores.RocksDbConf]]).
    */
  private def stateSession(s: SparkSession, rows: Seq[Turn],
                           conf: Seq[(String, String)] = Nil): SparkSession =
    Bridge.child(s, ("spark.sql.shuffle.partitions" ->
      StatePartitions.forVolume(rows.length, minParts = 2).toString) +: conf: _*)

  /** `build` over the turn feed plus `nSentinels` sentinel batches
    * ([[Harness.sentinels]]) into an append-mode memory sink; returns the
    * sink table with the sentinels' own rows removed by `drop`. The query
    * runs in [[stateSession]], whose catalog holds the sink's view.
    */
  private def turnStream(s: SparkSession, rows: Seq[Turn], tag: String,
                         nSentinels: Int,
                         gapMs: Long = Harness.DefaultSentinelGapMs,
                         roles: Seq[String] = Seq("user"),
                         drop: DataFrame => DataFrame = _.where(notSentinel),
                         conf: Seq[(String, String)] = Nil)(
      build: DataFrame => DataFrame): DataFrame = {
    val name = s"${tag}_${System.nanoTime()}"
    val c = stateSession(s, rows, conf)
    Harness.run(c, rows, Harness.sentinels(rows, nSentinels, gapMs, roles)) { src =>
      Harness.toMemory(build(src), name)
    }
    drop(Bridge.rebind(c.table(name), s))
  }

  /** [[turnStream]] killed after the first half and restarted from the
    * SAME checkpoint for the second half and the sentinels, into a
    * checkpointed parquet sink. Session/state entries straddling the stop
    * are correct in the output only if the second query re-hydrates the
    * state store from the checkpoint and the file sink stays idempotent
    * on replay — which is exactly what the oracle hash-compare certifies.
    */
  private def turnStreamResumed(s: SparkSession, rows: Seq[Turn], tag: String,
                                nSentinels: Int,
                                gapMs: Long = Harness.DefaultSentinelGapMs)(
      build: DataFrame => DataFrame): DataFrame = {
    val root = Harness.workDir(tag)
    Harness.run(stateSession(s, rows), rows,
                Harness.sentinels(rows, nSentinels, gapMs), restart = true) {
      src => Harness.toParquet(build(src), root)
    }
    s.read.parquet(s"$root/out").where(notSentinel)
  }

  /** The turn feed through [[MaterializedView]]'s update-mode upsert sink,
    * optionally stopped and restarted between the halves; returns the
    * view table.
    */
  private def matView(s: SparkSession, dir: String, tag: String,
                      restart: Boolean): DataFrame = {
    val rows = streamFeed(s, dir)
    val root = Harness.workDir(tag)
    Harness.run(stateSession(s, rows), rows, restart = restart) { src =>
      MaterializedView.start(src, s"$root/view", s"$root/ckpt")
    }
    MaterializedView.readView(s, s"$root/view")
      .select(col("conv_id"), col("n_turns"), col("n_tool_turns"), ntz("last_ts"))
  }

  // Oracles shared by a query and its restart, salted or state-backend
  // variants: the variant must be invisible in the result.
  private val csrOracle = tsql(
    s"""SELECT conv_id, CAST(COUNT(*) AS INTEGER) AS n_turns,
       |       CAST(COUNT(*) - 1 AS INTEGER) AS n_edges,
       |       MIN(turn_idx) AS min_idx, MAX(turn_idx) AS max_idx,
       |       (MAX(turn_idx) - MIN(turn_idx) + 1 = COUNT(*)) AS contiguous
       |FROM turns $streamFeedWhere GROUP BY conv_id""".stripMargin)

  private val runsOracle = tsql(
    s""", isl AS (
       |  SELECT conv_id, turn_idx, tool,
       |         turn_idx - ROW_NUMBER() OVER (PARTITION BY conv_id
       |                                       ORDER BY turn_idx) AS grp
       |  FROM turns $streamFeedWhere AND tool IS NOT NULL)
       |SELECT conv_id, MIN(turn_idx) AS start_idx, MAX(turn_idx) AS end_idx,
       |       CAST(COUNT(*) AS INT) AS run_len,
       |       CAST(COUNT(DISTINCT tool) AS INT) AS n_tools
       |FROM isl GROUP BY conv_id, grp HAVING COUNT(*) >= 2""".stripMargin)

  private val matViewOracle = tsql(
    s"""SELECT conv_id, COUNT(*) AS n_turns,
       |       COUNT(tool) AS n_tool_turns, MAX(ts) AS last_ts
       |FROM turns $streamFeedWhere GROUP BY conv_id""".stripMargin)
}
