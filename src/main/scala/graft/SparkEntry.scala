package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._
import graft.queries.TranscriptQueries.qStats

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * Every transcript query operates on the canonical Turn table derived
  * deterministically from `events.parquet` ([[gen.Transcripts]]); the
  * matching oracle SQL reproduces the identical derivation as a DuckDB
  * CTE, so the driver's row/schema/hash compare is exact (integer
  * microseconds for all time math; no cross-engine floating-point drift).
  *
  * Each query is one [[QueryDef]] (name, build function, oracle SQL) in its
  * family's file under `graft.queries`; both maps below derive from that
  * one list.
  */
object SparkEntry {

  val defs: Seq[QueryDef] =
    Seq(TranscriptQueries.defs, StreamQueries.defs, GraphQueries.defs,
        GfaQueries.defs, TextQueries.defs, SimQueries.defs, MmQueries.defs,
        TpchQueries.defs).flatten

  private lazy val queryMap = QueryDef.index(defs)(_.build)
  private lazy val oracleMap = QueryDef.index(defs)(_.oracleSql)

  /** Flagship query: conversation-graph stats (Q1) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    qStats(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = queryMap

  def oracleSql: Map[String, String] = oracleMap
}
