package graft.gfa

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Graph/matrix construction parity (builders.py), mirroring
  * tests/test_parser.py:42-50, test_bidirected.py, test_matrix_*.py.
  */
class GfaGraphSpec extends SparkSuite {

  private def basic = gfaLines(
    "S\ts1\tACGT", "S\ts2\tTTTT", "L\ts1\t+\ts2\t-\t0M", "P\tp1\ts1+,s2-\t*")

  test("compute_stats on the 2-node fixture (test_parser.py:42-50)") {
    implicit val s = spark
    val stats = GfaAnalysis.computeStats(basic).head()
    assert(stats === Row(2L, 1L, 1L, 1L, 1L, 0.5))
  }

  test("bidirected: role-split nodes + mirrored edges (test_bidirected.py)") {
    val lines = gfaLines("S\ts1\t4", "S\ts2\t4", "L\ts1\t+\ts2\t-\t0M")
    val opts = GfaOptions(bidirected = true)
    val e = GfaGraph.edges(lines, opts).select("src", "dst")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(e == Set(("s1:+", "s2:-"), ("s2:+", "s1:-")))
    assert(GfaGraph.nodes(lines, opts).count() == 4)
    // --keep-directed-bidir: oriented nodes, no reverse-complement twin
    val kept = GfaGraph.edges(lines,
        GfaOptions(bidirected = true, keepDirectedBidir = true))
      .select("src", "dst").collect().map(r => (r.getString(0), r.getString(1)))
    assert(kept.toSeq == Seq(("s1:+", "s2:-")))
  }

  test("first-seen node index (builders.py:190-198) honors file order") {
    // edge introduces s3 before its S record; s3 gets index at the L line
    val lines = gfaLines(
      "S\ts2\t4", "L\ts2\t+\ts3\t-\t0M", "S\ts1\t4", "S\ts3\t4")
    val idx = GfaGraph.nodeIndex(lines)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idx == Map("s2" -> 0L, "s3" -> 1L, "s1" -> 2L))
  }

  test("matrix: undirected mirroring, asymmetric honored (test_matrix_asym.py)") {
    val lines = gfaLines("S\ts1\t4", "S\ts2\t4", "L\ts1\t+\ts2\t-\t0M")
    // default (undirected): entries mirrored
    val sym = GfaGraph.cooMatrix(lines, GfaOptions())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sym == Set((0L, 1L), (1L, 0L)))
    // directed + asymmetric: single entry survives
    val asym = GfaGraph.cooMatrix(lines,
      GfaOptions(directed = true, asymmetric = true))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(asym == Set((0L, 1L)))
    // directed, not asymmetric: A = max(A, At) → mirrored again
    val maxed = GfaGraph.cooMatrix(lines, GfaOptions(directed = true))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maxed == Set((0L, 1L), (1L, 0L)))
  }

  test("weight tag extraction (builders.py:205-209) + CSR dup-sum (A3)") {
    val lines = gfaLines(
      "S\ts1\t4", "S\ts2\t4",
      "L\ts1\t+\ts2\t-\t0M\tRC:i:3", "L\ts1\t+\ts2\t-\t0M\tRC:i:4")
    val coo = GfaGraph.cooMatrix(lines,
      GfaOptions(directed = true, asymmetric = true, weightTag = Some("RC")))
    // duplicates preserved in COO
    assert(coo.count() == 2)
    val csr = GfaGraph.csrEntries(coo).head()
    assert(csr.getDouble(2) == 7.0) // summed on CSR conversion
  }

  test("orientation strip (P5, builders.py:202-204)") {
    val lines = gfaLines("L\ts1+\ts2-\t0M\tXX:i:1")
    val e = GfaGraph.edges(lines, GfaOptions(stripOrientation = true)).head()
    assert((e.getString(0), e.getString(1)) == ("s1", "s2"))
  }
}
