package graft.gfa

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Parser parity against golden outputs produced by running the reference
  * (gfa2network.parser.GFAParser) on the same literals — transliterations
  * of tests/test_parser.py plus targeted quirk probes.
  */
class GfaParseSpec extends SparkSuite {

  test("S/L/P basic fixture (test_parser.py:11)") {
    val lines = gfaLines(
      "S\ts1\tACGT", "S\ts2\tTTTT", "L\ts1\t+\ts2\t-\t0M", "P\tp1\ts1+,s2-\t*")
    val segs = GfaParse.segments(lines)
      .select("id", "length", "sequence").orderBy("id").collect()
    assert(segs === Array(Row("s1", null, "ACGT"), Row("s2", null, "TTTT")))
    val links = GfaParse.links(lines)
      .select("from_id", "from_orient", "to_id", "to_orient", "overlap").collect()
    assert(links === Array(Row("s1", "+", "s2", "-", "0M")))
    val paths = GfaParse.paths(lines).select("name", "segments").collect()
    assert(paths.length == 1)
    assert(paths(0).getString(0) == "p1")
    val segsArr = paths(0).getSeq[Row](1)
    assert(segsArr.map(r => (r.getString(0), r.getString(1))) ==
      Seq(("s1", "+"), ("s2", "-")))
  }

  test("S-record length/sequence/tag disambiguation (parser.py:135-157)") {
    // golden: Segment(s1, 4, None), Segment(s2, 4, ACGT),
    //         Segment(sx, 5, None, {AB:3}), Segment(sy, 5, notatag),
    //         Segment(s*, None, '*', {LN:9}), Segment(sn, None, None)
    val lines = gfaLines(
      "S\ts1\t4", "S\ts2\t4\tACGT", "S\tsx\t5\tAB:i:3", "S\tsy\t5\tnotatag",
      "S\tsstar\t*\tLN:i:9", "S\tsn")
    val got = GfaParse.segments(lines).orderBy("lineno")
      .select(col("id"), col("length"), col("sequence"),
              GfaParse.tagDouble(col("tags"), "AB").as("ab"),
              GfaParse.tagDouble(col("tags"), "LN").as("ln"))
      .collect().map(r => (r.getString(0), r.get(1), r.get(2), r.get(3), r.get(4)))
    assert(got(0) === ("s1", 4, null, null, null))
    assert(got(1) === ("s2", 4, "ACGT", null, null))
    assert(got(2) === ("sx", 5, null, 3.0, null))
    assert(got(3) === ("sy", 5, "notatag", null, null))
    assert(got(4) === ("sstar", null, "*", null, 9.0))
    assert(got(5) === ("sn", null, null, null, null))
  }

  test("tag typing incl. B-tag fallback (parser.py:179-204)") {
    val lines = gfaLines("S\ts3\tACGT\tRC:i:5\tXX:f:1.5\tYY:Z:abc\tZZ:B:c,1,2,3\tBAD:x")
    val t = GfaParse.segments(lines).select(
      GfaParse.tagDouble(col("tags"), "RC").as("rc"),
      GfaParse.tagDouble(col("tags"), "XX").as("xx"),
      GfaParse.tagDouble(col("tags"), "YY").as("yy"),
      GfaParse.tagDouble(col("tags"), "ZZ").as("zz"),
      element_at(col("tags"), "ZZ").as("zzRaw"),
      element_at(col("tags"), "BAD").as("bad")).head()
    assert(t.getDouble(0) == 5.0)
    assert(t.getDouble(1) == 1.5)
    assert(t.isNullAt(2))                       // Z tag is not numeric
    assert(t.isNullAt(3))                       // B tag is not numeric
    assert(t.getString(4) == "B:c,1,2,3")       // kept raw as TYPE:VALUE
    assert(t.isNullAt(5))                       // <2 colons → not a tag
  }

  test("link dual syntax + defaults (parser.py:206-227)") {
    // golden: (s1,s2,+,-,0M,{RC:7}), (s3,s4,+,-,None), (s5,s6,+,+,'*',{XX:a})
    val lines = gfaLines(
      "L\ts1+\ts2-\t0M\tRC:i:7", "L\ts3\t+\ts4\t-", "L\ts5+\ts6\t*\tXX:Z:a\tQQ:i:1")
    val got = GfaParse.links(lines).orderBy("lineno")
      .select(col("from_id"), col("from_orient"), col("to_id"), col("to_orient"),
              col("overlap"), GfaParse.tagDouble(col("tags"), "RC").as("rc"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
                           r.getString(3), r.get(4), r.get(5)))
    assert(got(0) === ("s1", "+", "s2", "-", "0M", 7.0))
    assert(got(1) === ("s3", "+", "s4", "-", null, null))
    assert(got(2) === ("s5", "+", "s6", "+", "*", null))
  }

  test("E coordinate-full guard incl. '4$' fallback garbage (parser.py:249-295)") {
    val lines = gfaLines(
      "E\te1\ts1+\t0\t4\ts2-\t0\t4\t4M",
      "E\te2\ts1\t+\ts2\t-",
      "E\te3\ts1+\t0\t4$\ts2-\t0\t4\t4M")
    val got = GfaParse.gfa2Edges(lines).orderBy("lineno")
      .select("from_id", "from_orient", "to_id", "to_orient",
              "from_start", "from_end", "to_start", "to_end")
      .collect()
    assert(got(0) === Row("s1", "+", "s2", "-", 0, 4, 0, 4))
    assert(got(1) === Row("s1", "+", "s2", "-", null, null, null, null))
    // reference yields raw-garbage fallback, faithfully mirrored:
    assert(got(2) === Row("s1+", "0", "4$", "s2-", null, null, null, null))
  }

  test("C coordinate-full and fallback layouts (parser.py:297-341)") {
    val lines = gfaLines(
      "C\tc1\ts1+\t0\t4\ts2-\t0\t4\t4M", "C\ts1\t+\ts2\t-\t5")
    val got = GfaParse.containments(lines).orderBy("lineno")
      .select("from_id", "from_orient", "to_id", "to_orient", "from_start")
      .collect()
    assert(got(0) === Row("s1", "+", "s2", "-", 0))
    assert(got(1) === Row("s1", "+", "s2", "-", null))
  }

  test("O walk counts as path; unknown/malformed side outputs (S6/P13)") {
    val lines = gfaLines(
      "O\tw1\ts1+,s2-", "X\tjunk", "H\tVN:Z:1.0", "L\ttooshort\t+",
      "P\tp\ts1+\t*")
    assert(GfaParse.paths(lines).count() == 2) // O + P
    val unknown = GfaParse.unknownRecords(lines).collect()
    assert(unknown.length == 1)                 // X only; H silently skipped
    assert(GfaParse.malformedRecords(lines).count() == 1) // short L
    assert(GfaParse.links(lines).count() == 0)  // malformed L dropped
  }
}
