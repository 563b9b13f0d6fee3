package graft.text

import graft.SparkSuite

/** Contracts for C4-style line-level dedup: first-corpus-order
  * occurrence survives, ordered reassembly, fully-duplicated documents
  * collapse to empty text, and the plan shape (first occurrence is a
  * window inside the line-digest shuffle: two shuffles, no join back).
  */
class LineDedupSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (0L, "hdr one\nbody a\nfooter z"),
    (1L, "hdr one\nbody b\nfooter z"),   // hdr + footer are boilerplate
    (2L, "hdr one\nfooter z"),           // loses every line
    (3L, "body a\nfresh line")           // body a seen in doc 0
  ).toDF("doc_id", "text")

  test("first corpus-order occurrence survives; reassembly is ordered") {
    val out = Dedup.lineDedup(docs)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, 3, 3, "hdr one\nbody a\nfooter z"),
      (1L, 3, 1, "body b"),
      (2L, 2, 0, ""),
      (3L, 2, 1, "fresh line")))
  }

  test("within-document repeats dedup too (first line index wins)") {
    val d = Seq((7L, "x\ny\nx\nz")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d)
      .as[(Long, Int, Int, String)].collect()
    assert(out.toSeq == Seq((7L, 4, 3, "x\ny\nz")))
  }

  test("custom delimiter is treated literally, not as regex") {
    val d = Seq((0L, "a||b"), (1L, "a||c")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, delim = "||")
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((0L, 2, 2, "a||b"), (1L, 2, 1, "c")))
  }

  test("plan: first occurrence rides the digest shuffle, no join back") {
    val df = Dedup.lineDedup(docs)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"line dedup must not join back:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2,
      s"one digest and one id shuffle:\n$plan")
  }
}
