package graft.queries

import org.apache.spark.sql.functions._

import Inputs._

/** Multimodal plumbing over the documents table (decode kernels stubbed;
  * see [[graft.mm.Media]]).
  */
object MmQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // f0 = first block mean of the stub decode — pure integer byte
    // arithmetic + one float division, so it IS oracle-exact: float(s)/
    // float(n) and float(double(s)/double(n)) are both the correctly
    // rounded quotient when s, n are small integers
    QueryDef("q_mm_features",
      (s, dir) => graft.mm.Media.features(graft.mm.Media.attach(docs(s, dir)))
        .select(col("media_id"), size(col("feature")).as("dim"),
                element_at(col("feature"), 1).as("f0")),
      // feature extraction over the stub decode IS byte arithmetic: block 0
      // of decodeStub = mean of the first max(1, len/16) payload bytes; the
      // documents text is ASCII (verified: octet_length == length corpus-
      // wide), so ascii(substr(...)) reads the exact byte values, and
      // REAL/REAL division is the correctly rounded float quotient both
      // engines produce for small exact integers
      """SELECT media_id, CAST(16 AS INTEGER) AS dim,
        |       CAST(CAST(s AS REAL) / CAST(blk AS REAL) AS REAL) AS f0
        |FROM (
        |  SELECT media_id, blk,
        |         SUM(ascii(substr(text, CAST(i AS INTEGER), 1))) AS s
        |  FROM (SELECT doc_id AS media_id, text,
        |               GREATEST(octet_length(encode(text)) // 16, 1) AS blk
        |        FROM documents) b,
        |       UNNEST(generate_series(1, CAST(b.blk AS BIGINT))) AS t(i)
        |  GROUP BY 1, 2)""".stripMargin),
    QueryDef("q_mm_frames",
      (s, dir) => graft.mm.Media.sampleFrames(graft.mm.Media.attach(docs(s, dir)))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
             sum(length(col("frame_bytes"))).as("bytes_kept")),
      // frame sampling is integer byte arithmetic over the payload — the
      // plumbing half of the multimodal stack is exactly checkable even
      // though the decode kernel itself is a declared stub
      """SELECT media_id, COUNT(*) AS n_frames,
        |       CAST(SUM(LEAST(256, len - i*256)) AS BIGINT) AS bytes_kept
        |FROM (SELECT doc_id AS media_id, octet_length(encode(text)) AS len,
        |             GREATEST(CAST(CEIL(octet_length(encode(text)) / 256.0) AS INTEGER), 1) AS nf
        |      FROM documents) d,
        |     UNNEST(generate_series(0, CAST(d.nf AS BIGINT) - 1)) AS t(i)
        |WHERE i % 2 = 0
        |GROUP BY 1""".stripMargin)
  )
}
