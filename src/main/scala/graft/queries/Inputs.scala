package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.Transcripts
import graft.ops.OracleSig
import graft.text.Dedup

/** Inputs and oracle-SQL helpers shared by more than one query family. */
private[queries] object Inputs {

  def T(s: SparkSession, dir: String): DataFrame =
    Transcripts.turns(s, dir)
  def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Deterministic PII-augmented corpus for the redaction queries: the
    * synthetic documents text contains no digits or '@' (verified
    * corpus-wide), so a scrub over it would be VACUOUS under the oracle.
    * Plant PII-shaped tokens derived from doc_id arithmetic instead —
    * integer-exact, so the DuckDB oracle reconstructs the identical
    * augmented text and the expected REDACTED text by construction (no
    * regex on the oracle side): the compare certifies that
    * [[graft.text.Redaction]]'s regex classes find exactly the planted
    * tokens and nothing else. Plants: doc_id%3==0 → an email appended
    * (doubled when %9==0: multi-match-per-doc coverage), %4==1 → an
    * SSN-shaped 3-2-4 digit group appended, %5==2 → a phone-shaped 3-4
    * group PREPENDED (mid-stream position coverage); classes overlap on
    * shared residues (e.g. doc_id 12: email + phone).
    */
  def piiDocs(s: SparkSession, dir: String): DataFrame = {
    def m(n: Long) = pmod(col("doc_id"), lit(n))
    val em = concat(lit("user"), m(100).cast("string"),
                    lit("@mail"), m(7).cast("string"), lit(".com"))
    val sn = concat(lpad(m(1000).cast("string"), 3, "0"), lit("-"),
                    lpad(m(100).cast("string"), 2, "0"), lit("-"),
                    lpad(m(10000).cast("string"), 4, "0"))
    val ph = concat(lpad(pmod(col("doc_id") * 7, lit(1000L)).cast("string"), 3, "0"),
                    lit("-"), lpad(m(10000).cast("string"), 4, "0"))
    docs(s, dir).select(col("doc_id"),
      concat(
        when(m(5) === 2, concat(lit("call "), ph, lit(" "))).otherwise(lit("")),
        col("text"),
        when(m(3) === 0, concat(lit(" reach "), em,
          when(m(9) === 0, concat(lit(" and "), em)).otherwise(lit(""))))
          .otherwise(lit("")),
        when(m(4) === 1, concat(lit(" ssn "), sn)).otherwise(lit("")))
        .as("text"))
  }

  /** The MinHash signature tables — shingle sets (`mh_sh`) and LSH bands
    * (`mh_bands`) — materialized once per (session, sf) by
    * [[OracleSig.materialize]]; the four MinHash queries and their
    * oracles read the same parquet.
    */
  def minhashSigs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val sh = docsSig(s, dir, "mh_sh")(
      Dedup.shingleTable(docs(s, dir), "doc_id", "text", shingleK = 5))
    val bands = docsSig(s, dir, "mh_bands")(
      Dedup.minhashBands(sh, numHashes = 32, bands = 8))
    (sh, bands)
  }

  /** [[OracleSig.materialize]] stamped with the documents corpus's
    * fingerprint (computed only when the table is actually written).
    */
  def docsSig(s: SparkSession, dir: String, table: String)(
      build: => DataFrame): DataFrame =
    OracleSig.materialize(s, dir, table, OracleSig.docsFp(docs(s, dir)))(build)

  /** [[OracleSig.materialize]] stamped with the embeddings' fingerprint. */
  def embSig(s: SparkSession, dir: String, table: String)(
      build: => DataFrame): DataFrame =
    OracleSig.materialize(s, dir, table, OracleSig.embFp(emb(s, dir)))(build)

  /** Oracle SQL over the `turns` CTE that re-derives the Turn table. */
  def tsql(body: String): String = Transcripts.sql(body)

  /** Signature-parquet glob for the post-hash oracles — pinned to the
    * sf0.01 tag the driver's correctness gate runs at
    * ([[OracleSig.VerifySfTag]]); oracle SQL is static, so it cannot key
    * off the runtime sf dir.
    */
  def sigGlob(table: String): String = OracleSig.oracleGlob(table)

  /** Corpus-fingerprint scalars the post-hash oracles filter the
    * multi-tag signature glob by — lockstep with the `corpus_fp` column
    * [[OracleSig.materialize]] stamps at write time, so each oracle picks
    * exactly the rows derived from ITS corpus regardless of which sf the
    * compare runs at.
    */
  val docsFpSql: String = OracleSig.docsFpSql
  val embFpSql: String = OracleSig.embFpSql
}
