package graft.gfa

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** GFA record parsing re-expressed as declarative Column transforms — the
  * Spark-native form of the reference's pull-based record parser
  * (reference: parser.py:83-176). Input: a DataFrame with one GFA line per
  * row in column `value` (spark.read.text; .gz decompressed natively — S2).
  *
  * Every parse-rule quirk of the reference is preserved as expression
  * semantics (SURVEY.md §1.2): try-parse disambiguation via `cast` (null on
  * failure = the reference's try/except), tag-shape detection via regex,
  * dual Link syntax, the coordinate-full E/C guard. Everything stays inside
  * whole-stage codegen — no UDFs.
  */
object GfaParse {

  private val BIG = 1000000

  // get() (null on out-of-bounds), NOT getItem: under ANSI mode getItem
  // throws on short rows, and Spark's And gives no elementwise
  // short-circuit guarantee, so nf-guards don't protect the access
  private def f(i: Int) = get(col("fields"), lit(i))

  /** A `lineno` column (from [[GfaGraph.readLines]]) is carried through
    * every parser so first-seen ordering (A1) survives the projection. */
  private def extras(df: DataFrame): Seq[Column] =
    if (df.columns.contains("lineno")) Seq(col("lineno")) else Nil

  /** Tab-split + record-type dispatch (P1/S5; parser.py:117-133). */
  def records(lines: DataFrame): DataFrame =
    lines
      .where(length(col("value")) > 0)
      .select(Seq(
        substring(col("value"), 1, 1).as("rtype"),
        split(regexp_replace(col("value"), "\n$", ""), "\t").as("fields"))
        ++ extras(lines): _*)

  /** Unknown-record side output (S6; parser.py:125-132): H/F silently
    * skipped, anything else unknown; the reference warns once via a mutable
    * flag — here the rows are a countable side output for the metrics layer.
    */
  def unknownRecords(lines: DataFrame): DataFrame =
    records(lines)
      .where(!col("rtype").isin("S", "L", "P", "E", "C", "O", "H", "F"))

  /** Malformed-record side output (P13; parser.py:208-209, 231-232,
    * 251-252, 299-300, 345-346). The reference raises ValueError; the
    * engine routes these to a countable rejects side output instead.
    */
  def malformedRecords(lines: DataFrame): DataFrame = {
    val r = records(lines).withColumn("nf", size(col("fields")))
    r.where(
      (col("rtype") === "L" && col("nf") < 5) ||
      (col("rtype") === "P" && col("nf") < 3) ||
      (col("rtype") === "O" && col("nf") < 3) ||
      (col("rtype") === "E" && col("nf") < 6) ||
      (col("rtype") === "C" && col("nf") < 5))
  }

  // -------------------------------------------------------------- tags

  /** GFA tag list → map tag -> "TYPE:VALUE" (P3; parser.py:179-204).
    * A field is a tag iff it splits into ≥3 parts on ":" (split(":", 2));
    * the type is the single segment between the first two colons. Typed
    * access via [[tagDouble]] keeps the reference's drop-on-parse-fail
    * semantics through null-on-failure casts.
    */
  def tagMap(tagFields: Column): Column =
    graft.functions.GfaFunctions.gfa_tag_map(coalesce(tagFields, array()))

  private def tagTyp(v: Column): Column = substring_index(v, ":", 1)

  /** Everything after the first ':' — the non-regex twin of
    * regexp_replace(v, "^[^:]*:", "") (callers guarantee a colon exists).
    */
  private def tagVal(v: Column): Column =
    v.substr(locate(":", v) + 1, length(v))

  /** `i`/`f` tag → double; other types or unparseable → null
    * (P9 weight extraction; builders.py:205-209). `i` parses through the
    * 64-bit range — the reference's _parse_tags int() is arbitrary
    * precision (parser.py:187-191), so a 32-bit cast would silently drop
    * valid large weights.
    */
  def tagDouble(tags: Column, tag: String): Column = {
    val v = element_at(tags, tag)
    when(tagTyp(v) === "i", tagVal(v).try_cast("bigint").cast("double"))
      .when(tagTyp(v) === "f", tagVal(v).try_cast("double"))
  }

  // -------------------------------------------------------------- records

  /** S records → (id, length, sequence, tags) with the reference's exact
    * field-3/field-4 disambiguation (P2; parser.py:135-157): field 3 is
    * `length` iff int-parseable else the sequence; when field 3 was a
    * length, field 4 is a tag iff it has ≥2 colons with a 2-char tag name
    * and 1-char type, else it is the sequence.
    */
  def segments(lines: DataFrame): DataFrame = {
    val r = records(lines).where(col("rtype") === "S")
      .withColumn("nf", size(col("fields")))
    val third = f(2)
    val fourth = f(3)
    // tag shape "^[^:]{2}:[^:]:" (2-char tag, 1-char type, ≥2 colons) as
    // position arithmetic: first colon at index 3, char 4 non-colon,
    // char 5 colon — the regex engine per S record was measurable at
    // corpus scale (same rewrite class as tagMap above)
    val thirdIsLen = col("nf") > 2 && third.try_cast("int").isNotNull
    val fourthIsTag = col("nf") > 3 &&
      locate(":", fourth) === 3 && substring(fourth, 4, 1) =!= ":" &&
      substring(fourth, 5, 1) === ":"
    r.select(Seq(
      f(1).as("id"),
      when(thirdIsLen, third.try_cast("int")).as("length"),
      when(thirdIsLen,
           when(col("nf") > 3 && !fourthIsTag, fourth))
        .when(col("nf") > 2, third)
        .as("sequence"),
      tagMap(
        when(thirdIsLen && col("nf") > 3 && !fourthIsTag,
             slice(col("fields"), 5, BIG))
          .otherwise(slice(col("fields"), 4, BIG))).as("tags"))
      ++ extras(lines): _*)
  }

  /** L records → oriented edge, both GFA1 syntaxes (P4; parser.py:206-227):
    * explicit orientation fields (`L u + v - ovl tags…`) or ids suffixed
    * with +/- (`L u+ v- [ovl] tags…`, default "+").
    */
  def links(lines: DataFrame): DataFrame = {
    // nf < 5 raises in the reference (parser.py:208) regardless of syntax
    // — permissive mode drops those rows here; they surface via
    // malformedRecords.
    val r = records(lines).where(col("rtype") === "L")
      .withColumn("nf", size(col("fields")))
      .where(col("nf") >= 5)
    val explicitOri = f(2).isin("+", "-")
    // rtrim-with-charset == the regex "[+-]+$" strip, minus the regex
    def strip(c: Column) = rtrim(c, "+-")
    def suffixOri(c: Column) =
      when(substring(c, -1, 1).isin("+", "-"), substring(c, -1, 1))
        .otherwise(lit("+"))
    r.select(Seq(
      when(explicitOri, f(1)).otherwise(strip(f(1))).as("from_id"),
      when(explicitOri, f(2)).otherwise(suffixOri(f(1))).as("from_orient"),
      when(explicitOri, f(3)).otherwise(strip(f(2))).as("to_id"),
      when(explicitOri, f(4)).otherwise(suffixOri(f(2))).as("to_orient"),
      when(explicitOri, when(col("nf") > 5, f(5)))
        .otherwise(when(col("nf") > 3, f(3))).as("overlap"),
      tagMap(when(explicitOri, slice(col("fields"), 7, BIG))
               .otherwise(slice(col("fields"), 5, BIG))).as("tags"))
      ++ extras(lines): _*)
  }

  private def coordFull(r: DataFrame): Column =
    col("nf") >= 9 &&
      f(3).try_cast("int").isNotNull && f(4).try_cast("int").isNotNull &&
      f(6).try_cast("int").isNotNull && f(7).try_cast("int").isNotNull

  private def strip(c: Column) = regexp_replace(c, "[+-]+$", "")
  private def endOri(c: Column): Column =
    when(substring(c, -1, 1) === "-", lit("-")).otherwise(lit("+"))

  /** E (GFA2 edge) records (parser.py:249-295): coordinate-full iff ≥9
    * fields and fields 3,4,6,7 all int-parseable (endpoints at fields 2 and
    * 5, orientation embedded); else the orientation-only fallback layout
    * (u=f2, ori=f3, v=f4, ori=f5).
    */
  def gfa2Edges(lines: DataFrame): DataFrame = {
    val r = records(lines).where(col("rtype") === "E")
      .withColumn("nf", size(col("fields")))
      .where(col("nf") >= 6)
    val full = coordFull(r)
    r.select(Seq(
      when(full, strip(f(2))).otherwise(f(2)).as("from_id"),
      when(full, endOri(f(2))).otherwise(f(3)).as("from_orient"),
      when(full, strip(f(5))).otherwise(f(4)).as("to_id"),
      when(full, endOri(f(5))).otherwise(f(5)).as("to_orient"),
      when(full, f(3).try_cast("int")).as("from_start"),
      when(full, f(4).try_cast("int")).as("from_end"),
      when(full, f(6).try_cast("int")).as("to_start"),
      when(full, f(7).try_cast("int")).as("to_end"),
      when(full, f(8)).as("cigar"),
      tagMap(when(full, slice(col("fields"), 10, BIG))
               .otherwise(slice(col("fields"), 7, BIG))).as("tags"))
      ++ extras(lines): _*)
  }

  /** C (containment) records (parser.py:297-341) — same coordinate-full
    * guard as E; fallback layout (u=f1, ori=f2, v=f3, ori=f4).
    */
  def containments(lines: DataFrame): DataFrame = {
    val r = records(lines).where(col("rtype") === "C")
      .withColumn("nf", size(col("fields")))
      .where(col("nf") >= 5)
    val full = coordFull(r)
    r.select(Seq(
      when(full, strip(f(2))).otherwise(f(1)).as("from_id"),
      when(full, endOri(f(2))).otherwise(f(2)).as("from_orient"),
      when(full, strip(f(5))).otherwise(f(3)).as("to_id"),
      when(full, endOri(f(5))).otherwise(f(4)).as("to_orient"),
      when(full, f(3).try_cast("int")).as("from_start"),
      when(full, f(4).try_cast("int")).as("from_end"),
      when(full, f(6).try_cast("int")).as("to_start"),
      when(full, f(7).try_cast("int")).as("to_end"),
      when(full, f(8)).as("cigar"),
      tagMap(when(full, slice(col("fields"), 10, BIG))
               .otherwise(slice(col("fields"), 6, BIG))).as("tags"))
      ++ extras(lines): _*)
  }

  /** P (path) / O (GFA2 ordered walk) records → ordered oriented segment
    * arrays (P10/G4; parser.py:234-248, 342-361). Both are comma-separated;
    * a +/- suffix is stripped into the orientation (default "+").
    */
  def paths(lines: DataFrame): DataFrame = {
    val r = records(lines).where(col("rtype").isin("P", "O"))
      .where(size(col("fields")) >= 3)
    r.select(Seq(
      f(1).as("name"),
      col("rtype"),
      transform(split(f(2), ","), e =>
        struct(
          when(substring(e, -1, 1).isin("+", "-"),
               substring(e, lit(1), length(e) - 1))
            .otherwise(e).as("seg"),
          when(substring(e, -1, 1).isin("+", "-"), substring(e, -1, 1))
            .otherwise(lit("+")).as("ori"))).as("segments"))
      ++ extras(lines): _*)
  }

  /** Ordered path membership rows: (name, pos, seg, ori) via posexplode (G4). */
  def pathMembers(lines: DataFrame): DataFrame =
    paths(lines)
      .select(col("name"), posexplode(col("segments")).as(Seq("pos", "entry")))
      .select(col("name"), col("pos"),
              col("entry.seg").as("seg"), col("entry.ori").as("ori"))
}
