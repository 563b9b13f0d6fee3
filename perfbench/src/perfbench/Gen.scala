package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp


import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types._

import graft.schema.Turn

/** Seeded input generators. They live with the benchmark, not in the
  * engine, so a change to the program can never change the inputs it is
  * measured on. Every generator is a pure function of its seed; bump
  * [[Version]] whenever any output byte would change, which also
  * invalidates the input cache.
  */
object Gen {
  val Version = 1

  val Stopwords: Array[String] =
    Array("the", "a", "an", "and", "of", "to", "in", "is", "it", "that",
          "for", "on", "with", "as")
  private val Syl: Array[String] =
    for (c <- "bcdfghjklmnprstvwz".toArray; v <- "aeiou".toArray) yield s"$c$v"
  /** 8100 consonant-vowel words; none can equal a stopword. */
  private val Vocab: Array[String] =
    Array.tabulate(Syl.length * Syl.length)(i =>
      Syl(i % Syl.length) + Syl(i / Syl.length))
  val Tools: Array[String] = Array("search", "code", "browse", "sql", "shell", "calc")

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def long(n: Long): Long = r.nextLong(n)
    def double(): Double = r.nextDouble()
    def gauss(): Double = {
      // Box-Muller on the splittable stream (java.util.Random is not used
      // so the sequence is fixed by the seed alone)
      val u1 = math.max(r.nextDouble(), 1e-300)
      val u2 = r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
  }

  private def word(rng: Rng, stopShare: Double): String =
    if (rng.double() < stopShare) Stopwords(rng.int(Stopwords.length))
    else Vocab(rng.int(Vocab.length))

  def sentence(rng: Rng, n: Int, stopShare: Double = 0.25): String =
    Iterator.fill(n)(word(rng, stopShare)).mkString(" ")

  // ------------------------------------------------------------- turns

  val T0Ms: Long = 1709251200000L // 2024-03-01T00:00:00Z
  val DayMs: Long = 86400000L

  /** Conversations with skewed lengths (about 2 % are hot, 80-300 turns),
    * inter-turn gaps that occasionally open a new 30-minute session, and a
    * shared-text share: conversations of one linked group of four pass a
    * text along a chain, so the conversation-overlap graph has components
    * of bounded diameter. Returned sorted by event time.
    */
  def turns(seed: Long, nConvs: Int, prefix: String, startMs: Long,
            spanMs: Long): Array[Turn] = {
    val rng = new Rng(seed)
    val linkedGroups = nConvs / 8
    val out = Array.newBuilder[Turn]
    var c = 0
    while (c < nConvs) {
      val conv = f"$prefix$c%06d"
      val len = if (rng.double() < 0.02) 80 + rng.int(220) else 4 + rng.int(14)
      var ts = startMs + rng.long(spanMs)
      var role = "user"
      val g = c / 4
      val k = c % 4
      var i = 0
      while (i < len) {
        if (i > 0) {
          ts += (if (rng.double() < 0.06) 2400000L + rng.long(3600000L)
                 else 5000L + rng.long(295000L))
          role = role match {
            case "user" => "assistant"
            case "assistant" => if (rng.double() < 0.3) "tool" else "user"
            case _ => "assistant"
          }
        }
        val tool = role match {
          case "tool" => Some(Tools(rng.int(Tools.length)))
          case "assistant" if rng.double() < 0.3 => Some(Tools(rng.int(3)))
          case _ => None
        }
        val linked = g < linkedGroups
        val text =
          if (linked && i == 1 && k < 3) s"shared $prefix $seed $g $k"
          else if (linked && i == 2 && k > 0) s"shared $prefix $seed $g ${k - 1}"
          else sentence(rng, 4 + rng.int(12))
        out += Turn(conv, i, role, text, tool, new Timestamp(ts))
        i += 1
      }
      c += 1
    }
    out.result().sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))
  }

  val TurnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))

  private val TurnParquet = MessageTypeParser.parseMessageType(
    """message turn {
      |  optional binary conv_id (STRING); optional int32 turn_idx;
      |  optional binary role (STRING); optional binary text (STRING);
      |  optional binary tool (STRING); optional int64 ts (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  /** Write `chunks` as exactly one parquet file each, named
    * `<name>-00000.parquet`… in chunk order, with the plain parquet writer
    * (the layout Spark reads as [[TurnSchema]]).
    */
  def writeFiles(chunks: IndexedSeq[Array[Turn]], dir: Path, name: String): Seq[Path] = {
    Files.createDirectories(dir)
    val groups = new SimpleGroupFactory(TurnParquet)
    chunks.zipWithIndex.map { case (ch, i) =>
      val dst = dir.resolve(f"$name-$i%05d.parquet")
      val w = ExampleParquetWriter.builder(new LocalOutputFile(dst))
        .withType(TurnParquet).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try ch.foreach { t =>
        val g = groups.newGroup()
          .append("conv_id", t.conv_id).append("turn_idx", t.turn_idx)
          .append("role", t.role).append("text", t.text)
        t.tool.foreach(g.append("tool", _))
        w.write(g.append("ts", t.ts.getTime * 1000L))
      } finally w.close()
      dst
    }
  }

  private def write[A](schema: String, rows: Array[A], files: Int, dir: Path)
                      (fill: (org.apache.parquet.example.data.Group, A) => Unit): Unit = {
    val t = MessageTypeParser.parseMessageType(schema)
    val groups = new SimpleGroupFactory(t)
    Files.createDirectories(dir)
    chunk(rows, files).zipWithIndex.foreach { case (ch, i) =>
      val w = ExampleParquetWriter.builder(new LocalOutputFile(dir.resolve(f"part-$i%05d.parquet")))
        .withType(t).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try ch.foreach { r => val g = groups.newGroup(); fill(g, r); w.write(g) }
      finally w.close()
    }
  }

  def writeDocs(docs: Array[Doc], files: Int, dir: Path): Unit =
    write("message doc { optional int64 doc_id; optional binary text (STRING); }",
          docs, files, dir) { (g, d) => g.append("doc_id", d.doc_id).append("text", d.text) }

  def writeVecs(vecs: Array[Vec], files: Int, dir: Path): Unit =
    write("""message vec { optional int64 vec_id;
            |  optional group embedding (LIST) { repeated group list { optional float element; } } }"""
            .stripMargin, vecs, files, dir) { (g, v) =>
      g.append("vec_id", v.vec_id)
      val e = g.addGroup("embedding")
      v.embedding.foreach(x => e.addGroup("list").append("element", x))
    }

  /** `n` contiguous slices whose sizes differ by at most one. */
  def chunk[A](xs: Array[A], n: Int): IndexedSeq[Array[A]] =
    (0 until n).map(i => xs.slice((i.toLong * xs.length / n).toInt,
                                  ((i + 1).toLong * xs.length / n).toInt))

  // -------------------------------------------------------------- GFA

  /** The turn graph rendered as GFA 1: one S record per turn, one L record
    * per consecutive-turn edge. Node ids are `<conv_id>:<turn_idx>`.
    */
  def gfa(turns: Array[Turn]): String = {
    val sb = new StringBuilder("H\tVN:Z:1.0\n")
    turns.foreach(t => sb.append(s"S\t${t.conv_id}:${t.turn_idx}\t*\n"))
    turns.groupBy(_.conv_id).toSeq.sortBy(_._1).foreach { case (c, ts) =>
      val idx = ts.map(_.turn_idx).sorted
      idx.sliding(2).filter(_.length == 2).foreach { p =>
        sb.append(s"L\t$c:${p(0)}\t+\t$c:${p(1)}\t+\t0M\n")
      }
    }
    sb.toString
  }

  // ------------------------------------------------------------- corpus

  final case class Doc(doc_id: Long, text: String)

  /** Documents with planted structure, by residue of the index mod 40:
    * 1 = exact duplicate of the previous document up to case and spacing,
    * 3 = near duplicate (previous document plus one appended word),
    * 5 = fails the language gate (no stopwords), 7 = fails the quality
    * gate (four tokens), 9 = carries a boilerplate line shared corpus-wide.
    */
  def docs(seed: Long, n: Int, idBase: Long): Array[Doc] = {
    val rng = new Rng(seed)
    val texts = new Array[String](n)
    def lines(k: Int, stopShare: Double) =
      (0 until k).map(_ => sentence(rng, 10 + rng.int(9), stopShare))
    var i = 0
    while (i < n) {
      texts(i) = (i % 40) match {
        case 1 =>
          val p = texts(i - 1)
          p.head.toUpper.toString + p.tail.replace(" ", "  ")
        case 3 => texts(i - 1) + " " + Vocab(rng.int(Vocab.length))
        case 5 => lines(5 + rng.int(3), 0.0).mkString("\n")
        case 7 => s"the ${Vocab(rng.int(Vocab.length))} of ${Vocab(rng.int(Vocab.length))}"
        case 9 => (lines(4 + rng.int(3), 0.25) :+
                   "the terms of use apply to this page").mkString("\n")
        case _ => lines(5 + rng.int(3), 0.25).mkString("\n")
      }
      i += 1
    }
    Array.tabulate(n)(j => Doc(idBase + j, texts(j)))
  }

  final case class Vec(vec_id: Long, embedding: Array[Float])

  /** Embeddings around 12 planted centres with Zipf-skewed cluster sizes;
    * every 25th vector is an exact copy of the vector before it (the
    * planted semantic duplicates). Random members of one cluster sit near
    * cosine 0.11, far below any dedup threshold used here.
    */
  def embeddings(seed: Long, n: Int, dim: Int, idBase: Long): Array[Vec] = {
    val rng = new Rng(seed)
    val k = 12
    val centres = Array.fill(k) {
      val v = Array.fill(dim)(rng.gauss())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    val w = (0 until k).map(i => 1.0 / (i + 1))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val sigma = math.sqrt(8.0 / dim)
    val out = new Array[Vec](n)
    var j = 0
    while (j < n) {
      out(j) =
        if (j % 25 == 24) Vec(idBase + j, out(j - 1).embedding.clone())
        else {
          val u = rng.double()
          val c = centres(cum.indexWhere(_ >= u) match { case -1 => k - 1; case x => x })
          Vec(idBase + j, Array.tabulate(dim)(d => (c(d) + sigma * rng.gauss()).toFloat))
        }
      j += 1
    }
    out
  }
}
