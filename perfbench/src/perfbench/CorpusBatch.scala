package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sim.Ivf
import graft.text.{CorpusFilter, Dedup}

/** Closed loop over seeded corpus shards: exact dedup, MinHash near-dup
  * (shingles → bands → verified pairs), the corpus-filter funnel, line
  * dedup, then IVF training/assignment and the semantic-dedup pair phase.
  * Each pass takes the next unused shard, so the engine's per-session
  * memo of shingled documents never serves a pass from an earlier one; the
  * phase ends at the run's time or when the shards run out.
  */
object CorpusBatch extends Workload {
  val name = "corpus_batch"
  val closedLoop = true
  val Shards = 3
  val Docs = 3000
  val Vecs = 1500
  val Dim = 64
  val NearThreshold = 0.8
  val SemThreshold = 0.99
  val IvfClusters = 16
  def sizeKey(seconds: Double) = s"s$Shards-d$Docs-v$Vecs-m$Dim"

  def generate(seed: Long, seconds: Double, dir: Path): Unit = {
    (0 until Shards).foreach(i =>
      generateShard(seed, dir.resolve(f"shard-$i%02d"), i + 1, Docs, Vecs))
  }

  /** One shard: documents, embeddings and their planted counts. */
  def generateShard(seed: Long, d: Path, i: Int,
                    nDocs: Int, nVecs: Int): Unit = {
    val docs = Gen.docs(seed * 1000 + i, nDocs, i * 1000000L)
    val vecs = Gen.embeddings(seed * 1000 + i, nVecs, Dim, i * 1000000L)
    // a fixed file count per shard, whatever the core count
    Gen.writeDocs(docs, 4, d.resolve("docs"))
    Gen.writeVecs(vecs, 4, d.resolve("emb"))
    Frames.writeProps(d.resolve("expect.properties"), expectations(docs, nVecs))
  }

  private val Stop = Gen.Stopwords.mkString("|")
  private val StopRe = s"\\b($Stop)\\b".r
  private def tokens(t: String) = "\\S+".r.findAllIn(t).length
  private def stops(t: String) = StopRe.findAllIn(t.toLowerCase).length
  private def norm(t: String) = t.toLowerCase.replaceAll("\\s+", " ").trim

  /** Planted counts, recomputed in plain Scala by the operators' contracts. */
  def expectations(docs: Array[Gen.Doc], nVecs: Int): Map[String, Any] = {
    val fps = docs.groupBy(d => norm(d.text))
    val longEnough = docs.filter(d => norm(d.text).split(' ').length >= 5)
    val exactPairs = longEnough.groupBy(d => norm(d.text)).values
      .map(g => g.length.toLong * (g.length - 1) / 2).sum
    val nearPairs = docs.indices.count(i => i % 40 == 3)
    val lang = docs.filter(d => stops(d.text) * 25 >= tokens(d.text))
    val quality = lang.filter { d =>
      val n = tokens(d.text)
      n >= 5 && d.text.length <= n * 20 && stops(d.text) * 50 >= n
    }
    val exact = quality.groupBy(d => norm(d.text)).values.map(_.minBy(_.doc_id)).toSeq
    val alive = exact.map(_.doc_id).toSet
    val nearDrops = docs.indices.count(i => i % 40 == 3 &&
      alive(docs(i).doc_id) && alive(docs(i - 1).doc_id))
    val lines = docs.flatMap(_.text.split("\n", -1))
    Map("docs" -> docs.length, "fp_groups" -> fps.size,
        "dup_groups" -> fps.values.count(_.length > 1),
        "shingled" -> longEnough.length,
        "verified_pairs" -> (exactPairs + nearPairs),
        "stage_lang" -> lang.length, "stage_quality" -> quality.length,
        "stage_exact_dedup" -> exact.length, "stage_near_dedup" -> (exact.length - nearDrops),
        "lines" -> lines.length, "kept_lines" -> lines.distinct.length,
        "vecs" -> nVecs, "sem_dropped" -> nVecs / 25)
  }

  def prepare(ctx: Ctx, last: Boolean): Prepared = prepareIn(ctx, ctx.inputs)

  def prepareIn(ctx: Ctx, inputs: Path): Run =
    new Run(ctx, (0 until Shards).map(i => inputs.resolve(f"shard-$i%02d")))

  final class Run(ctx: Ctx, shards: Seq[Path]) extends Prepared {
    private val spark = ctx.spark
    val results = mutable.ArrayBuffer.empty[(Path, mutable.Map[String, Long])]
    var lastShard: Option[(DataFrame, Long)] = None

    def passOver(shard: Path): Boolean = {
      val got = mutable.Map.empty[String, Long]
      val docs = spark.read.parquet(shard.resolve("docs").toString)
      val emb = spark.read.parquet(shard.resolve("emb").toString)
      def m(layer: String, call: String, df: => DataFrame, extra: org.apache.spark.sql.Column*) =
        ctx.call(layer, call)(Frames.materialize(df, extra: _*))(_.getLong(0))
      def ckpt(layer: String, call: String, df: => DataFrame) =
        ctx.call(layer, call)(df.localCheckpoint(true))(_.count())
      val ok = m("text", "exact", Dedup.exact(docs), sum("n_docs"),
                 count(when(col("n_docs") > 1, 1))).map { r =>
          got("fp_groups") = r.getLong(0); got("dup_groups") = r.getLong(3) }.isDefined &&
        ckpt("text", "shingleTable", Dedup.shingleTable(docs)).flatMap { sh =>
          got("shingled") = sh.count()
          ckpt("text", "minhashBands", Dedup.minhashBands(sh)).flatMap { banded =>
            ckpt("text", "minhashNearDups", Dedup.minhashNearDupsFrom(sh, banded, NearThreshold))
              .flatMap { pairs =>
                val n = pairs.count()
                got("verified_pairs") = n
                lastShard = Some((docs, n))
                ctx.call("text", "funnel")(CorpusFilter.funnel(docs, pairs).collect())(_.length.toLong)
                  .map(_.foreach(r => got(s"stage_${r.getAs[String]("stage")}") = r.getAs[Long]("n_docs")))
              }
          }
        }.isDefined &&
        m("text", "lineDedup", Dedup.lineDedup(docs), sum("n_lines"), sum("kept_lines")).map { r =>
          got("line_docs") = r.getLong(0); got("lines") = r.getLong(2); got("kept_lines") = r.getLong(3)
        }.isDefined &&
        ctx.call("sim", "trainCentroids")(
            Ivf.trainCentroids(emb, nClusters = IvfClusters))(_.count()).flatMap { cents =>
          ckpt("sim", "assign", Ivf.assign(
              emb.select(col("vec_id").as("id"), col("embedding").as("v")), cents)).flatMap { as =>
            got("assigned") = as.count()
            m("text", "semdedup", Dedup.semanticDedupFromAssign(emb, as, SemThreshold),
              count(when(col("dropped"), 1))).map { r =>
              got("sem_rows") = r.getLong(0); got("sem_dropped") = r.getLong(2) }
          }
        }.isDefined
      results += ((shard, got))
      ok
    }

    private val unused = shards.iterator
    /** A pass over the next unused shard; None once every shard was used. */
    def nextPass(): Option[Boolean] = if (unused.hasNext) Some(passOver(unused.next())) else None

    def run(): Phase = ClosedLoop(ctx)(() => nextPass().map(ok => (ok, Docs.toLong)))

    def check(): Unit = {
      val o = ctx.outcome
      results.foreach { case (shard, got) =>
        val want = Frames.readProps(shard.resolve("expect.properties")).map { case (k, v) => k -> v.toLong }
        val s = shard.getFileName.toString
        def eq(k: String, v: Long) = o.checkEq(s"$s.$k", got.getOrElse(k, -1L), v)
        Seq("fp_groups", "dup_groups", "shingled", "verified_pairs", "stage_lang",
            "stage_quality", "stage_exact_dedup", "stage_near_dedup", "lines", "kept_lines", "sem_dropped")
          .foreach(k => eq(k, want(k)))
        eq("stage_total", want("docs"))
        eq("line_docs", want("docs"))
        eq("assigned", want("vecs"))
        eq("sem_rows", want("vecs"))
      }
    }
  }

  override def traceExtras(ctx: Ctx, p: Prepared): Map[String, Double] =
    p.asInstanceOf[Run].lastShard.toSeq.flatMap { case (docs, verified) =>
      val cands = Dedup.minhashCandidates(docs, "doc_id", "text").count()
      ("text.minhash.verified_per_candidate" -> (if (cands > 0) verified.toDouble / cands else 0.0)) +:
        windowProbes(ctx.spark, docs)
    }.toMap

  /** Untimed probe of the two text calls whose plans hold a window over a
    * single-partition exchange (the source of Spark's "No Partition
    * Defined for Window operation" warning): the count of such windows in
    * each call's executed plans.
    */
  def windowProbes(spark: SparkSession, docs: DataFrame): Seq[(String, Double)] = {
    import graft.text.{Curation, Packing}
    Seq(
      "tokenBudgetSelect" -> (() => Curation.tokenBudgetSelect(docs, 2, 5)),
      "packOffsets" -> (() => Packing.packOffsets(docs, 256, 128))
    ).map { case (call, df) =>
      val l = new ExecListener
      spark.sparkContext.addSparkListener(l)
      try {
        Frames.materialize(df())
        // listener events arrive asynchronously
        val deadline = System.nanoTime() + 5e9.toLong
        def settled = l.jobs.asScala.forall(j => !j.end.isNaN &&
          (j.execId < 0 || l.plans.containsKey(j.execId)))
        while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
      } finally spark.sparkContext.removeSparkListener(l)
      val n = l.plans.values.asScala.map(Plans.unpartitionedWindows).sum
      Log.info(s"probe text.$call: $n window(s) over a single-partition exchange")
      s"text.$call.unpartitioned_windows" -> n.toDouble
    }
  }
}
