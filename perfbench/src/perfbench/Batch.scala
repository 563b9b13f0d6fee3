package perfbench

import java.nio.file.Path


/** The two closed-loop batch workloads measured as one: each pass runs the
  * corpus_batch pass over the next unused corpus shard, then the
  * transcript_batch pass over the sink-written table. One JVM start and
  * one set-up serve both, which keeps the whole benchmark inside its time
  * budget; `transcript_batch` and `corpus_batch` stay runnable on their own
  * for per-layer investigation.
  */
object Batch extends Workload {
  val name = "batch"
  val closedLoop = true
  /** Size of the warm-up inputs: every plan compiles, little data flows. */
  val WarmConvs = 150
  val WarmDocs = 300
  val WarmVecs = 200
  def sizeKey(seconds: Double) =
    s"${TranscriptBatch.sizeKey(seconds)}-${CorpusBatch.sizeKey(seconds)}"

  def generate(seed: Long, seconds: Double, dir: Path): Unit = {
    TranscriptBatch.generate(seed, seconds, dir.resolve("transcript"))
    CorpusBatch.generate(seed, seconds, dir.resolve("corpus"))
    TranscriptBatch.generateConvs(seed + 1, WarmConvs, dir.resolve("warm").resolve("transcript"))
    CorpusBatch.generateShard(seed + 1, dir.resolve("warm").resolve("corpus"), 0,
      WarmDocs, WarmVecs)
  }

  def prepare(ctx: Ctx, last: Boolean): Prepared =
    new Run(TranscriptBatch.prepareIn(ctx, ctx.inputs.resolve("transcript")),
            CorpusBatch.prepareIn(ctx, ctx.inputs.resolve("corpus")), ctx)

  final class Run(val t: TranscriptBatch.Run, val c: CorpusBatch.Run, ctx: Ctx) extends Prepared {
    /** The sink and both passes once over the small warm-up inputs. */
    override def warmUp(): Unit = {
      val warm = ctx.inputs.resolve("warm")
      new CorpusBatch.Run(ctx, Seq(warm.resolve("corpus"))).nextPass()
      TranscriptBatch.prepareIn(ctx, warm.resolve("transcript")).pass()
    }

    def run(): Phase = ClosedLoop(ctx) { () =>
      c.nextPass().map { okCorpus =>
        val okTranscript = t.pass()
        (okCorpus && okTranscript, t.turns + CorpusBatch.Docs)
      }
    }
    def check(): Unit = { t.check(); c.check() }
  }

  override def traceExtras(ctx: Ctx, p: Prepared): Map[String, Double] =
    CorpusBatch.traceExtras(ctx, p.asInstanceOf[Run].c)
}
