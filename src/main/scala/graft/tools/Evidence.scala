package graft.tools

/** One-command evidence regeneration (the deep-kernel and head-to-head
  * tables of `git show 1978c16:BENCH.md`): runs [[DeepBench]] (frontier
  * vs full-state filter A/B), the graft side of the head-to-head
  * ([[HeadToHead]]) on a reduced-size input, and the reference library
  * itself (python3, in-process import of the reference checkout — the
  * same protocol those tables record) on the IDENTICAL file. Emits one
  * JSON line per experiment (an
  * `{"metric":…,"error":…}` line for an experiment that fails) to
  * stdout and appends them to `GRAFT_EVIDENCE_OUT` (default
  * EVIDENCE.json), so the committed evidence regenerates with:
  *
  *   sbt -batch "runMain graft.tools.Evidence"
  *
  * Knobs: GRAFT_H2H_N (head-to-head segments, default 250000 — the full
  * recorded protocol used 1M; reduced keeps the whole run ~5 min),
  * GRAFT_LAYERS/GRAFT_WIDTH (DeepBench shape), GRAFT_SKIP=deep|h2h|ref
  * (comma-set) to skip parts.
  */
object Evidence {
  def main(args: Array[String]): Unit = {
    val skip = sys.env.getOrElse("GRAFT_SKIP", "").split(",").toSet
    val h2hN = sys.env.getOrElse("GRAFT_H2H_N", "250000").toInt
    val gfa = sys.env.getOrElse("GRAFT_GFA", s"/tmp/bench_big_$h2hN.gfa")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]

    if (!skip("deep")) lines += leg("deep_bfs")(DeepBench.run())
    if (!skip("h2h")) lines += leg("head_to_head")(HeadToHead.run(h2hN))
    if (!skip("ref")) lines += leg("head_to_head_reference")(referenceSide(gfa))

    val out = sys.env.getOrElse("GRAFT_EVIDENCE_OUT", "EVIDENCE.json")
    lines.foreach(println)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      lines.mkString("", "\n", "\n"))
    catch { case e: Throwable =>
      System.err.println(s"[evidence] could not write $out: ${e.getMessage}")
    }
  }

  /** One experiment's line, or its error line when the experiment throws,
    * so a failed leg never costs the other legs' results.
    */
  private def leg(metric: String)(run: => String): String =
    try run catch { case e: Throwable =>
      val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      s"""{"metric":"$metric","error":"${msg.linesIterator.take(1).mkString
        .replace("\\", "/").replace("\"", "'")}"}"""
    }

  /** Time the reference's compute_stats + genome_distance_matrix(min) on
    * `gfa` via python3 (sys.path import — no install step), returning its
    * one-line JSON. The stats dict rides along so output identity against
    * the graft side is checkable in the artifact itself.
    */
  def referenceSide(gfa: String): String = {
    val script =
      """import sys, time, json
        |sys.path.insert(0, '/root/reference')
        |from gfa2network.analysis import compute_stats, genome_distance_matrix
        |p = sys.argv[1]
        |t0 = time.time(); st = compute_stats(p); t1 = time.time()
        |m = genome_distance_matrix(p, 'min'); t2 = time.time()
        |n = getattr(m, 'shape', (len(m),))[0]
        |print(json.dumps({'metric': 'head_to_head_reference', 'file': p,
        |                  'stats_sec': round(t1 - t0, 1),
        |                  'dm_sec': round(t2 - t1, 1), 'dm_n': int(n),
        |                  **{k: (float(v) if k == 'density' else int(v))
        |                     for k, v in st.items()}}))
        |""".stripMargin
    val pb = new ProcessBuilder("python3", "-c", script, gfa)
    pb.redirectErrorStream(false)
    val proc = pb.start()
    // drain stderr CONCURRENTLY: reading stdout to EOF first would
    // deadlock both processes if the child filled the stderr pipe buffer
    // (a python traceback easily exceeds 64 KiB) before closing stdout
    @volatile var err = ""
    val errDrain = new Thread(() =>
      err = new String(proc.getErrorStream.readAllBytes(), "UTF-8"))
    errDrain.setDaemon(true)
    errDrain.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8").trim
    val code = proc.waitFor()
    errDrain.join(10000)
    if (code != 0 || out.isEmpty)
      s"""{"metric":"head_to_head_reference","file":"$gfa","error":"exit $code: ${
        err.linesIterator.toSeq.lastOption.getOrElse("").replace("\"", "'")}"}"""
    else out.linesIterator.toSeq.last
  }
}
