package graftbench

import java.io.File

/** Writes the run's detail next to the work directory:
  * `trace-<workload>-<0|1>.json` with the end-to-end and per-layer
  * metrics, the extra figures, span self times (traced runs) and any
  * failed checks. */
object TraceReport {
  def write(ctx: Ctx, workload: String): Unit = {
    val r = ctx.res
    val selfTimes = ctx.trace.selfTimes.map { case (n, c, tot, self) =>
      Map("span" -> n, "count" -> c, "total_ms" -> tot, "self_ms" -> self) }
    val out = Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "traced" -> ctx.trace.on, "nproc" -> ctx.nproc,
      "attempted" -> r.attempted, "failed" -> r.failed, "correct" -> r.correct,
      "end_to_end" -> r.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> r.layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> r.detail,
      "span_self_times" -> selfTimes,
      "errors" -> r.errors)
    val f = new File(new File(ctx.work).getParentFile,
      s"trace-$workload-${if (ctx.trace.on) 1 else 0}.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(Json.any(out)) finally w.close()
    ctx.log(s"trace written to ${f.getPath}")
  }
}

/** Runs every workload on tiny inputs (traced, so both metric sets are
  * produced), then the negative cases on `bm25`: a perturbed score and a dropped
  * doc must each be reported as failed operations. Exit code 0 = pass. */
object SelfTest {
  def run(work: String): Int = {
    var ok = true
    def expect(cond: Boolean, what: String): Unit = {
      System.err.println(s"[selftest] ${if (cond) "ok  " else "FAIL"} $what")
      ok &&= cond
    }
    Main.Workloads.foreach { w =>
      val r = Main.run(w, 1L, 2.0, traceOn = true, work, Main.Tiny, "")
      expect(r.attempted > 0 && r.failed == 0 && r.correct,
        s"$w: attempted=${r.attempted} failed=${r.failed} correct=${r.correct}")
      expect(r.e2e.keys.toSeq == Main.E2eNames, s"$w: end-to-end metrics ${r.e2e.keys.mkString(",")}")
      expect(Main.LayerNames.forall(r.layer.contains) && r.layer.size == Main.LayerNames.size,
        s"$w: per-layer metrics ${r.layer.keys.mkString(",")}")
      expect(r.e2e.values.forall(v => v._1 > 0 && !v._1.isNaN), s"$w: end-to-end values positive")
    }
    Seq("score", "drop").foreach { f =>
      val r = Main.run("bm25", 1L, 1.0, traceOn = false, work, Main.Tiny, f)
      expect(r.failed > 0, s"fault '$f' reported as failed operations: failed=${r.failed}")
    }
    System.err.println(s"[selftest] ${if (ok) "PASS" else "FAIL"}")
    if (ok) 0 else 1
  }
}
