package perfbench

/** The traced run: every workload's layers are measured, each on its own
  * inputs, so that one traced run reports every per-layer metric. The
  * run's own workload goes first: its set-up and one measurement run under
  * the ledger (spark.* for that workload), then one measurement without
  * and one with the ledger (tracing overhead), then its layers. Last, the
  * decode stage and one archive query are repeated at width 1 for
  * spark.width1_speedup. Every workload's output is checked as in an
  * untraced run. */
object Traced {
  /** Seconds of the traced phase of the other workloads; three let the
    * IMT writer reach its first compaction. */
  val OtherSeconds = 3.0

  def run(ctx: Ctx, rep: Report): Unit = {
    val me = ctx.args.workload
    // four phases of a quarter run, at most 5 s each: the traced run also
    // sets up and traces the other three workloads, and it must stay
    // within the 180 s one run may take (at 7.5 s phases a traced live
    // run took 143 s)
    val quarter = math.min(ctx.args.seconds / 4, 5.0)
    var live: LiveWorkload = null
    var archive: ArchiveWorkload = null
    (me +: Main.Workloads.filterNot(_ == me)).foreach { name =>
      val w = Main.make(name, ctx)
      try {
        if (name == me) {
          // spark.* covers the workload's set-up and a first traced
          // measurement; the overhead compares a further untraced and
          // traced measurement, both past the first one's cold start
          val scratch = new Report
          val ledger = ctx.trace()
          val a = ledger.snap()
          w.setup()
          w.measure(quarter, scratch)
          rep.putAll(ledger.metrics(a, ledger.snap(), ctx.width))
          ledger.close(); ctx.ledger = None
          val untraced = w.measure(quarter, scratch)
          ctx.trace()
          val traced = w.measure(quarter, scratch)
          rep.put("trace.untraced_ms", untraced, "ms")
          rep.put("trace.traced_ms", traced, "ms")
          rep.put("trace.overhead_ratio", traced / untraced, "ratio")
        } else {
          ctx.trace()
          w.setup()
        }
        w.traced(if (name == me) quarter else OtherSeconds, rep)
        w.check(rep)
      } finally w.close()
      w match {
        case l: LiveWorkload => live = l
        case a: ArchiveWorkload => archive = a
        case _ =>
      }
    }
    def both(): Double = live.decodeBatch() + { val (a, f) = archive.iteration(); a + f }
    val wide = both()
    ctx.restart(1)
    rep.put("spark.width1_speedup", both() / wide, "ratio")
  }
}
