package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.Graft

/** What one run was asked to do. `work` is a scratch directory the run
  * owns. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String)

/** Shared state of one run: the session (restartable at another width),
  * the heap sampler and, in traced runs, the Spark ledger. */
final class Ctx(val args: Args) {
  val heap = new HeapPeak
  /** Spark width: local[width] and as many shuffle partitions. */
  var width: Int = Main.Width
  var spark: SparkSession = _
  var ledger: Option[Ledger] = None
  /** Seconds spent starting the first session. */
  var sessionS = 0.0
  /** How many times set-up regenerates its fixtures: the untraced run
    * reports the median of three, the traced run needs them once. */
  val setupReps: Int = if (args.trace) 1 else 3

  def start(w: Int): Unit = {
    width = w
    val (s, ms) = Clock.time(Graft.session("perfbench", Some(s"local[$w]"), Some(w)))
    spark = s
    if (sessionS == 0.0) sessionS = ms / 1000
  }
  def restart(w: Int): Unit = {
    ledger.foreach(_.close()); ledger = None
    spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    start(w)
  }
  def trace(): Ledger = ledger.getOrElse {
    val l = new Ledger(spark); ledger = Some(l); l
  }
  def dir(name: String): String = {
    val p = Paths.get(args.work, name)
    Files.createDirectories(p)
    p.toString
  }
}

/** A workload: seeded set-up, an untraced measurement that yields the
  * end-to-end metrics, an output check, and a traced pass that yields
  * its layers' metrics. */
trait Workload {
  /** Builds inputs and state; returns the seconds of set-up it spent. */
  def setup(): Double
  /** Runs for `seconds` with tracing off and puts the end-to-end
    * metrics; returns the workload's primary latency (ms), the figure the
    * tracing overhead is reported on. */
  def measure(seconds: Double, rep: Report): Double
  /** Checks the output against the reference; each compared unit is one
    * operation in `rep`. */
  def check(rep: Report): Unit
  /** The per-layer metrics of this workload's layers. */
  def traced(seconds: Double, rep: Report): Unit
  def close(): Unit
}

object Main {
  /** Spark width. On a shared 4-core box, width 4 left each stage waiting
    * on its slowest task: at width 2 the queries ran as fast, on less CPU,
    * and their run-to-run spread was smaller (README.md). */
  val Width = 2
  val Workloads = Seq("nfacctd_live", "archive_enrich", "imt_mixed", "analytics_lanes")

  def make(name: String, ctx: Ctx): Workload = name match {
    case "nfacctd_live" => new LiveWorkload(ctx)
    case "archive_enrich" => new ArchiveWorkload(ctx)
    case "imt_mixed" => new ImtWorkload(ctx)
    case "analytics_lanes" => new LanesWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("work"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Workloads.contains(args.workload), s"unknown workload ${args.workload}")
    val ctx = new Ctx(args)
    val rep = new Report
    val cpu0 = Clock.processCpuS
    val load0 = Clock.load1
    ctx.start(Width)
    try {
      if (args.trace) Traced.run(ctx, rep) else endToEnd(ctx, rep)
      rep.extra("stamps") = Map(
        "seed" -> args.seed, "workload" -> args.workload,
        "trace" -> args.trace, "width" -> Width,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "load1_start" -> load0, "load1_end" -> Clock.load1,
        "process_cpu_s" -> (Clock.processCpuS - cpu0)) ++
        rep.extra.getOrElse("stamps", Map.empty).asInstanceOf[Map[String, Any]]
      val out = Map(
        "metrics" -> rep.metrics.map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u) },
        "attempted" -> rep.attempted, "failed" -> rep.failed,
        "failures" -> rep.failures.toSeq, "extra" -> rep.extra)
      Files.writeString(Paths.get(args.work, "result.json"), Json(out))
    } finally {
      ctx.spark.stop()
    }
  }

  /** The untraced run: set-up, the measurement and the check. */
  def endToEnd(ctx: Ctx, rep: Report): Unit = {
    val w = make(ctx.args.workload, ctx)
    try {
      val (setupS, setupMs) = Clock.time(w.setup())
      ctx.heap.settle()
      rep.put("setup_s", ctx.sessionS + setupS, "s")
      val (_, measureMs) = Clock.time(w.measure(ctx.args.seconds, rep))
      ctx.heap.settle()
      val (_, checkMs) = Clock.time(w.check(rep))
      rep.extra("phases_s") = Map("session" -> ctx.sessionS, "setup" -> setupMs / 1000,
        "measure" -> measureMs / 1000, "check" -> checkMs / 1000)
      rep.put("mem_peak_mb", ctx.heap.peakMb, "MB")
      rep.put("success_ratio", 1.0 - rep.failed.toDouble / math.max(1L, rep.attempted), "ratio")
    } finally w.close()
  }
}
