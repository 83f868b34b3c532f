package perfbench

import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.core.ImtStore

object ImtWorkload {
  val Keys = Seq("peer", "proto", "dst_port", "bin")
  val Counters = Seq("bytes", "packets", "flows")
  val BatchRows = 500
  /** Writer schedule: one upsert due every second, open loop, above the
    * upsert's service time beside the client. */
  val IntervalMs = 1000.0
  /** The client's pause between queries, as an operator's script has. */
  val ThinkMs = 150L
  val QueryTail = 75.0
  val UpsertTail = 75.0
  val Ports = 200
  val Bins = 4

  type BatchRow = (Long, Long, Long, Long, Long, Long, Long)

  /** Upsert batch `i`: aggregate rows over a bounded key space, so the
    * table saturates while batches keep arriving. */
  def batch(seed: Long, i: Int): Seq[BatchRow] = {
    val r = new SplittableRandom(seed * 131L + i)
    Seq.fill(BatchRows) {
      val pk = 1L + r.nextInt(40)
      (r.nextInt(16).toLong, Seq(6L, 17L, 1L)(r.nextInt(3)),
        FlowGen.Ports(FlowGen.PortZipf(r.nextDouble())).toLong * 100 + r.nextInt(Ports / 10),
        r.nextInt(Bins).toLong * 60, pk * (40 + r.nextInt(1460)), pk, 1L)
    }
  }

  /** The three pmacct client queries: -s top-N, -M exact key, -c group-by. */
  def queries(r: SplittableRandom): Seq[String] = Seq(
    "SELECT peer, proto, dst_port, bin, bytes FROM imt " +
      "ORDER BY bytes DESC, peer, proto, dst_port, bin LIMIT 20",
    s"SELECT * FROM imt WHERE peer = ${r.nextInt(16)} AND proto = 6 " +
      s"AND dst_port = ${FlowGen.Ports(r.nextInt(3)) * 100L} AND bin = 0",
    "SELECT proto, SUM(bytes) AS bytes, SUM(packets) AS packets, " +
      "SUM(flows) AS flows FROM imt GROUP BY proto")
}

/** imt_mixed: an open-loop writer upserting aggregate batches into
  * ImtStore beside a closed-loop client issuing ImtStore.query calls. */
final class ImtWorkload(ctx: Ctx) extends Workload {
  import ImtWorkload._
  private val seed = ctx.args.seed
  private var store: ImtStore = _
  private var upserted = 0
  private var compactions = 0

  private def frame(i: Int): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    batch(seed, i).toDF((Keys ++ Counters): _*)
  }

  def setup(): Double = {
    val gen = (1 to ctx.setupReps).map(_ => Clock.time(batch(seed, 0))._2)
    store = new ImtStore(ctx.spark, "imt", Keys, Counters)
    // one upsert publishes the view; four seconds of the mixed pattern
    // then warm both paths, and the measured window holds the eighth
    // upsert, whose compaction folds the deltas into a new base
    val (_, warmMs) = Clock.time { upsert(); mixed(4.0) }
    (Stats.median(gen) + warmMs) / 1000
  }

  private def upsert(): Unit = {
    val g = store.generations
    store.upsert(frame(upserted))
    if (store.generations <= g) compactions += 1
    upserted += 1
  }

  /** Writer thread at the fixed interval beside the reader loop in the
    * caller's thread. Returns (upsert latencies from due time, query
    * latencies, upserts that failed, queries that failed, cpu s). */
  private def mixed(seconds: Double, onQuery: (String, () => Unit) => Unit = (_, f) => f())
      : (Seq[Double], Seq[Double], Int, Int, Double) = {
    val ups = mutable.Buffer[Double](); val qs = mutable.Buffer[Double]()
    var upFail = 0; var qFail = 0
    val n = (seconds * 1000 / IntervalMs).toInt
    val cpu0 = Clock.cpuS
    val t0 = System.nanoTime()
    val writer = new Thread(() => {
      ctx.spark.sparkContext.setJobGroup("imt-upsert", "upsert")
      (0 until n).foreach { k =>
        val due = t0 + (k * IntervalMs * 1e6).toLong
        while (System.nanoTime() < due) LockSupport.parkNanos(due - System.nanoTime())
        try upsert() catch { case e: Exception => upFail += 1; e.printStackTrace() }
        ups += (System.nanoTime() - due) / 1e6
      }
    }, "perfbench-imt-writer")
    writer.start()
    val r = new SplittableRandom(seed + 1)
    while (writer.isAlive) {
      queries(r).foreach { q =>
        val t = System.nanoTime()
        try onQuery(q, () => store.query(q).collect())
        catch { case e: Exception => qFail += 1; e.printStackTrace() }
        qs += (System.nanoTime() - t) / 1e6
        Thread.sleep(ThinkMs)
      }
    }
    writer.join()
    (ups.toSeq, qs.toSeq, upFail, qFail, Clock.cpuS - cpu0)
  }

  def measure(seconds: Double, rep: Report): Double = {
    val (ups, qs, upFail, qFail, cpu) = mixed(seconds)
    ups.indices.foreach(i => rep.op(i >= upFail, "upsert failed"))
    qs.indices.foreach(i => rep.op(i >= qFail, "query failed"))
    val rows = ups.size.toDouble * BatchRows
    val cycles = qs.size / 3.0
    rep.put("records_per_s", rows / seconds, "1/s")
    rep.put("cpu_s_per_mrec", cpu / (rows / 1e6), "s")
    rep.put("freshness_p50_ms", Stats.median(ups), "ms")
    rep.put("freshness_tail_ms", Stats.pct(ups, UpsertTail), "ms")
    rep.put("query_p50_ms", Stats.median(qs), "ms")
    rep.put("query_tail_ms", Stats.pct(qs, QueryTail), "ms")
    rep.put("upsert_p50_ms", Stats.median(ups), "ms")
    rep.put("upsert_tail_ms", Stats.pct(ups, UpsertTail), "ms")
    rep.put("lanes_wall_s", Stats.median(qs.grouped(3).map(_.sum).toSeq) / 1000, "s")
    rep.put("lanes_cpu_s", cpu / cycles, "s")
    rep.extra("stamps") = Map("upsert_interval_ms" -> IntervalMs,
      "upserts" -> ups.size, "queries" -> qs.size, "batch_rows" -> BatchRows,
      "upsert_ms" -> ups.map(_.round), "query_ms" -> qs.map(_.round))
    Stats.median(qs)
  }

  /** The final table against a fold of every upserted batch. */
  def check(rep: Report): Unit = {
    val fold = mutable.HashMap[(Long, Long, Long, Long), (Long, Long, Long)]()
    (0 until upserted).foreach(i => batch(seed, i).foreach { case (a, b, c, d, x, y, z) =>
      val (x0, y0, z0) = fold.getOrElse((a, b, c, d), (0L, 0L, 0L))
      fold((a, b, c, d)) = (x0 + x, y0 + y, z0 + z)
    })
    val got = store.table.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ->
        (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    (fold.keySet ++ got.keySet).foreach(k =>
      rep.op(fold.get(k) == got.get(k), s"imt key $k: fold ${fold.get(k)} table ${got.get(k)}"))
    rep.put("delivery_ratio", got.values.map(_._3).sum.toDouble / (upserted.toLong * BatchRows), "ratio")
  }

  def traced(seconds: Double, rep: Report): Unit = {
    val ledger = ctx.trace()
    val plan = mutable.Buffer[Double](); val exec = mutable.Buffer[Double]()
    val gens = mutable.Buffer[Int]()
    val before = upserted
    val jobs0 = ledger.jobsIn("imt-upsert")
    mixed(seconds, (q, _) => {
      val df = store.query(q)
      plan += Clock.time(df.queryExecution.executedPlan)._2
      exec += Clock.time(df.collect())._2
      gens += store.generations
    })
    ledger.snap()
    val n = upserted - before
    rep.put("imt.generations", Stats.median(gens.map(_.toDouble)), "count")
    rep.put("imt.cached_bytes", ctx.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble, "bytes")
    rep.put("imt.query_plan_ms", Stats.median(plan), "ms")
    rep.put("imt.query_exec_ms", Stats.median(exec), "ms")
    rep.put("imt.compactions", compactions.toDouble, "count")
    rep.put("imt.upsert_jobs", (ledger.jobsIn("imt-upsert") - jobs0).toDouble / n, "count")
  }

  def close(): Unit = ()
}
