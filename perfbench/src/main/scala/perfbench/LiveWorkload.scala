package perfbench

import java.net.{DatagramPacket, DatagramSocket, InetAddress, InetSocketAddress}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger, StreamingQueryListener, StreamingQueryProgress}

import graft.core.ConfigSpec
import graft.sinks.{FlowSinks, KafkaMiniBroker}
import graft.sources.{NetFlowV9, UdpDatagramSource}
import graft.streaming.NetFlowStream

object LiveWorkload {
  /** Offered load, datagrams per second, open loop (about 21 decodable
    * records a datagram): half the measured saturation rate, at which the
    * median micro-batch reaches the trigger interval (README.md). */
  val Rate = 600.0
  /** Warm traffic before timing; batch durations still fall for a while
    * after it, more slowly the longer it runs. */
  val WarmS = 10.0
  /** Micro-batch cadence, the collector's flush interval. */
  val TriggerMs = 1000L
  /** The collector's plugin config: few output keys, 10 s Kafka bins. */
  val Conf = "aggregate: peer_src_ip, proto, dst_port\nkafka_history: 10s"
  val KeyCols = Seq("bin_start", "peer_src_ip", "proto", "dst_port")
  val Topic = "flows"
  val Partitions = 4
  /** Tail percentiles: per-datagram freshness (thousands of samples a
    * run) and per-batch durations (about seven a run). */
  val FreshTail = 90.0
  val BatchTail = 75.0

  /** Decoded v9/IPFIX fields → the flow columns ConfigSpec names. */
  def project(flows: DataFrame): DataFrame = {
    val f = col("fields")
    flows.select(f(8).as("ip_src"), f(12).as("ip_dst"), f(7).as("port_src"),
      f(11).as("port_dst"), f(4).as("ip_proto"), f(1).as("bytes"),
      f(2).as("packets"), f(6).as("tcp_flags"), (f(152) * 1000L).as("t0u"),
      (f(153) * 1000L).as("t1u"))
  }

  type Key = (Long, Option[Long], Long, Long)

  /** Generator-side totals per (bin, peer, proto, dst_port). */
  def expected(recs: Iterator[FlowGen.Rec]): Map[Key, (Long, Long, Long)] = {
    val m = mutable.HashMap[Key, (Long, Long, Long)]()
    recs.foreach { r =>
      val k = (r.firstMs / 10000 * 10, if (r.ipSrc < 0) None else Some(r.ipSrc % 16),
        r.proto.toLong, r.dport.toLong)
      val (b, p, f) = m.getOrElse(k, (0L, 0L, 0L))
      m(k) = (b + r.bytes, p + r.pkts, f + 1)
    }
    m.toMap
  }

  /** One batch's offsets and timing, from its StreamingQueryProgress. */
  final case class Batch(start: Long, end: Long, endMs: Long, durMs: Double,
                         addMs: Double, planMs: Double, walMs: Double,
                         commitMs: Double, rows: Long, memBytes: Long, rps: Double)

  def batch(p: StreamingQueryProgress): Batch = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
    val src = p.sources.head
    def off(s: String) = if (s == null || s == "null") 0L else s.toLong
    val ops = p.stateOperators
    Batch(off(src.startOffset), off(src.endOffset),
      java.time.Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0.0).toLong,
      d.getOrElse("triggerExecution", 0.0), d.getOrElse("addBatch", 0.0),
      d.getOrElse("queryPlanning", 0.0), d.getOrElse("walCommit", 0.0),
      ops.map(_.commitTimeMs.toDouble).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum, p.processedRowsPerSecond)
  }
}

/** nfacctd_live: UDP datagrams → UdpDatagramSource → NetFlowStream.decode
  * → projection → ConfigSpec aggregation → KafkaMiniSink into an
  * in-process KafkaMiniBroker. The caller's thread is the generator. */
final class LiveWorkload(ctx: Ctx) extends Workload {
  import LiveWorkload._
  private val intervalMs = 1000.0 / Rate
  private var corpus: Array[FlowGen.Dgram] = _
  private var broker: KafkaMiniBroker = _
  private var brokerPort = 0
  private var port = 0
  private var query: StreamingQuery = _
  private var socks: Array[DatagramSocket] = Array.empty
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private var listener: StreamingQueryListener = _
  private var sent = 0
  @volatile private var consumed = 0L
  private var backlogMax = 0L
  /** Per-datagram due time (epoch ms) and lateness of the send (ms). */
  private var dueMs: Array[Double] = _
  private var lateMs: Array[Double] = _

  def setup(): Double = {
    // an untraced run measures one whole run; a traced run measures
    // three phases of at most a quarter run and traces a fourth
    val n = ((WarmS + ctx.args.seconds) * Rate).toInt
    val gen = (1 to ctx.setupReps).map(_ => Clock.time {
      corpus = FlowGen.corpus(ctx.args.seed, n, intervalMs) }._2)
    dueMs = new Array[Double](n); lateMs = new Array[Double](n)
    val (_, startMs) = Clock.time(startStream())
    val (_, warmMs) = Clock.time { send((WarmS * Rate).toInt); query.processAllAvailable() }
    (Stats.median(gen) + startMs + warmMs) / 1000
  }

  private def startStream(): Unit = {
    broker = new KafkaMiniBroker
    brokerPort = broker.start()
    port = { val p = new DatagramSocket(0); try p.getLocalPort finally p.close() }
    val spark = ctx.spark
    import spark.implicits._
    val dgs = spark.readStream.format("graft.sources.UdpDatagramSource")
      .option("port", port.toString).option("numPartitions", ctx.width.toString)
      .load().selectExpr("exporter", "payload").as[NetFlowStream.Datagram]
    val agg = ConfigSpec.run(project(NetFlowStream.decode(dgs).toDF()), Conf)
    val frame = FlowSinks.kafkaFrame(agg, KeyCols)
      .select(col("key"), col("value").cast("binary").as("value"))
    listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress)
        consumed = math.max(consumed, batch(e.progress).end)
      }
    }
    spark.streams.addListener(listener)
    // the sink's streaming write takes appends only; each micro-batch's
    // updated aggregates go through its transactional batch write
    val sink = (df: DataFrame, _: Long) =>
      df.write.format("graft.sinks.KafkaMiniSink").mode("append")
        .option("port", brokerPort.toString).option("topic", Topic)
        .option("partitions", Partitions.toString).option("txnprefix", "perfbench")
        .save()
    query = frame.writeStream.foreachBatch(sink).trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", ctx.dir("live-ckpt"))
      .outputMode("update").start()
    require(UdpDatagramSource.awaitBound(port), "UDP listener did not bind")
    socks = Array.tabulate(FlowGen.Exporters)(k => pinnedSocket(k % ctx.width))
  }

  /** A sending socket whose exporter key ("ip:port", as the source names
    * it) falls in partition `part` both where the source splits a batch
    * (String hash) and where decode groups by exporter (Murmur3, as
    * HashPartitioning does); ephemeral ports are redrawn until it does.
    * With random ports the split of the exporters over the tasks, and so
    * the work per task, could change from run to run. */
  private def pinnedSocket(part: Int): DatagramSocket = {
    val lo = InetAddress.getLoopbackAddress
    Iterator.continually(new DatagramSocket(new InetSocketAddress(lo, 0))).find { s =>
      val key = s"${lo.getHostAddress}:${s.getLocalPort}"
      val murmur = new Murmur3Hash(Seq(Literal(key))).eval().asInstanceOf[Int]
      val ok = math.floorMod(key.hashCode, ctx.width) == part &&
        math.floorMod(murmur, ctx.width) == part
      if (!ok) s.close()
      ok
    }.get
  }

  /** Sends the next `n` datagrams open loop from now: datagram k of the
    * phase is due at start + k × interval whatever the engine does. */
  private def send(n: Int): Unit = {
    val to = new InetSocketAddress(InetAddress.getLoopbackAddress, port)
    val first = sent
    val t0Ns = System.nanoTime()
    val t0Epoch = System.currentTimeMillis().toDouble
    while (sent < first + n) {
      val dueNs = t0Ns + ((sent - first) * intervalMs * 1e6).toLong
      var now = System.nanoTime()
      while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
      val d = corpus(sent)
      socks(d.exporter).send(new DatagramPacket(d.wire, d.wire.length, to))
      dueMs(sent) = t0Epoch + (sent - first) * intervalMs
      lateMs(sent) = (System.nanoTime() - dueNs) / 1e6
      sent += 1
      backlogMax = math.max(backlogMax, sent - consumed)
    }
  }

  private def batches: Seq[Batch] =
    progress.asScala.filter(p => query != null && p.id == query.id && p.sources.nonEmpty)
      .toSeq.sortBy(_.batchId).map(batch)

  /** One open-loop phase of `seconds`; returns the datagram range sent,
    * the batches that carried it, the freshness samples, the CPU and the
    * datagrams sent so far that the source never received. Source offset
    * i is taken to be sent datagram i, so freshness covers only the
    * received prefix: after a loss the later offsets would be matched to
    * the wrong datagrams. */
  private def phase(seconds: Double): (Range, Seq[Batch], Array[Double], Double, Long) = {
    val first = sent
    val cpu0 = Clock.cpuS
    send((seconds * Rate).toInt)
    query.processAllAvailable()
    val cpu = Clock.cpuS - cpu0
    val range = first until sent
    val all = batches
    val received = if (all.isEmpty) 0L else all.map(_.end).max
    val bs = all.filter(b => b.end > range.start && b.start < range.end && b.end > b.start)
    val fresh = range.takeWhile(_ < received).flatMap { i =>
      bs.find(b => b.start <= i && i < b.end).map(_.endMs - dueMs(i))
    }.toArray
    (range, bs, fresh, cpu, sent - received)
  }

  private def records(range: Range): Long =
    range.iterator.map(corpus(_)).filter(d => d.tpl >= 0 && d.tpl != FlowGen.OrphanTemplate)
      .map(_.recs.length.toLong).sum

  def measure(seconds: Double, rep: Report): Double = {
    val (g0, p0) = (Clock.gcS, Clock.processCpuS)
    val (range, bs, fresh, cpu, lost) = phase(seconds)
    val (g1, p1) = (Clock.gcS, Clock.processCpuS)
    rep.op(lost == 0, s"$lost datagrams sent but never received by the source")
    val recs = records(range)
    val spanS = (bs.map(_.endMs).max - dueMs(range.start)) / 1000
    val durs = bs.map(_.durMs)
    bs.foreach(_ => rep.op(true, ""))
    rep.put("records_per_s", recs / spanS, "1/s")
    rep.put("cpu_s_per_mrec", cpu / (recs / 1e6), "s")
    rep.put("freshness_p50_ms", Stats.median(fresh), "ms")
    rep.put("freshness_tail_ms", Stats.pct(fresh, FreshTail), "ms")
    // a batch's commit lag: its oldest datagram's due time to its end.
    // Bare batch durations followed the box's load (ten-seed spreads up
    // to 0.27); they stay in the stamps and in batch.duration_*
    val lags = bs.map(b => b.endMs - dueMs(math.max(b.start, range.start.toLong).toInt))
    rep.put("query_p50_ms", Stats.median(lags), "ms")
    rep.put("query_tail_ms", Stats.pct(lags, BatchTail), "ms")
    rep.put("upsert_p50_ms", Stats.median(lags), "ms")
    rep.put("upsert_tail_ms", Stats.pct(lags, BatchTail), "ms")
    rep.put("lanes_wall_s", Stats.median(lags) / 1000, "s")
    rep.put("lanes_cpu_s", cpu / bs.size, "s")
    rep.extra("stamps") = Map("offered_datagrams_per_s" -> Rate,
      "offered_records_per_s" -> recs / seconds,
      "gen_late_p99_ms" -> Stats.pct(lateMs.slice(range.start, range.end), 99),
      "freshness_samples" -> fresh.length, "batches" -> bs.size,
      "datagrams_lost" -> lost, "batch_ms" -> durs, "commit_lag_ms" -> lags,
      "measure_cpu_s" -> cpu, "measure_process_cpu_s" -> (p1 - p0),
      "measure_gc_s" -> (g1 - g0),
      "freshness_by_third_p50_ms" -> fresh.grouped(math.max(1, (fresh.length + 2) / 3))
        .map(x => Stats.median(x)).toSeq)
    Stats.median(fresh)
  }

  def check(rep: Report): Unit = {
    val json = new ObjectMapper()
    val last = mutable.HashMap[String, com.fasterxml.jackson.databind.JsonNode]()
    broker.partitionEnds.filter(_._1 == Topic).foreach { case (_, p, hw) =>
      KafkaMiniBroker.consume(brokerPort, Topic, p, hw, 1 << 20).foreach { case (_, r) =>
        last(r.key) = json.readTree(r.value) }
    }
    val got: Map[Key, (Long, Long, Long)] = last.values.map { v =>
      val peer = Option(v.get("peer_src_ip")).map(_.asLong)
      (v.get("bin_start").asLong, peer, v.get("proto").asLong, v.get("dst_port").asLong) ->
        (v.get("bytes").asLong, v.get("packets").asLong, v.get("flows").asLong)
    }.toMap
    val exp = expected(FlowGen.decodable(corpus, sent))
    (exp.keySet ++ got.keySet).foreach { k =>
      rep.op(exp.get(k) == got.get(k), s"live key $k: expected ${exp.get(k)} got ${got.get(k)}")
    }
    val sentRecs = exp.values.map(_._3).sum
    val delivered = got.values.map(_._3).sum
    rep.put("delivery_ratio", delivered.toDouble / sentRecs, "ratio")
  }

  def traced(seconds: Double, rep: Report): Unit = {
    decodeDirect(rep)
    val (range, bs, _, _, _) = phase(seconds)
    val durs = bs.map(_.durMs)
    val late = lateMs.slice(range.start, range.end)
    rep.put("udp.datagrams_sent", sent.toDouble, "count")
    rep.put("udp.datagrams_received", consumed.toDouble, "count")
    rep.put("udp.backlog_max", backlogMax.toDouble, "count")
    rep.put("gen.late_tail_ms", Stats.pct(late, 99), "ms")
    rep.put("state.rows_total", bs.last.rows.toDouble, "count")
    rep.put("state.memory_bytes", bs.last.memBytes.toDouble, "bytes")
    rep.put("state.commit_ms", Stats.median(bs.map(_.commitMs)), "ms")
    rep.put("batch.count", bs.size.toDouble, "count")
    rep.put("batch.duration_p50_ms", Stats.median(durs), "ms")
    rep.put("batch.duration_tail_ms", Stats.pct(durs, BatchTail), "ms")
    rep.put("batch.planning_ms", Stats.median(bs.map(_.planMs)), "ms")
    rep.put("batch.add_batch_ms", Stats.median(bs.map(_.addMs)), "ms")
    rep.put("batch.wal_commit_ms", Stats.median(bs.map(_.walMs)), "ms")
    rep.put("batch.processed_rps", Stats.median(bs.map(_.rps)), "1/s")
    val ends = broker.partitionEnds.filter(_._1 == Topic)
    rep.put("kafka.records_produced", ends.map(_._3).sum.toDouble, "count")
    rep.put("kafka.txn_committed", broker.txnStats._1.toDouble, "count")
  }

  /** Single-thread decode of the whole corpus with one template cache
    * per exporter, after one untimed pass to warm the JIT. */
  def decodeDirect(rep: Report): Unit = {
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def pass(): (Array[NetFlowV9.TemplateCache], Long) = {
      val caches = Array.fill(FlowGen.Exporters)(new NetFlowV9.TemplateCache)
      var n = 0L
      corpus.foreach(d => n += caches(d.exporter).observeX(d.wire).size)
      (caches, n)
    }
    pass()
    val tid = Thread.currentThread().getId
    val a0 = threads.getThreadAllocatedBytes(tid)
    val ((caches, n), ms) = Clock.time(pass())
    val alloc = threads.getThreadAllocatedBytes(tid) - a0
    rep.put("nfv9.decode_ns_per_record", ms * 1e6 / n, "ns")
    rep.put("nfv9.alloc_bytes_per_record", alloc.toDouble / n, "bytes")
    rep.put("nfv9.records_decoded", n.toDouble, "count")
    rep.put("nfv9.bad_datagrams", caches.map(_.badDatagrams).sum.toDouble, "count")
    rep.put("nfv9.pending_sets", caches.map(_.pendingSets).sum.toDouble, "count")
    rep.put("nfv9.wire_bytes_per_record", corpus.map(_.wire.length.toLong).sum.toDouble / n, "bytes")
  }

  /** The decode stage alone as a batch job over the corpus: the figure the
    * width-1 comparison repeats. */
  def decodeBatch(): Double = {
    val spark = ctx.spark
    import spark.implicits._
    val ds = corpus.toSeq.map(d => NetFlowStream.Datagram(s"e${d.exporter}", d.wire))
      .toDS().repartition(ctx.width)
    Clock.time(NetFlowStream.decode(ds).write.format("noop").mode("overwrite").save())._2
  }

  def close(): Unit = {
    if (query != null) query.stop()
    if (listener != null) ctx.spark.streams.removeListener(listener)
    socks.foreach(_.close())
    if (broker != null) broker.close()
  }
}
