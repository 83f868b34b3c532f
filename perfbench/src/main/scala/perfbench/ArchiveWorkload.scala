package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{AggregatePlanner, ConfigSpec}
import graft.plans.Lpm
import graft.sinks.FlowSinks

object ArchiveWorkload {
  val Records = 100000
  val V4Routes = 48000
  val V6Routes = 7000
  val V6Share = 0.25
  /** Share of destinations drawn inside a routed prefix. */
  val RoutedShare = 0.92
  val Minutes = 10
  /** Enrich with a destination net, tag by a multi-rule pre_tag_map, drop
    * DNS and tiny flows, aggregate finely into 1-minute bins. */
  val Conf: String =
    """aggregate: dst_net, dst_port, proto, tag
      |print_history: 1m
      |aggregate_filter: not (udp and dst port 53) and bytes > 100
      |pre_tag_map: set_tag=1 filter='tcp and dst port 443'; set_tag=2 filter='tcp and dst port 80'; set_tag=3 ip=7; set_tag=4 filter='udp'; set_tag=5 filter='bytes > 20000'
      |""".stripMargin
  val KeyCols = Seq("bin_start", "dst_net", "dst_port", "proto", "tag")
  /** Tail percentile of the queries (about twelve a run). */
  val Tail = 75.0

  val Schema: StructType = StructType(Seq(
    StructField("rec_id", LongType, false), StructField("af", IntegerType, false),
    StructField("ip_src", LongType, false), StructField("ip_dst", LongType, true),
    StructField("dst6_hi", LongType, true), StructField("dst6_lo", LongType, true),
    StructField("port_src", LongType, false), StructField("port_dst", LongType, false),
    StructField("ip_proto", LongType, false), StructField("bytes", LongType, false),
    StructField("packets", LongType, false), StructField("tcp_flags", LongType, false),
    StructField("t0u", LongType, false), StructField("t1u", LongType, false)))
}

/** archive_enrich: one batch query over a decoded flow archive — LPM
  * enrichment against RIB-sized v4/v6 tables, pre_tag_map and an
  * aggregate_filter, a fine aggregate, then both Kafka frames written. */
final class ArchiveWorkload(ctx: Ctx) extends Workload {
  import ArchiveWorkload._
  private val seed = ctx.args.seed
  var rib4: Array[(Long, Int, Long)] = _
  var rib6: Array[(Long, Long, Int, Long)] = _
  var t4: Lpm.Table = _
  var t6: Lpm.Table6 = _
  var tableBuildMs = 0.0
  private var setupParts = Map.empty[String, Any]
  private lazy val path = ctx.dir("archive") + "/flows.parquet"
  private lazy val out = ctx.dir("archive-out")

  def archive: DataFrame = ctx.spark.read.parquet(path)
  def netCol: Column = coalesce(Lpm.lpm(col("ip_dst"), t4),
    Lpm.lpm6(col("dst6_hi"), col("dst6_lo"), t6))
  def fields: Map[String, Column] = ConfigSpec.defaultFields + ("dst_net" -> netCol)

  /** The routing tables are generated and built three times (their
    * median counts); the archive is written once. */
  def setup(): Double = {
    val build = (1 to ctx.setupReps).map(_ => Clock.time {
      rib4 = FlowGen.ribV4(seed, V4Routes)
      rib6 = FlowGen.ribV6(seed, V6Routes, V4Routes)
      t4 = new Lpm.Table(32, rib4.toSeq)
      t6 = new Lpm.Table6(rib6.toSeq)
    }._2)
    tableBuildMs = Stats.median(build)
    val (_, writeMs) = Clock.time(writeArchive())
    val (_, guardMs) = Clock.time(guard())
    val (warm, warmMs) = Clock.time(Seq(iteration(), iteration()))
    setupParts = Map("table_build_ms" -> tableBuildMs, "write_ms" -> writeMs,
      "guard_ms" -> guardMs, "warm_ms" -> warm)
    (tableBuildMs + writeMs + guardMs + warmMs) / 1000
  }

  /** The archive parquet: v4/v6 flows whose destinations fall mostly in
    * the generated prefixes, Zipf-skewed over them. */
  private def writeArchive(): Unit = {
    val (r4, r6, sd, parts) = (rib4.map(x => (x._1, x._2)), rib6.map(x => (x._1, x._3)), seed, ctx.width)
    val rows = ctx.spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      val r = new SplittableRandom(sd * 1000003L + p)
      val z4 = new Zipf(r4.length, 1.05)
      val z6 = new Zipf(r6.length, 1.05)
      val n = Records / parts
      (0 until n).iterator.map { k =>
        val id = p.toLong * n + k
        val x = FlowGen.rec(r, 0L, v6 = false)
        val v6 = r.nextDouble() < V6Share
        val routed = r.nextDouble() < RoutedShare
        val t0 = (FlowGen.BaseMs + r.nextInt(Minutes * 60000)) * 1000L
        val (dst, hi, lo): (Any, Any, Any) =
          if (!v6) {
            val ip = if (!routed) r.nextLong() & 0xffffffffL else {
              val (b, l) = r4(z4(r.nextDouble()))
              b | ((r.nextLong() & 0xffffffffL) >>> l)
            }
            (ip, null, null)
          } else {
            val h = if (!routed) r.nextLong() else {
              val (b, l) = r6(z6(r.nextDouble()))
              b | (r.nextLong() >>> l)
            }
            (null, h, r.nextLong())
          }
        Row(id, if (v6) 6 else 4, x.ipSrc, dst, hi, lo, x.sport.toLong, x.dport.toLong,
          x.proto.toLong, x.bytes, x.pkts, x.flags.toLong, t0, t0 + (x.lastMs - x.firstMs) * 1000L)
      }
    }
    ctx.spark.createDataFrame(rows, Schema).write.mode("overwrite").parquet(path)
  }

  /** The aggregate and its two frames, as the iteration runs them. */
  def aggregate: DataFrame = ConfigSpec.run(archive, Conf, fields)

  /** Pruning guard: each layer must still be in the executed plans — the
    * LPM lookups, the pre_tag CASE, the aggregate and both framings.
    * Catalyst drops work whose result is unused, and a layer that drops
    * out must fail the run rather than read as a speed-up. */
  def guard(): Unit = {
    val agg = aggregate
    val found = Seq(agg, FlowSinks.kafkaFrame(agg, KeyCols), FlowSinks.kafkaAvroFrame(agg, KeyCols))
      .flatMap(df => Plans.names(df))
    Seq("lpm_lookup", "lpm_lookup6", "casewhen", "HashAggregate", "StructsToJsonEvaluator",
      "MapPartitions").foreach(l => require(found.contains(l),
        s"archive_enrich executed plan lost its layer '$l' (has ${found.toSeq.sorted}); " +
          "the workload no longer exercises it"))
  }

  /** One archive query: aggregate (cached), then both frames written.
    * Returns (aggregate ms, frames ms). */
  def iteration(): (Double, Double) = {
    val agg = aggregate.persist()
    try {
      val (_, aggMs) = Clock.time(agg.count())
      val (_, frameMs) = Clock.time {
        FlowSinks.kafkaFrame(agg, KeyCols).write.mode("overwrite").parquet(out + "/json")
        FlowSinks.kafkaAvroFrame(agg, KeyCols).write.mode("overwrite").parquet(out + "/avro")
      }
      (aggMs, frameMs)
    } finally agg.unpersist(blocking = true)
  }

  def measure(seconds: Double, rep: Report): Double = {
    val its = collection.mutable.Buffer[(Double, Double)]()
    val cpu0 = Clock.cpuS
    val (g0, p0) = (Clock.gcS, Clock.processCpuS)
    val end = Clock.ms + seconds * 1000
    while (its.isEmpty || Clock.ms < end) {
      its += iteration()
      rep.op(true, "")
    }
    val cpu = Clock.cpuS - cpu0
    val (g1, p1) = (Clock.gcS, Clock.processCpuS)
    val walls = its.map { case (a, f) => a + f }
    rep.put("records_per_s", Records / (Stats.median(walls) / 1000), "1/s")
    rep.put("cpu_s_per_mrec", cpu / its.size / (Records / 1e6), "s")
    rep.put("freshness_p50_ms", Stats.median(walls), "ms")
    rep.put("freshness_tail_ms", Stats.pct(walls, Tail), "ms")
    rep.put("query_p50_ms", Stats.median(its.map(_._1)), "ms")
    rep.put("query_tail_ms", Stats.pct(its.map(_._1), Tail), "ms")
    rep.put("upsert_p50_ms", Stats.median(its.map(_._2)), "ms")
    rep.put("upsert_tail_ms", Stats.pct(its.map(_._2), Tail), "ms")
    rep.put("lanes_wall_s", Stats.median(walls) / 1000, "s")
    rep.put("lanes_cpu_s", cpu / its.size, "s")
    rep.extra("stamps") = Map("iterations" -> its.size, "records" -> Records,
      "setup_parts" -> setupParts,
      "measure_cpu_s" -> cpu, "measure_process_cpu_s" -> (p1 - p0),
      "measure_gc_s" -> (g1 - g0),
      "iteration_ms" -> its.map { case (a, f) => Seq(a, f) })
    Stats.median(walls)
  }

  /** The written frames and the routing tables go to the caller's DuckDB
    * check (totals of the JSON frame per full key, per bin and per tag
    * against the archive, with the LPM redone in SQL); here the Avro
    * frame's row count and a sample of enrichments against a linear-scan
    * LPM are checked. */
  def check(rep: Report): Unit = {
    val spark = ctx.spark
    val jsonRows = spark.read.parquet(out + "/json").count()
    val avroRows = spark.read.parquet(out + "/avro").count()
    rep.op(avroRows == jsonRows, s"avro frame rows $avroRows != json frame rows $jsonRows")
    // every v6 prefix is at most /48, so its low word is 0 and omitted
    val ribs = ctx.dir("archive-rib")
    def csv(name: String, rows: Seq[String]): String = {
      val f = Paths.get(ribs, name)
      Files.writeString(f, ("base,len,val" +: rows).mkString("\n"))
      f.toString
    }
    rep.extra("archive_check") = Map("parquet" -> path, "json" -> (out + "/json"),
      "rib4" -> csv("rib4.csv", rib4.toSeq.map { case (b, l, v) => s"$b,$l,$v" }),
      "rib6" -> csv("rib6.csv", rib6.toSeq.map { case (h, _, l, v) => s"$h,$l,$v" }))
    val sample = archive.where(col("rec_id") % 1999 === 11)
      .select(col("rec_id"), col("ip_dst"), col("dst6_hi"), netCol.as("net")).collect()
    sample.foreach { r =>
      val want = if (!r.isNullAt(1)) FlowGen.scanV4(rib4, r.getLong(1))
                 else FlowGen.scanV6(rib6, r.getLong(2))
      val got = if (r.isNullAt(3)) None else Some(r.getLong(3))
      rep.op(want == got, s"lpm rec ${r.getLong(0)}: linear scan $want, engine $got")
    }
  }

  def traced(seconds: Double, rep: Report): Unit = {
    rep.put("lpm.table_build_ms", tableBuildMs, "ms")
    lookupsDirect(rep)
    val plan = ConfigSpec.parse(Conf, fields)
    val (_, parseMs) = Clock.time(ConfigSpec.run(archive, Conf, fields).queryExecution.executedPlan)
    rep.put("config.parse_plan_ms", parseMs, "ms")
    val tag = plan.keys.toMap.apply("tag")
    val a = archive
    val enriched = a.withColumn("dst_net", netCol)
    val tagged = enriched.filter(plan.filter.get).withColumn("tag", tag)
    val agg = AggregatePlanner.plan(a, plan)
    val steps = Seq(a, enriched, tagged, agg,
      FlowSinks.kafkaFrame(agg, KeyCols), FlowSinks.kafkaAvroFrame(agg, KeyCols))
    // each prefix runs to a no-op sink; rounds interleave the steps so
    // that drift in the machine's load hits all of them alike
    val ledger = ctx.trace()
    val times = Array.fill(steps.size)(Double.MaxValue)
    var aggShuffle = 0L
    (1 to 2).foreach { _ =>
      steps.zipWithIndex.foreach { case (df, i) =>
        val s0 = ledger.snap()
        val (_, ms) = Clock.time(df.write.format("noop").mode("overwrite").save())
        if (i == 3) aggShuffle = (ledger.snap() - s0).shuffleWrite
        times(i) = math.min(times(i), ms)
      }
    }
    val Array(scan, enrich, tagMs, aggMs, json, avro) = times
    rep.put("lpm.stage_ms", enrich - scan, "ms")
    rep.put("pretag.stage_ms", tagMs - enrich, "ms")
    rep.put("agg.stage_ms", aggMs - tagMs, "ms")
    rep.put("sink.json.stage_ms", json - aggMs, "ms")
    rep.put("sink.avro.stage_ms", avro - aggMs, "ms")
    rep.put("agg.shuffle_write_bytes", aggShuffle.toDouble, "bytes")

    val c = a.select(plan.filter.get.as("pass"), tag.as("tag"))
      .agg(count(lit(1)), sum(col("pass").cast("long")),
        sum((col("pass") && col("tag") =!= 0).cast("long"))).head()
    val (total, passed, tagged0) = (c.getLong(0), c.getLong(1), c.getLong(2))
    val keys = agg.count()
    rep.put("bpf.selectivity", passed.toDouble / total, "ratio")
    rep.put("pretag.match_ratio", tagged0.toDouble / passed, "ratio")
    rep.put("agg.records_in", passed.toDouble, "count")
    rep.put("agg.keys_out", keys.toDouble, "count")
    rep.put("agg.reduction_ratio", passed.toDouble / keys, "ratio")
    def bytesPerRow(df: DataFrame) =
      df.agg(avg(length(col("value")))).head().getDouble(0)
    rep.put("sink.json.bytes_per_row", bytesPerRow(FlowSinks.kafkaFrame(agg, KeyCols)), "bytes")
    rep.put("sink.avro.bytes_per_row", bytesPerRow(FlowSinks.kafkaAvroFrame(agg, KeyCols)), "bytes")
  }

  /** Direct single-thread Table.lookup / Table6.lookup over the archive's
    * own destination addresses, after one untimed warm pass. */
  def lookupsDirect(rep: Report): Unit = {
    val rows = archive.select("ip_dst", "dst6_hi", "dst6_lo").limit(400000).collect()
    val v4 = rows.filter(!_.isNullAt(0)).map(_.getLong(0))
    val v6 = rows.filter(_.isNullAt(0)).map(r => (r.getLong(1), r.getLong(2)))
    def run4(): Long = v4.count(ip => t4.lookup(ip) != Long.MinValue).toLong
    def run6(): Long = v6.count { case (h, l) => t6.lookup(h, l) != Long.MinValue }.toLong
    run4(); run6()
    val (h4, ms4) = Clock.time(run4())
    val (h6, ms6) = Clock.time(run6())
    rep.put("lpm.v4_ns_per_lookup", ms4 * 1e6 / v4.length, "ns")
    rep.put("lpm.v6_ns_per_lookup", ms6 * 1e6 / v6.length, "ns")
    rep.put("lpm.hit_ratio", (h4 + h6).toDouble / rows.length, "ratio")
  }

  def close(): Unit = ()
}
