package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

import graft.sources.NetFlowV9
import graft.sources.NetFlowV9.{Template, V9Header}

/** Zipf(s) ranks 0 until n by inverse CDF: rank 0 is the most frequent. */
final class Zipf(n: Int, s: Double) extends Serializable {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def apply(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** The seeded flow inputs every workload draws from. The engine sees only
  * what is generated here: the NetFlow v9/IPFIX datagram corpus (built
  * with the engine's own encoders), the decoded-flow archive and the v4/v6
  * routing tables. */
object FlowGen {
  val Exporters = 4
  /** Flow clock origin (epoch ms): the same for every seed, so bins align. */
  val BaseMs = 1700000000000L
  val HostZipf = new Zipf(4096, 1.1)
  val Ports: Array[Int] = Array(443, 80, 53, 22, 123, 25, 8080, 3306, 5432, 6379)
  val PortZipf = new Zipf(Ports.length, 1.0)

  /** One generated flow record; `ipSrc < 0` marks a v6 record, whose
    * addresses the numeric decode view does not carry. */
  final case class Rec(ipSrc: Long, ipDst: Long, sport: Int, dport: Int,
                       proto: Int, flags: Int, bytes: Long, pkts: Long,
                       firstMs: Long, lastMs: Long)

  def rec(r: SplittableRandom, tMs: Long, v6: Boolean): Rec = {
    val host = HostZipf(r.nextDouble())
    val proto = { val u = r.nextDouble(); if (u < 0.7) 6 else if (u < 0.95) 17 else 1 }
    val dport = if (r.nextDouble() < 0.9) Ports(PortZipf(r.nextDouble()))
                else 1024 + r.nextInt(64)
    val pkts = 1L + r.nextInt(50)
    Rec(if (v6) -1L else 0x0A000000L + host, 0xC0A80000L + r.nextInt(65536),
      1024 + r.nextInt(64000), dport, proto,
      if (proto == 6) r.nextInt(64) else 0,
      pkts * (40 + r.nextInt(1460)), pkts, tMs, tMs + r.nextInt(5000))
  }

  private val V4Fields = Seq((8, 4), (12, 4), (7, 2), (11, 2), (4, 1),
    (6, 1), (1, 4), (2, 4), (152, 8), (153, 8))
  private val V6Fields = Seq((27, 16), (28, 16)) ++ V4Fields.drop(2)
  /** Template id that is never announced: its sets stay pending. It lies
    * outside the ids the epochs cycle through (256-355). */
  val OrphanTemplate = 400
  val V4PerDatagram = 24
  val V6PerDatagram = 14
  /** Datagrams per exporter between template-id changes; the first two
    * data datagrams of each epoch precede their template. */
  val Epoch = 200

  private def toMap(x: Rec): Map[Int, Long] = Map(8 -> x.ipSrc, 12 -> x.ipDst,
    27 -> x.ipSrc, 28 -> x.ipDst, 7 -> x.sport.toLong, 11 -> x.dport.toLong,
    4 -> x.proto.toLong, 6 -> x.flags.toLong, 1 -> x.bytes, 2 -> x.pkts,
    152 -> x.firstMs, 153 -> x.lastMs)

  /** One datagram of the live corpus. `tpl` is the (exporter, template)
    * its data set needs, or -1; `announces` the templates it carries. */
  final class Dgram(val exporter: Int, val wire: Array[Byte],
                    val recs: Array[Rec], val tpl: Int, val announces: Seq[Int])

  /** The datagram stream, in send order: datagram i comes from exporter
    * i % 4 and its flows start at the flow clock of its due time.
    * Exporters 0 and 1 speak v9, 2 and 3 IPFIX. Every 200th datagram is a
    * runt and every 200th (offset) carries a wrong version; 1% of data
    * sets use a template that is never announced. */
  def corpus(seed: Long, n: Int, intervalMs: Double): Array[Dgram] = {
    val r = new SplittableRandom(seed * 7919L + 17L)
    val perEx = Array.fill(Exporters)(0)
    Array.tabulate(n) { i =>
      val ex = i % Exporters
      val j = perEx(ex); perEx(ex) += 1
      val ipfix = ex >= 2
      val epoch = j / Epoch
      val tV4 = 256 + (epoch % 50) * 2
      val tV6 = tV4 + 1
      val h = V9Header(j.toLong * 10, (BaseMs / 1000) + j / 100, j.toLong, ex.toLong)
      val tMs = BaseMs + (i * intervalMs).toLong
      val k = j % Epoch
      val u = r.nextDouble()
      if (i % 200 == 101) new Dgram(ex, Array[Byte](0, 9, 0), Array.empty, -1, Nil)
      else if (i % 200 == 151) {
        val w = new Array[Byte](24); w(1) = 5
        new Dgram(ex, w, Array.empty, -1, Nil)
      } else if (k == 2 || k == 3) {
        val t = if (k == 2) Template(tV4, V4Fields) else Template(tV6, V6Fields)
        val w = if (ipfix) NetFlowV9.encodeTemplateIpfix(h, t)
                else NetFlowV9.encodeTemplate(h, t)
        new Dgram(ex, w, Array.empty, -1, Seq(t.id))
      } else {
        val v6 = k > 3 && u < 0.2
        val orphan = k > 3 && u > 0.99
        val id = if (orphan) OrphanTemplate else if (v6) tV6 else tV4
        val t = Template(id, if (v6) V6Fields else V4Fields)
        val recs = Array.fill(if (v6) V6PerDatagram else V4PerDatagram)(rec(r, tMs, v6))
        val ms = recs.toSeq.map(toMap)
        val w = if (ipfix) NetFlowV9.encodeDataIpfix(h, t, ms)
                else NetFlowV9.encodeData(h, t, ms)
        new Dgram(ex, w, recs, id, Nil)
      }
    }
  }

  /** The records the first `n` datagrams make decodable: every data set
    * whose template its exporter announced somewhere in that prefix. */
  def decodable(c: Array[Dgram], n: Int): Iterator[Rec] = {
    val known = mutable.Set[(Int, Int)]()
    (0 until n).foreach(i => c(i).announces.foreach(t => known += ((c(i).exporter, t))))
    (0 until n).iterator.filter(i => c(i).tpl >= 0 && known((c(i).exporter, c(i).tpl)))
      .flatMap(i => c(i).recs.iterator)
  }

  // ---- routing tables -------------------------------------------------

  /** v4 prefixes (base, len, value) with a RIB-like length mix, distinct
    * per (base, len); the value is the prefix's index. */
  def ribV4(seed: Long, n: Int): Array[(Long, Int, Long)] = {
    val r = new SplittableRandom(seed * 31L + 4L)
    val seen = mutable.HashSet[(Long, Int)]()
    val out = mutable.ArrayBuffer[(Long, Int, Long)]()
    while (out.size < n) {
      val u = r.nextDouble()
      val len = if (u < 0.6) 24 else if (u < 0.8) 22 + r.nextInt(2)
                else if (u < 0.98) 16 + r.nextInt(6) else 8 + r.nextInt(8)
      val base = (r.nextLong() & 0xffffffffL) >>> (32 - len) << (32 - len)
      if (seen.add((base, len))) out += ((base, len, out.size.toLong))
    }
    out.toArray
  }

  /** v6 prefixes (hi, lo, len, value) under 2000::/3, lengths /29 to /48;
    * values continue after the v4 values. */
  def ribV6(seed: Long, n: Int, firstValue: Long): Array[(Long, Long, Int, Long)] = {
    val r = new SplittableRandom(seed * 37L + 6L)
    val seen = mutable.HashSet[(Long, Int)]()
    val out = mutable.ArrayBuffer[(Long, Long, Int, Long)]()
    while (out.size < n) {
      val u = r.nextDouble()
      val len = if (u < 0.5) 48 else if (u < 0.8) 32 + r.nextInt(16) else 29 + r.nextInt(3)
      val hi = ((0x2L << 60) | (r.nextLong() >>> 4)) >>> (64 - len) << (64 - len)
      if (seen.add((hi, len))) out += ((hi, 0L, len, firstValue + out.size))
    }
    out.toArray
  }

  /** Reference longest-prefix match by linear scan (the check's oracle). */
  def scanV4(rib: Array[(Long, Int, Long)], ip: Long): Option[Long] = {
    var best = -1; var v = 0L; var i = 0
    while (i < rib.length) {
      val (b, l, x) = rib(i)
      if (l > best && ((ip >>> (32 - l)) << (32 - l)) == b) { best = l; v = x }
      i += 1
    }
    if (best < 0) None else Some(v)
  }
  def scanV6(rib: Array[(Long, Long, Int, Long)], hi: Long): Option[Long] = {
    var best = -1; var v = 0L; var i = 0
    while (i < rib.length) {
      val (b, _, l, x) = rib(i)
      if (l > best && ((hi >>> (64 - l)) << (64 - l)) == b) { best = l; v = x }
      i += 1
    }
    if (best < 0) None else Some(v)
  }
}
