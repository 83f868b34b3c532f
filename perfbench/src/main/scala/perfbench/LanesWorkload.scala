package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkEntry

object LanesWorkload {
  /** The lane set, one lane per family: Kneser-Ney LM, PQ/ANN, an image
    * codec over DEFLATE (PNG), WARC and the dedup cascade — the modules no
    * flow workload reaches. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "kn" -> Seq("q323"),
    "pq" -> Seq("q266"),
    "codec" -> Seq("q270"),
    "warc" -> Seq("q288"),
    "dedup" -> Seq("q319"))
  val Docs = 400
  val Vecs = 400
  val Dim = 64
  val Words: Array[String] = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row the " +
    "agg key query a scan batch").split(" ")
  val Langs: Array[String] = Array("en", "en", "en", "zh", "de", "fr", "es")
  val Tail = 75.0

  /** Full lane names in set order. */
  lazy val lanes: Seq[(String, String)] = {
    val all = SparkEntry.queries.keySet
    Families.flatMap { case (fam, ids) => ids.map { id =>
      fam -> all.find(_.startsWith(id + "_")).getOrElse(
        throw new IllegalStateException(s"lane $id is not in SparkEntry.queries"))
    } }
  }
}

/** analytics_lanes: a fixed set of SparkEntry lanes over seeded
  * documents/embeddings tables, run sequentially in a closed loop; each
  * lane's result is written as the correctness dump writes it. */
final class LanesWorkload(ctx: Ctx) extends Workload {
  import LanesWorkload._
  private lazy val tables = ctx.dir("lanes-tables")
  private lazy val out = ctx.dir("lanes-out")
  /** The passes of the latest measurement. */
  private var last: Seq[Seq[(String, Double, Double)]] = Nil

  /** Only the tables: the first pass over the lanes is measured cold,
    * as a fresh session meets them. */
  def setup(): Double =
    Stats.median((1 to ctx.setupReps).map(_ => Clock.time(generate())._2)) / 1000

  /** documents and embeddings shaped like the engine's test tables:
    * 31-word vocabulary texts in five languages with some exact and
    * near duplicates; 64-dim label-clustered float vectors. */
  private def generate(): Unit = {
    val r = new SplittableRandom(ctx.args.seed * 257L + 3L)
    val texts = mutable.ArrayBuffer[String]()
    val docs = (0 until Docs).map { i =>
      val u = r.nextDouble()
      val text =
        if (i > 10 && u < 0.004) texts(r.nextInt(texts.size))
        else if (i > 10 && u < 0.03) {
          val w = texts(r.nextInt(texts.size)).split(" ")
          w(r.nextInt(w.length)) = "dup"
          w.mkString(" ")
        } else Seq.fill(8 + r.nextInt(90))(Words(r.nextInt(Words.length - 1))).mkString(" ")
      texts += text
      Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}", text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    val centres = Array.fill(10, Dim)(r.nextGaussian() * 0.05)
    val vecs = (0 until Vecs).map { i =>
      val label = r.nextInt(10)
      Row(i.toLong, centres(label).map(c => (c + r.nextGaussian() * 0.12).toFloat).toSeq, label)
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    write("documents", docs, docSchema)
    write("embeddings", vecs, vecSchema)
  }

  /** One table as a single parquet file `<name>.parquet`, the layout the
    * lanes and tools/check.py read. */
  private def write(name: String, rows: Seq[Row], schema: StructType): Unit = {
    val spark = ctx.spark
    val tmp = s"$tables/$name.tmp"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(tables, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** One lane: plan it and write its result; returns (wall ms, cpu s). */
  private def runLane(name: String): (Double, Double) = {
    val cpu0 = Clock.cpuS
    val (_, ms) = Clock.time(SparkEntry.queries(name)(ctx.spark, tables)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/$name"))
    (ms, Clock.cpuS - cpu0)
  }

  /** Passes over the lane set until `seconds` have gone; returns, per
    * pass, each lane's (family, wall ms, cpu s). */
  private def passes(seconds: Double, rep: Report): Seq[Seq[(String, Double, Double)]] = {
    val end = Clock.ms + seconds * 1000
    val ps = mutable.Buffer[Seq[(String, Double, Double)]]()
    while (ps.isEmpty || Clock.ms < end) {
      ps += lanes.map { case (fam, q) =>
        val (ms, cpu) = try runLane(q) catch {
          case e: Exception => rep.op(false, s"$q: $e"); (Double.NaN, 0.0)
        }
        if (!ms.isNaN) rep.op(true, "")
        (fam, ms, cpu)
      }
    }
    ps.toSeq
  }

  def measure(seconds: Double, rep: Report): Double = {
    val ps = passes(seconds, rep)
    last = ps
    val walls = ps.flatten.map(_._2).filterNot(_.isNaN)
    val passWall = ps.map(_.map(_._2).filterNot(_.isNaN).sum)
    val passCpu = ps.map(_.map(_._3).sum)
    val rows = lanes.map { case (fam, _) => if (fam == "pq") Vecs else Docs }.sum.toDouble
    rep.put("records_per_s", rows / (Stats.median(passWall) / 1000), "1/s")
    rep.put("cpu_s_per_mrec", Stats.median(passCpu) / (rows / 1e6), "s")
    rep.put("freshness_p50_ms", Stats.median(walls), "ms")
    rep.put("freshness_tail_ms", Stats.pct(walls, Tail), "ms")
    rep.put("query_p50_ms", Stats.median(walls), "ms")
    rep.put("query_tail_ms", Stats.pct(walls, Tail), "ms")
    rep.put("upsert_p50_ms", Stats.median(walls), "ms")
    rep.put("upsert_tail_ms", Stats.pct(walls, Tail), "ms")
    rep.put("lanes_wall_s", Stats.median(passWall) / 1000, "s")
    rep.put("lanes_cpu_s", Stats.median(passCpu), "s")
    rep.extra("stamps") = Map("passes" -> ps.size, "docs" -> Docs, "vectors" -> Vecs)
    Stats.median(passWall)
  }

  /** Each lane's last written result goes to the caller's oracle check
    * (SparkEntry.oracleSql through tools/check.py); lanes without an
    * oracle must at least have produced rows. */
  def check(rep: Report): Unit = {
    val names = lanes.map(_._2)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json(oracle))
    val rows = names.map(q => q -> ctx.spark.read.parquet(s"$out/$q").count()).toMap
    names.filterNot(oracle.contains).foreach(q => rep.op(rows(q) > 0, s"$q wrote no rows"))
    rep.put("delivery_ratio", rows.values.count(_ > 0).toDouble / names.size, "ratio")
    rep.extra("lanes_check") = Map("tables" -> tables, "out" -> out, "lanes" -> oracle.keys.toSeq.sorted)
  }

  /** Per-family figures of the latest measurement, or of a new pass. */
  def traced(seconds: Double, rep: Report): Unit = {
    val ps = if (last.nonEmpty) last else passes(seconds, rep)
    Families.foreach { case (fam, _) =>
      val per = ps.map(_.filter(_._1 == fam))
      rep.put(s"lanes.$fam.wall_s", Stats.median(per.map(_.map(_._2).sum)) / 1000, "s")
      rep.put(s"lanes.$fam.cpu_s", Stats.median(per.map(_.map(_._3).sum)), "s")
    }
  }

  def close(): Unit = ()
}
