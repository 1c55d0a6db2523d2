package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.DruidHll
import graft.queries.DruidQueries
import graft.sources.{DruidSegmentWriter => W}
import DruidOps._

/** druid_scan: whole-interval Druid JSON queries over a few large DAY
  * segments, so segment decode dominates each op.
  *
  * Datasources under one deep-store root, written at set-up with the
  * direct segment writer (the DSv2 writer is the live workload's
  * subject):
  *  - `events`: [[DruidScan.Days]] DAY segments of [[DruidScan.RowsPerDay]]
  *    raw event rows;
  *  - `events_hourly`: the same days rolled up per (hour, country),
  *    each row carrying a dense hyperUnique sketch of its visitors.
  *
  * Op mix (round robin, seeded parameters):
  * hourly timeseries with a broad `in` filter, a 2-dim groupBy with
  * longSum/doubleSum, a topN over the rollup with a Druid-HLL merge and
  * estimate, and a projected scan with a numeric `bound` filter.
  * Expected answers: the same query run by `DruidQueries.run` over the
  * generator's rows as a plain DataFrame. */
final class DruidScan(ctx: Ctx) extends Workload {
  import DruidScan._
  import ctx.{spark, seed}

  private var root: String = _
  private val lo = T0
  private val hi = T0 + Days * Day
  private val kinds = Seq("timeseries", "groupby", "topn_hll", "scan")
  private val pool: IndexedSeq[(String, Int)] = kinds.toIndexedSeq.map(k => (k, Rng.below(Rng.at(seed, 5, k.length), 2)))
  private var expected: Map[(String, Int), Seq[String]] = Map.empty

  private def pick[T](xs: Seq[T], stream: Long, n: Int): Seq[T] =
    xs.indices.sortBy(i => Rng.at(seed, stream, i)).take(n).sorted.map(xs)

  private def json(kind: String, v: Int): String = {
    val iv = interval(lo, hi)
    kind match {
      case "timeseries" =>
        val cs = pick(Events.Countries.toSeq, 10 + v, 30).map(c => s""""$c"""").mkString(",")
        s"""{"queryType":"timeseries","dataSource":"events","granularity":"hour","intervals":[$iv],
           |"filter":{"type":"in","dimension":"country","values":[$cs]},
           |"aggregations":[{"type":"count","name":"rows"},
           |{"type":"longSum","name":"clicks","fieldName":"clicks"},
           |{"type":"doubleSum","name":"revenue","fieldName":"revenue"}]}""".stripMargin
      case "groupby" =>
        val tag = Events.Tags(Rng.below(Rng.at(seed, 20 + v, 0), 6))
        s"""{"queryType":"groupBy","dataSource":"events","granularity":"all","intervals":[$iv],
           |"dimensions":["event_type","device"],
           |"filter":{"type":"not","field":{"type":"selector","dimension":"tags","value":"$tag"}},
           |"aggregations":[{"type":"count","name":"rows"},
           |{"type":"longSum","name":"clicks","fieldName":"clicks"},
           |{"type":"doubleSum","name":"revenue","fieldName":"revenue"}]}""".stripMargin
      case "topn_hll" =>
        val metric = if (v == 0) "rows" else "clicks"
        s"""{"queryType":"topN","dataSource":"events_hourly","granularity":"all","intervals":[$iv],
           |"dimension":"country","metric":"$metric","threshold":10,
           |"aggregations":[{"type":"longSum","name":"rows","fieldName":"rows"},
           |{"type":"longSum","name":"clicks","fieldName":"clicks"}]}""".stripMargin
      case "scan" =>
        val floor = 97 + v
        s"""{"queryType":"scan","dataSource":"events","intervals":[$iv],
           |"columns":["__time","country","device","clicks","revenue"],
           |"filter":{"type":"bound","dimension":"clicks","lower":"$floor","ordering":"numeric"}}""".stripMargin
    }
  }

  /** The query of one pool entry over (raw, hourly) datasources. */
  private def plan(kind: String, v: Int, raw: DataFrame, hourly: DataFrame): DataFrame =
    if (kind != "topn_hll") DruidQueries.run(raw, "__time", json(kind, v))
    else {
      // topN by a rollup metric, then each winner's visitor estimate
      // from a Druid-HLL merge of its hourly sketches
      val top = DruidQueries.run(hourly, "__time", json(kind, v))
      val uniq = hourly.where(col("__time") >= lo && col("__time") < hi)
        .groupBy("country")
        .agg(DruidHll.druid_hll_estimate(DruidHll.druid_hll_merge_agg(col("uniq"))).as("uniq_est"))
      top.join(broadcast(uniq), Seq("country"))
    }

  private def source(ds: String): DataFrame =
    spark.read.format("druid-segments").option("dataSource", ds).load(root)

  def build(dir: File): Unit = {
    root = new File(dir, "deep").getAbsolutePath
    ctx.parallel(Days) { d =>
      val start = lo + d * Day
      val rows = Events.chunk(seed, d, start, Day, RowsPerDay, withUser = false)
      writeSegment(new File(root, s"events/$d/v1/0"), "events", rows, start, start + Day,
        "v1", withUser = false)
      val hourly = hourlyRows(d)
      W.write(new File(root, s"events_hourly/$d/v1/0"), "events_hourly",
        hourly.map(_._1), Seq(W.StrDim("country", hourly.map(_._2)),
          W.LongMet("rows", hourly.map(_._3)), W.LongMet("clicks", hourly.map(_._4)),
          W.ComplexMet("uniq", "hyperUnique", hourly.map(_._5))),
        start, start + Day, version = "v1", sizePer = SizePer)
    }
  }

  /** (hour, country, rows, clicks, sketch) rollup rows of day `d`. */
  private def hourlyRows(d: Int): IndexedSeq[(Long, String, Long, Long, Array[Byte])] =
    for (h <- 0 until 24; (c, ci) <- Events.Countries.zipWithIndex) yield {
      val stream = 100000L + (d * 24 + h) * 64 + ci
      val n = 20 + Rng.skewed(Rng.at(seed, stream, 0), 400, 2.0)
      (lo + d * Day + h * Hour, c, n.toLong, Rng.below(Rng.at(seed, stream, 1), 100 * n).toLong,
        Events.hllSketch(seed, stream, n))
    }

  override def prepareChecks(): Unit = {
    // the generator's rows as plain DataFrames, regenerated per task
    val s = seed
    val rawRdd = spark.sparkContext.range(0L, Days.toLong * RowsPerDay, 1, Days).map { k =>
      val d = (k / RowsPerDay).toInt
      val r = Events.row(s, d, T0 + d * Day, Day, RowsPerDay, (k % RowsPerDay).toInt, withUser = false)
      Row(r.time, r.eventType, r.country, r.device, r.tags, r.clicks, r.revenue)
    }
    val plainRaw = spark.createDataFrame(rawRdd, RawSchema).cache()
    plainRaw.count()
    val hourlyLocal = (0 until Days).flatMap(hourlyRows).map(r => Row(r._1, r._2, r._3, r._4, r._5))
    val plainHourly = spark.createDataFrame(
      spark.sparkContext.parallelize(hourlyLocal, 1), HourlySchema)
    expected = ctx.parallel(pool.size) { i =>
      val (k, v) = pool(i)
      val df = plan(k, v, plainRaw, plainHourly)
      (k, v) -> Canon(df.columns.toSeq, df.collect())
    }.toMap
    plainRaw.unpersist()
  }

  /** The pool three times: in parallel (cold compiles overlap), then
    * twice in turn; with fewer passes the first timed round still runs
    * about 15% slow while the JIT settles. */
  def warmup(): Unit = {
    ctx.parallel(pool.size)(op)
    (0 until 2 * pool.size).foreach(op)
  }

  def round: Int = pool.size

  def op(i: Int): Op = {
    val (kind, v) = pool(i % pool.size)
    val ans = query(ctx, plan(kind, v, source("events"), source("events_hourly")))
    val got = ans.canon
    // warm-up ops run before the expected answers exist
    expected.get((kind, v)).foreach(want => ctx.check(got == want,
      s"druid_scan $kind/$v differs from the plain-DataFrame answer: " +
        s"${got.take(3).mkString(" ; ")} vs ${want.take(3).mkString(" ; ")}"))
    val covered = if (kind == "topn_hll") Days * 24L * Events.Countries.length else Days.toLong * RowsPerDay
    Op("read", kind, ans.ms, covered)
  }

  /** The sources and queries layers of this workload, plus the
    * operators layer: the corpus workloads are left out of the listed set
    * for run time, so one checked dedup pass and one round of hybrid
    * serving run here (see [[CorpusDedup.probe]]). */
  def layers(ops: Seq[Op]): Map[String, Double] = {
    val enc = Events.chunk(seed, 999, lo, Day, RowsPerDay, withUser = false)
    DruidOps.sourceLayers(ctx, root, "events", lo, hi, enc, lo, lo + Day,
      withUser = false, liveRows = Days.toLong * RowsPerDay) ++
      DruidOps.querySpans(ctx) ++
      kinds.map(k => s"queries.${k}_p50_ms" -> kindP50(ops, k)) ++
      CorpusDedup.probe(ctx)
  }
}

object DruidScan {
  val Days = 4
  val RowsPerDay = 100000

  val RawSchema: StructType = StructType(Seq(
    StructField("__time", LongType), StructField("event_type", StringType),
    StructField("country", StringType), StructField("device", StringType),
    StructField("tags", ArrayType(StringType)), StructField("clicks", LongType),
    StructField("revenue", DoubleType)))

  val HourlySchema: StructType = StructType(Seq(
    StructField("__time", LongType), StructField("country", StringType),
    StructField("rows", LongType), StructField("clicks", LongType),
    StructField("uniq", BinaryType)))
}
