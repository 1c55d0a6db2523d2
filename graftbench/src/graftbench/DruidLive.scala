package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.DruidQueries
import graft.sources.DruidDeepStorage
import DruidOps._

/** druid_live: narrow reads beside re-ingestion on an HOUR-segmented
  * datasource, so planning (discovery, timeline, statistics), the
  * pushdown readers, the DSv2 writer and vacuum dominate.
  *
  * Set-up writes [[DruidLive.Hours]] HOUR segments of
  * [[DruidLive.InitRows]] rows (direct segment writer). A round of the
  * closed loop is 8 reads, 1 write and 1 vacuum:
  *  - reads rotate window (hourly timeseries over 1-6 h), selective (a
  *    `user` selector over 24 h), pushdown (global aggregate, grouped
  *    aggregate or timeBoundary over a window) and topn_latest (latest
  *    20 rows of a window), twice each;
  *  - a write re-ingests one seeded hour as a new version through
  *    `df.write.format("druid-segments")`: [[DruidLive.WriteRows]]
  *    unsorted rows in one segment, with the high-cardinality `user`;
  *  - vacuum runs `DruidDeepStorage.vacuum` after every write.
  * Every answer is compared with the benchmark's model of the visible
  * timeline (hour -> latest version's rows), and each write and vacuum is
  * read back against it. */
final class DruidLive(ctx: Ctx) extends Workload {
  import DruidLive._
  import ctx.{spark, seed}

  private var root: String = _
  /** Visible rows per hour (latest version) and every published segment. */
  private val visible = mutable.Map[Int, IndexedSeq[Events.Row]]()
  private val segments = mutable.ArrayBuffer[(Int, Int)]() // (hour, version)
  private val current = mutable.Map[Int, Int]()
  private var version = 0

  private def hourStart(h: Int): Long = T0 + h * Hour
  private def versionName(v: Int): String = f"v$v%06d"

  def build(dir: File): Unit = {
    root = new File(dir, "deep").getAbsolutePath
    visible.clear(); segments.clear(); current.clear(); version = 0
    val rows = (0 until Hours).map(h => h -> Events.chunk(seed, 50000L + h, hourStart(h), Hour, InitRows, withUser = true))
    ctx.parallel(Hours) { h =>
      writeSegment(new File(root, s"live/$h/${versionName(0)}/0"), "live", rows(h)._2,
        hourStart(h), hourStart(h + 1), versionName(0), withUser = true)
    }
    rows.foreach { case (h, rs) => visible(h) = rs; segments += ((h, 0)); current(h) = 0 }
  }

  private def source: DataFrame =
    spark.read.format("druid-segments").option("dataSource", "live").load(root)

  private def windowRows(a: Int, b: Int): IndexedSeq[Events.Row] = (a until b).flatMap(visible)

  private def inWindow(df: DataFrame, a: Int, b: Int): DataFrame =
    df.where(col("__time") >= hourStart(a) && col("__time") < hourStart(b))

  private def opRng(i: Int, k: Int): Long = Rng.at(seed, 70000L + i, k)

  private def window(i: Int): (Int, Int) = {
    val w = 1 + Rng.below(opRng(i, 0), 6)
    val a = Rng.below(opRng(i, 1), Hours - w + 1)
    (a, a + w)
  }

  private def liveRow(r: Events.Row): Row =
    Row(r.time, r.eventType, r.country, r.device, r.user, r.tags, r.clicks, r.revenue)

  private def fmt(rows: Seq[Seq[Any]]): Seq[String] = rows.map(_.map(Canon.cell).mkString("|")).sorted

  /** One read op: the query and its expected canonical answer. */
  private def read(i: Int, kind: String): (DataFrame => DataFrame, Seq[String]) = kind match {
    case "window" =>
      val (a, b) = window(i)
      val q = s"""{"queryType":"timeseries","dataSource":"live","granularity":"hour",
                 |"intervals":[${interval(hourStart(a), hourStart(b))}],
                 |"aggregations":[{"type":"count","name":"rows"},
                 |{"type":"longSum","name":"clicks","fieldName":"clicks"}]}""".stripMargin
      val want = windowRows(a, b).groupBy(r => r.time - (r.time - T0) % Hour).toSeq.map {
        case (t, rs) => Seq(t, rs.size.toLong, rs.map(_.clicks).sum)
      }
      (df => DruidQueries.run(inWindow(df, a, b), "__time", q), "__time|rows|clicks" +: fmt(want))
    case "selective" =>
      val a = Rng.below(opRng(i, 1), Hours - 24 + 1)
      val rows = windowRows(a, a + 24)
      val user = rows(Rng.below(opRng(i, 2), rows.size)).user
      val q = s"""{"queryType":"timeseries","dataSource":"live","granularity":"all",
                 |"intervals":[${interval(hourStart(a), hourStart(a + 24))}],
                 |"filter":{"type":"selector","dimension":"user","value":"$user"},
                 |"aggregations":[{"type":"count","name":"rows"},
                 |{"type":"longSum","name":"clicks","fieldName":"clicks"}]}""".stripMargin
      val hit = rows.filter(_.user == user)
      (df => DruidQueries.run(inWindow(df, a, a + 24), "__time", q),
        "rows|clicks" +: fmt(Seq(Seq(hit.size.toLong, hit.map(_.clicks).sum))))
    case "pushdown" =>
      val (a, b) = window(i)
      val rows = windowRows(a, b)
      val (tMin, tMax) = (rows.map(_.time).min, rows.map(_.time).max)
      ((i / Round) * 2 + (i % Round) / 4) % 3 match {
        case 0 =>
          (df => inWindow(df, a, b).agg(count("*").as("n"), min("__time").as("t_first"),
            max("__time").as("t_last")),
            "n|t_first|t_last" +: fmt(Seq(Seq(rows.size.toLong, tMin, tMax))))
        case 1 =>
          val want = rows.groupBy(_.country).toSeq.map { case (c, rs) =>
            Seq(c, rs.size.toLong, rs.map(_.clicks).sum, rs.map(_.time).min, rs.map(_.time).max)
          }
          (df => inWindow(df, a, b).groupBy("country").agg(count("*").as("n"),
            sum("clicks").as("clicks"), min("__time").as("t_first"), max("__time").as("t_last")),
            "country|n|clicks|t_first|t_last" +: fmt(want))
        case _ =>
          (df => DruidQueries.run(inWindow(df, a, b), "__time",
            s"""{"queryType":"timeBoundary","dataSource":"live",
               |"intervals":[${interval(hourStart(a), hourStart(b))}]}""".stripMargin),
            "minTime|maxTime" +: fmt(Seq(Seq(tMin, tMax))))
      }
    case "topn_latest" =>
      val (a, b) = window(i)
      val want = windowRows(a, b).sortBy(-_.time).take(20)
        .map(r => Seq(r.time, r.user, r.country, r.clicks))
      (df => inWindow(df, a, b).select("__time", "user", "country", "clicks")
        .orderBy(col("__time").desc).limit(20),
        "__time|user|country|clicks" +: fmt(want))
  }

  private def write(): Op = {
    version += 1
    val h = Rng.below(Rng.at(seed, 80000L, version), Hours)
    val rows = Events.chunk(seed, 90000L + version, hourStart(h), Hour, WriteRows, withUser = true)
    val input = Events.shuffled(rows, seed, 95000L + version)
    val jrows = java.util.Arrays.asList(input.map(liveRow): _*)
    val (_, ms) = ctx.timed(ctx.tracer.span("sources.write") {
      spark.createDataFrame(jrows, LiveSchema).coalesce(1)
        .write.format("druid-segments").mode("append")
        .option("dataSource", "live").option("segmentGranularity", "HOUR")
        .option("version", versionName(version)).save(root)
    })
    visible(h) = rows
    segments += ((h, version))
    current(h) = version
    readBack(h)
    Op("write", "write", ms, WriteRows)
  }

  /** The hour just written reads back exactly as the model says. */
  private def readBack(h: Int): Unit = {
    val got = source.where(col("__time") >= hourStart(h) && col("__time") < hourStart(h + 1))
      .agg(count("*"), sum("clicks"), sum(crc32(col("user")))).collect()
      .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2)))
    val rs = visible(h)
    val want = Seq(rs.size.toLong, rs.map(_.clicks).sum, rs.map { r =>
      val c = new java.util.zip.CRC32(); c.update(r.user.getBytes("UTF-8")); c.getValue
    }.sum)
    ctx.check(fmt(got.toSeq) == fmt(Seq(want)), s"druid_live read-back of hour $h differs from the model")
  }

  private def vacuum(): Op = {
    val (deleted, ms) = ctx.timed(ctx.tracer.span("sources.vacuum")(DruidDeepStorage.vacuum(spark, root, "live")))
    val dead = segments.filter { case (h, v) => current(h) != v }
    ctx.check(deleted.size == dead.size,
      s"druid_live vacuum deleted ${deleted.size} segments, the model has ${dead.size} overshadowed")
    segments --= dead
    // what discovery sees afterwards is exactly the model's segment set
    val left = DruidDeepStorage.discover(spark, root)
      .map(s => (((s.startMs - T0) / Hour).toInt, s.version)).sorted
    ctx.check(left == segments.map { case (h, v) => (h, versionName(v)) }.sorted,
      "druid_live segments after vacuum differ from the model")
    Op("vacuum", "vacuum", ms, deleted.size)
  }

  def round: Int = Round

  def op(i: Int): Op = i % Round match {
    case 8 => write()
    case 9 => vacuum()
    case slot =>
      val kind = ReadKinds(slot % 4)
      val (q, want) = read(i, kind)
      val ans = query(ctx, q(source))
      val got = ans.canon
      ctx.check(got == want, s"druid_live $kind (op $i) differs from the model: " +
        s"${got.take(3).mkString(" ; ")} vs ${want.take(3).mkString(" ; ")}")
      Op("read", kind, ans.ms, ans.rows.length)
  }

  /** The four reads twice each (in parallel, then in turn), plus a small
    * DSv2 write to a scratch root so the write path is warm too. */
  def warmup(): Unit = {
    ctx.parallel(ReadKinds.size)(k => op(Round * 100000 + k))
    (0 until ReadKinds.size).foreach(k => op(Round * 100001 + k))
    val rows = Events.chunk(seed, 99, hourStart(0), Hour, 500, withUser = true)
    spark.createDataFrame(java.util.Arrays.asList(rows.map(liveRow): _*), LiveSchema).coalesce(1)
      .write.format("druid-segments").mode("append").option("dataSource", "live")
      .option("segmentGranularity", "HOUR").option("version", versionName(0))
      .save(new File(ctx.work, "warm-root").getAbsolutePath)
  }

  override def itemsClass: String = "write"

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val enc = Events.chunk(seed, 999, hourStart(0), Hour, WriteRows, withUser = true)
    val liveRows = visible.values.map(_.size.toLong).sum
    val vac = ops.filter(_.cls == "vacuum")
    DruidOps.sourceLayers(ctx, root, "live", hourStart(0), hourStart(6), enc,
      hourStart(0), hourStart(1), withUser = true, liveRows = liveRows) ++
      DruidOps.querySpans(ctx) ++
      ReadKinds.map(k => s"queries.${k}_p50_ms" -> kindP50(ops, k)) ++
      Map("sources.write_ms" -> Main.median(ops.filter(_.cls == "write").map(_.ms)),
        "sources.vacuum_ms" -> Main.median(vac.map(_.ms)),
        "sources.vacuum_segments" -> (if (vac.isEmpty) 0.0 else vac.map(_.items).sum.toDouble / vac.size))
  }
}

object DruidLive {
  val Hours = 24
  val InitRows = 2500
  val WriteRows = 10000
  val Round = 10
  val ReadKinds: IndexedSeq[String] = IndexedSeq("window", "selective", "pushdown", "topn_latest")

  val LiveSchema: StructType = StructType(Seq(
    StructField("__time", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("country", StringType, nullable = false),
    StructField("device", StringType, nullable = false),
    StructField("user", StringType, nullable = false),
    StructField("tags", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("clicks", LongType, nullable = false),
    StructField("revenue", DoubleType, nullable = false)))
}
