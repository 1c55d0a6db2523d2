package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}

import graft.sources.{DruidDeepStorage, DruidSegmentReader, DruidSegmentWriter => W, VersionedTimeline}

/** Canonical, order-free form of a query answer: column names plus one
  * string per row, sorted. Timestamps compare as epoch ms. */
object Canon {
  def cell(v: Any): String = v match {
    case null => "null"
    case t: java.sql.Timestamp => t.getTime.toString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }
  def apply(columns: Seq[String], rows: Array[Row]): Seq[String] =
    columns.mkString("|") +: rows.map(_.toSeq.map(cell).mkString("|")).toSeq.sorted
}

final case class Answer(columns: Seq[String], rows: Array[Row], ms: Double) {
  def canon: Seq[String] = Canon(columns, rows)
}

/** Druid helpers shared by both Druid workloads: the fixture writer
  * call, the query op with its build/plan/exec spans, and the per-layer
  * probes of the sources layer. */
object DruidOps {
  val Hour: Long = 3600000L
  val Day: Long = 24 * Hour
  val T0: Long = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
  val SizePer = 4096

  def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString
  def interval(lo: Long, hi: Long): String = s""""${iso(lo)}/${iso(hi)}""""

  def eventCols(rows: IndexedSeq[Events.Row], withUser: Boolean): Seq[W.Col] =
    Seq(W.StrDim("event_type", rows.map(_.eventType)),
      W.StrDim("country", rows.map(_.country)),
      W.StrDim("device", rows.map(_.device))) ++
      (if (withUser) Seq(W.StrDim("user", rows.map(_.user))) else Nil) ++
      Seq(W.MvDim("tags", rows.map(_.tags)),
        W.LongMet("clicks", rows.map(_.clicks)),
        W.DoubleMet("revenue", rows.map(_.revenue)))

  /** One direct segment write (`DruidSegmentWriter.write`). */
  def writeSegment(dir: File, dataSource: String, rows: IndexedSeq[Events.Row], lo: Long, hi: Long,
                   version: String, withUser: Boolean): Unit =
    W.write(dir, dataSource, rows.map(_.time), eventCols(rows, withUser), lo, hi,
      version = version, sizePer = SizePer)

  /** Run one query op: build the DataFrame, plan it, collect it. */
  def query(ctx: Ctx, build: => DataFrame): Answer = {
    val tr = ctx.tracer
    var columns: Seq[String] = Nil
    val (rows, ms) = ctx.timed {
      val df = tr.span("queries.build")(build)
      tr.span("queries.plan")(df.queryExecution.executedPlan)
      columns = df.columns.toSeq
      tr.span("queries.exec")(df.collect())
    }
    Answer(columns, rows, ms)
  }

  def indexBytes(root: String): Long = {
    val files = org.apache.commons.io.FileUtils.listFiles(new File(root), Array("zip"), true)
    var total = 0L
    files.forEach(f => total += f.length())
    total
  }

  /** Source-layer probes: discovery, timeline resolution, a decode pass
    * of the visible windows into a noop sink, and one direct encode. */
  def sourceLayers(ctx: Ctx, root: String, dataSource: String, lo: Long, hi: Long,
                   encodeRows: IndexedSeq[Events.Row], encodeLo: Long, encodeHi: Long,
                   withUser: Boolean, liveRows: Long): Map[String, Double] = {
    val tr = ctx.tracer
    val spark = ctx.spark
    val disc = (1 to 3).map(_ => tr.span("sources.discover")(
      DruidDeepStorage.discover(spark, root).filter(_.dataSource == dataSource)))
    val segs = disc.last
    val windows = (1 to 3).map(_ => tr.span("sources.timeline")(VersionedTimeline.resolve(segs, lo, hi))).last
    val all = VersionedTimeline.resolve(segs, Long.MinValue, Long.MaxValue)
    val (_, decodeMs) = ctx.timed(tr.span("sources.decode") {
      DruidSegmentReader.readWindowed(spark,
        all.map(w => (w.segment.path, w.windowStartMs, w.windowEndMs)))
        .write.format("noop").mode("overwrite").save()
    })
    val encDir = new File(ctx.work, s"encode-probe-${System.nanoTime()}")
    val (_, encMs) = ctx.timed(tr.span("sources.encode")(
      writeSegment(encDir, "probe", encodeRows, encodeLo, encodeHi, "v0", withUser)))
    org.apache.commons.io.FileUtils.deleteDirectory(encDir)
    Map(
      "sources.discover_ms" -> Main.median(tr.durationsMs("sources.discover")),
      "sources.timeline_ms" -> Main.median(tr.durationsMs("sources.timeline")),
      "sources.windows_per_query" -> windows.size.toDouble,
      "sources.decode_rows_per_s" -> liveRows / (decodeMs / 1000.0),
      "sources.encode_rows_per_s" -> encodeRows.size / (encMs / 1000.0),
      "sources.segments_total" -> segs.size.toDouble,
      "sources.segments_visible" -> all.size.toDouble,
      "sources.stored_bytes_per_row" -> indexBytes(root).toDouble / liveRows)
  }

  /** Per-op medians of the query spans (only loop ops make them). */
  def querySpans(ctx: Ctx): Map[String, Double] =
    Seq("build", "plan", "exec").map(s => s"queries.${s}_ms" -> ctx.tracer.perOpMs(s"queries.$s")).toMap

  def kindP50(ops: Seq[Op], kind: String): Double = Main.median(ops.filter(_.kind == kind).map(_.ms))
}

