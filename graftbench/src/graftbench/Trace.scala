package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. Spans wrap the
  * benchmark's own calls into graft's public API (one layer boundary
  * each); spans of one operation share its op id. A disabled tracer
  * runs the body and records nothing. Single client thread. */
final class Tracer(var enabled: Boolean) {
  import Tracer.Span

  val spans = mutable.ArrayBuffer[Span]()
  private val counts = mutable.LinkedHashMap[String, Double]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
        stack = stack.tail
      }
    }

  /** A count recorded at a layer boundary (summed across the run). */
  def count(name: String, v: Double): Unit =
    if (enabled) counts(name) = counts.getOrElse(name, 0.0) + v

  def counted(name: String): Double = counts.getOrElse(name, 0.0)

  def durationsMs(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  /** Median over ops of the summed duration of `name` spans in each op. */
  def perOpMs(name: String): Double =
    Main.median(spans.filter(_.name == name).groupBy(_.op).values
      .map(_.map(s => (s.endNs - s.startNs) / 1e6).sum).toSeq)

  def json: String = {
    val sb = new StringBuilder("{\"spans\":[")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}""")
    }
    sb.append("],\"counts\":{")
    sb.append(counts.map { case (k, v) => s""""$k":$v""" }.mkString(","))
    sb.append("}}")
    sb.toString
  }
}

object Tracer {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Int)
}

/** Spark-side counts per benchmark operation. The client thread sets
  * the local property [[SparkCounts.OpKey]] before each operation;
  * Spark copies it into every job it submits (also from the branch
  * threads graft's serving code starts), so jobs, stages and tasks are
  * attributed to the operation that caused them. */
final class SparkCounts extends SparkListener {
  final class PerOp {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0; var schedulerDelayMs = 0.0
    var inputBytes = 0.0; var shuffleRead = 0.0; var shuffleWrite = 0.0; var spill = 0.0
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  }

  val perOp = new java.util.concurrent.ConcurrentHashMap[Int, PerOp]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()

  /** Per-op counts as one JSON object keyed by op id. */
  def json: String = {
    import scala.jdk.CollectionConverters._
    perOp.asScala.toSeq.sortBy(_._1).map { case (op, p) =>
      s""""$op":{"jobs":${p.jobs},"stages":${p.stages},"tasks":${p.tasks},""" +
        s""""failed_tasks":${p.failedTasks},"run_ms":${p.runMs},"cpu_ms":${p.cpuMs},""" +
        s""""gc_ms":${p.gcMs},"scheduler_delay_ms":${p.schedulerDelayMs},""" +
        s""""input_bytes":${p.inputBytes},"shuffle_read_bytes":${p.shuffleRead},""" +
        s""""shuffle_write_bytes":${p.shuffleWrite},"spill_bytes":${p.spill},""" +
        s""""job_spans_ms":[${p.jobSpans.map { case (a, b) => s"[$a,$b]" }.mkString(",")}]}"""
    }.mkString("{", ",", "}")
  }

  private def of(op: Int): PerOp = perOp.computeIfAbsent(op, _ => new PerOp)

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SparkCounts.OpKey))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = opOf(e.properties).foreach { op =>
    jobStart.put(e.jobId, (op, e.time))
    e.stageIds.foreach(s => stageOp.put(s, op))
    of(op).synchronized(of(op).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobStart.remove(e.jobId)).foreach {
    case (op, t0) => val p = of(op); p.synchronized(p.jobSpans += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val p = of(op); p.synchronized(p.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val p = of(op)
      val m = e.taskMetrics
      val info = e.taskInfo
      p.synchronized {
        p.tasks += 1
        if (info.failed || info.killed) p.failedTasks += 1
        if (m != null) {
          p.runMs += m.executorRunTime
          p.cpuMs += m.executorCpuTime / 1e6
          p.gcMs += m.jvmGCTime
          p.inputBytes += m.inputMetrics.bytesRead
          p.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          p.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          p.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          p.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
    }
}

object SparkCounts {
  val OpKey = "graftbench.op"

  /** Union length of [start, end] intervals, in ms. */
  def unionMs(spans: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
