package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One foreground operation as the client saw it. `cls` is "read" for
  * the workload's foreground ops (queries, serving requests, dedup
  * passes), "write" or "vacuum" for the live datasource's writes;
  * `kind` names the query type; `items` counts the work it covered. */
final case class Op(cls: String, kind: String, ms: Double, items: Long, id: Int = -1,
                    traced: Boolean = false)

/** A wrong answer: the run is reported with `correct: false`. */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

final class Ctx(val spark: SparkSession, val seed: Long, val work: File, val tracer: Tracer) {
  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new WrongAnswer(what)

  /** `f(0) .. f(n-1)` on n threads, results in order: set-up, warm-up
    * and expected answers only, never a timed op. */
  def parallel[T](n: Int)(f: Int => T): IndexedSeq[T] = {
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val all = (0 until n).map(k => scala.concurrent.Future(f(k)))
    all.map(x => scala.concurrent.Await.result(x, scala.concurrent.duration.Duration(600, "s")))
  }

  /** Time `body` on the client thread, in ms. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** A benchmark workload: fixture build, warm-up, the closed-loop op and
  * the per-layer numbers its traced run derives. */
trait Workload {
  /** Build every fixture and index under `dir` (a fresh dir per call;
    * the workload serves from the last one built). */
  def build(dir: File): Unit
  /** Warm-up ops: JIT, codegen and page cache before anything is timed. */
  def warmup(): Unit
  /** The expected answers the checks compare with; runs after the
    * warm-up and is not part of set-up. */
  def prepareChecks(): Unit = ()
  /** Operation `i` of the closed loop; checks its answer. */
  def op(i: Int): Op
  /** Ops per round of the op mix; the loop stops on a round boundary. */
  def round: Int
  /** Which op class `items_per_s` counts. */
  def itemsClass: String = "read"
  /** Traced run only: the per-layer probes and derived metrics. */
  def layers(ops: Seq[Op]): Map[String, Double]
}

object Main {
  val SetupRepeats = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms" -> "ms", "items_per_s" -> "items/s")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.decode_rows_per_s" -> "rows/s", "sources.discover_ms" -> "ms",
    "sources.timeline_ms" -> "ms", "sources.windows_per_query" -> "count",
    "sources.encode_rows_per_s" -> "rows/s", "sources.write_ms" -> "ms",
    "sources.vacuum_ms" -> "ms", "sources.vacuum_segments" -> "count",
    "sources.segments_total" -> "count", "sources.segments_visible" -> "count",
    "sources.stored_bytes_per_row" -> "B/row",
    "queries.build_ms" -> "ms", "queries.plan_ms" -> "ms", "queries.exec_ms" -> "ms",
    "queries.timeseries_p50_ms" -> "ms", "queries.groupby_p50_ms" -> "ms",
    "queries.topn_hll_p50_ms" -> "ms", "queries.scan_p50_ms" -> "ms",
    "queries.window_p50_ms" -> "ms", "queries.selective_p50_ms" -> "ms",
    "queries.pushdown_p50_ms" -> "ms", "queries.topn_latest_p50_ms" -> "ms",
    "operators.state_load_ms" -> "ms", "operators.bm25_ms" -> "ms",
    "operators.pq_nominate_ms" -> "ms", "operators.rerank_ms" -> "ms",
    "operators.rrf_ms" -> "ms", "operators.request_ms" -> "ms",
    "operators.overlap_ratio" -> "ratio",
    "operators.minhash_pairs_ms" -> "ms", "operators.cc_ms" -> "ms",
    "operators.canonical_ms" -> "ms", "operators.pairs_found" -> "count",
    "operators.clusters_found" -> "count", "operators.pair_precision" -> "ratio",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.driver_ms_per_op" -> "ms",
    "spark.executor_run_ms_per_op" -> "ms", "spark.executor_cpu_ms_per_op" -> "ms",
    "spark.scheduler_delay_ms_per_op" -> "ms", "spark.gc_ms_per_op" -> "ms",
    "spark.input_bytes_per_op" -> "bytes", "spark.shuffle_read_bytes_per_op" -> "bytes",
    "spark.shuffle_write_bytes_per_op" -> "bytes", "spark.spill_bytes_per_op" -> "bytes",
    "spark.failed_tasks_per_op" -> "count", "jvm.peak_rss_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")))
  }

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "druid_scan" => new DruidScan(ctx)
    case "druid_live" => new DruidLive(ctx)
    case "hybrid_serve" => new HybridServe(ctx)
    case "corpus_dedup" => new CorpusDedup(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** The closed loop: one client, each op issued when the previous one
    * returned. Runs whole rounds of the op mix until `seconds` have
    * passed. With `trace`, odd rounds are traced and even rounds are not,
    * and the loop ends on an even number of rounds (at least two), so the
    * two halves run the same op mix and their ratio is the tracing
    * overhead. */
  private def loop(w: Workload, ctx: Ctx, seconds: Double, trace: Boolean): (Seq[Op], Int) = {
    val sc = ctx.spark.sparkContext
    val ops = mutable.ArrayBuffer[Op]()
    var failed = 0
    var i = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def more = {
      val rounds = i / w.round
      i % w.round != 0 || (if (trace) rounds < 2 || rounds % 2 == 1 || elapsed < seconds else elapsed < seconds)
    }
    while (more && elapsed < 10 * seconds) {
      val traced = trace && (i / w.round) % 2 == 1
      ctx.tracer.enabled = traced
      ctx.tracer.op = if (traced) i else -1
      sc.setLocalProperty(SparkCounts.OpKey, if (traced) i.toString else null)
      try {
        val o = w.op(i)
        ops += o.copy(id = i, traced = traced)
        System.err.println(f"graftbench: op $i ${o.cls} ${o.kind} ${o.ms}%.1f ms")
      }
      catch {
        case e: WrongAnswer => throw e
        case e: Exception =>
          failed += 1
          System.err.println(s"graftbench: op $i failed: $e")
          if (failed > 3) throw e
      }
      i += 1
    }
    sc.setLocalProperty(SparkCounts.OpKey, null)
    ctx.tracer.op = -1
    System.err.println(f"graftbench: ${ops.size} ops in $elapsed%.1fs")
    (ops.toSeq, failed)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(false)
    val ctx = new Ctx(spark, a.seed, a.work, tracer)
    val w = workload(a.workload, ctx)
    var correct = true
    var attempted = 0
    var failed = 0
    val metrics = mutable.LinkedHashMap[String, Double]()
    try {
      val builds = (1 to SetupRepeats).map { k =>
        val dir = new File(a.work, s"fixture-$k")
        val t = System.nanoTime()
        w.build(dir)
        val s = (System.nanoTime() - t) / 1e9
        if (k > 1) org.apache.commons.io.FileUtils.deleteDirectory(new File(a.work, s"fixture-${k - 1}"))
        s
      }
      val tw = System.nanoTime()
      w.warmup()
      val warmS = (System.nanoTime() - tw) / 1e9
      val tc = System.nanoTime()
      w.prepareChecks()
      val checkS = (System.nanoTime() - tc) / 1e9
      System.err.println(f"graftbench: session $sessionS%.2fs builds ${builds.map(b => f"$b%.2f").mkString(",")}s " +
        f"expected answers $checkS%.2fs warm-up $warmS%.2fs")

      val counts = new SparkCounts
      if (a.trace) spark.sparkContext.addSparkListener(counts)
      val (ops, f) = loop(w, ctx, a.seconds, a.trace)
      attempted = ops.size + f
      failed = f
      if (!a.trace) {
        // a round holds every op type, so the median of round medians does
        // not jump between types as the op count varies
        val rounds = ops.filter(_.cls == "read").groupBy(_.id / w.round).values.toSeq
        val work = ops.filter(_.cls == w.itemsClass)
        metrics("setup_s") = sessionS + median(builds) + warmS
        metrics("op_ms") = median(rounds.map(rs => median(rs.map(_.ms))))
        metrics("items_per_s") = work.map(_.items).sum / (work.map(_.ms).sum / 1000.0)
      } else {
        org.apache.spark.GraftbenchBridge.drainListeners(spark.sparkContext)
        val (traced, plain) = ops.partition(_.traced)
        PerLayer.foreach { case (n, _) => metrics(n) = 0.0 }
        val n = traced.size.toDouble
        val per = traced.flatMap(o => Option(counts.perOp.get(o.id)))
        def perOp(f: counts.PerOp => Double) = per.map(f).sum / n
        metrics("spark.jobs_per_op") = perOp(_.jobs.toDouble)
        metrics("spark.stages_per_op") = perOp(_.stages.toDouble)
        metrics("spark.tasks_per_op") = perOp(_.tasks.toDouble)
        metrics("spark.executor_run_ms_per_op") = perOp(_.runMs)
        metrics("spark.executor_cpu_ms_per_op") = perOp(_.cpuMs)
        metrics("spark.scheduler_delay_ms_per_op") = perOp(_.schedulerDelayMs)
        metrics("spark.gc_ms_per_op") = perOp(_.gcMs)
        metrics("spark.input_bytes_per_op") = perOp(_.inputBytes)
        metrics("spark.shuffle_read_bytes_per_op") = perOp(_.shuffleRead)
        metrics("spark.shuffle_write_bytes_per_op") = perOp(_.shuffleWrite)
        metrics("spark.spill_bytes_per_op") = perOp(_.spill)
        metrics("spark.failed_tasks_per_op") = perOp(_.failedTasks.toDouble)
        metrics("spark.driver_ms_per_op") = traced.map { o =>
          o.ms - Option(counts.perOp.get(o.id)).map(p => SparkCounts.unionMs(p.jobSpans.toSeq)).getOrElse(0.0)
        }.sum / n
        metrics("jvm.peak_rss_mb") = peakRssMb()
        metrics("trace.overhead_ratio") = traced.map(_.ms).sum / plain.map(_.ms).sum * plain.size / n
        tracer.enabled = true
        w.layers(traced).foreach { case (k, v) =>
          require(metrics.contains(k), s"undeclared per-layer metric $k")
          metrics(k) = v
        }
        val traces = new File(a.work.getAbsoluteFile.getParentFile.getParentFile, "traces")
        traces.mkdirs()
        java.nio.file.Files.write(new File(traces, s"${a.workload}-seed${a.seed}.json").toPath,
          s"""{"tracer":${tracer.json},"spark":${counts.json}}""".getBytes("UTF-8"))
      }
    } catch {
      case e: WrongAnswer =>
        System.err.println(s"graftbench: WRONG ANSWER: ${e.getMessage}")
        correct = false
        attempted = math.max(attempted, 1)
    } finally {
      spark.stop()
    }
    // a wrong answer ends the run early: report every metric anyway
    (if (a.trace) PerLayer else EndToEnd).foreach { case (n, _) => if (!metrics.contains(n)) metrics(n) = 0.0 }
    val units = (EndToEnd ++ PerLayer).toMap
    val body = metrics.map { case (k, v) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "${units(k)}"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }
}
