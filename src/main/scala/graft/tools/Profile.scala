package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.GraftBridge
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Per-job profile of declared queries: the action-structure view (how
  * many Spark jobs a query pays, and how much of its wall time the
  * driver spends outside them) that per-query bench totals hide.
  *
  * For each query: warm it, print its formatted plan, then run it once
  * under a listener and print the wall time, one line per job (span,
  * stages run, tasks, description), the job count and the driver time.
  * Driver time is wall minus the UNION of job spans, so sibling jobs
  * running at once (`Concurrent`) are not counted twice.
  *
  * Usage: runMain graft.tools.Profile q_a [q_b …]
  * Data dir and cores come from SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS,
  * as in `graft.Bench`. Repeated min-of-N timings of a query subset are
  * `graft.Bench` with SPARK_GRAFT_BENCH_ONLY=q_a,q_b SPARK_GRAFT_BENCH_REPS=3.
  */
object Profile {
  /** Warm runs before the measured one: sentinel-guarded builds, JIT and
    * codegen caches reach the steady state Bench's minimum converges to. */
  private val WarmRuns = 4

  /** Total length of the union of `[start, end)` spans. */
  def unionLength(spans: Seq[(Long, Long)]): Long =
    spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((total, reach), (start, end)) =>
        val from = math.max(start, reach)
        if (end <= from) (total, reach) else (total + end - from, end)
    }._1

  private final case class Job(id: Int, start: Long, end: Option[Long],
                               stages: Int, tasks: Int, desc: String)

  /** Every job started while registered, with the stages and tasks it ran. */
  private final class JobListener extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private def update(stageId: Int)(f: Job => Job): Unit =
      Option(stageJob.get(stageId)).foreach(jobs.computeIfPresent(_, (_, j) => f(j)))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the job description if one is set, else the result stage's
      // call site ("count at …")
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(e.stageInfos.maxBy(_.stageId).name)
      jobs.put(e.jobId, Job(e.jobId, e.time, None, 0, 0, desc.take(90)))
      e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      update(e.stageInfo.stageId)(j => j.copy(stages = j.stages + 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      update(e.stageId)(j => j.copy(tasks = j.tasks + 1))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = Some(e.time)))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.tools.Profile q_a [q_b …]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus)
    val sc = spark.sparkContext
    for (name <- args) {
      val fn = SparkEntry.queries(name)
      val warm = (1 to WarmRuns).map { _ => val df = fn(spark, sfDir); df.count(); df }.last
      println(s"\n===== $name =====")
      warm.explain("formatted")

      GraftBridge.drainListeners(sc)
      val listener = new JobListener
      sc.addSparkListener(listener)
      val t0 = System.currentTimeMillis()
      val rows = fn(spark, sfDir).count()
      val t1 = System.currentTimeMillis()
      GraftBridge.drainListeners(sc)
      sc.removeSparkListener(listener)

      val jobs = listener.jobs.values.asScala.toSeq.sortBy(_.id)
      val spans = jobs.map(j => (j.start, j.end.getOrElse(t1)))
      println(s"wall ${t1 - t0} ms, $rows rows")
      println(f"${"job"}%6s ${"span_ms"}%8s ${"stages"}%6s ${"tasks"}%6s  description")
      jobs.zip(spans).foreach { case (j, (start, end)) =>
        println(f"${j.id}%6d ${end - start}%8d ${j.stages}%6d ${j.tasks}%6d  ${j.desc}")
      }
      println(s"$name: ${jobs.size} jobs, driver ${t1 - t0 - unionLength(spans)} ms")
    }
    spark.stop()
  }
}
