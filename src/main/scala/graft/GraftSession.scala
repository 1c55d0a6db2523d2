package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. Every main and the spec
  * fixture run under the same configuration the engine is benched and
  * oracle-certified under (README, "Required session configuration").
  * Callers that build their own session apply [[requiredConfs]]. */
object GraftSession {
  /** The README's required session confs, in one place. */
  val requiredConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    // size-based AQE coalescing (Spark docs' recommended setting):
    // reduce-stage task counts follow advisoryPartitionSizeInBytes
    // instead of defaultParallelism — tiny stages stop paying
    // cores-many tasks of pure scheduling overhead locally, and at
    // cluster scale partitions stay in the advisory byte range either way
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")

  /** Core count of the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per core, the UI off and
    * log level WARN. */
  def local(cpus: Int): SparkSession = {
    val spark = requiredConfs
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
