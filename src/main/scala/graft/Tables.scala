package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Every `SparkEntry.queries` entry receives `(spark, sfDir)`; these
  * helpers centralize the path convention so queries stay declarative.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-session RELATION cache for the driver's immutable input
    * tables — the catalog role a metastore plays on a real cluster.
    *
    * `spark.read.parquet(path)` resolves the relation EAGERLY on the
    * driver: file listing + parquet footer schema inference, measured
    * at ~120 ms per call — pure driver-side fixed cost that every
    * query pays per table per action at ANY data
    * size. A warehouse resolves a table's schema once (the catalog);
    * re-inferring it on every query is an artifact of reading bare
    * paths. This caches the resolved DataFrame (an immutable LAZY
    * plan: schema + file index — never rows; every action still scans
    * the parquet bytes) per (session, dir, table).
    *
    * Scope guard: ONLY the driver testdata tables go through here —
    * they are immutable for the life of a run by contract. Mutable
    * dirs (index generations, staging sinks) must keep calling
    * `spark.read.parquet` directly so rewrites are never served a
    * stale file listing; nothing in sources/operators uses this cache.
    * Keyed weakly on the session so a stopped session's entries are
    * collectable and a new session (fresh catalog) re-resolves. */
  private val relCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val perSession = relCache.synchronized {
      var m = relCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        relCache.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent(s"$sfDir/$table.parquet",
      p => ntzToUtc(spark.read.parquet(p)))
  }

  /** Safety net for sessions missing the
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false` config: the
    * driver testdata stores µs timestamps without a UTC flag, which
    * Spark otherwise infers as TIMESTAMP_NTZ — a type `unix_millis`
    * and friends reject. Sessions run with tz=UTC, so the NTZ→TZ cast
    * is value-identical. Prefer the session config (the cast here
    * defeats parquet predicate pushdown on time columns; the config
    * reads them natively as TIMESTAMP at the scan). */
  private def ntzToUtc(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast(org.apache.spark.sql.types.TimestampType))
        case _ => d
      }
    }

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  /** Older driver testdata stored `events.ts` as parquet
    * TIMESTAMP(NANOS), which Spark 4 refuses natively; sessions set
    * spark.sql.legacy.parquet.nanosAsLong and the ns-long is truncated
    * here to a µs timestamp (integer div — double division would lose
    * precision at 1e18 ns). Current testdata stores µs timestamps
    * (handled by `ntzToUtc`/the session NTZ config); the LongType
    * branch keeps old scaled copies readable. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
