package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** corpus_dedup: one op is a full near-duplicate pass over a seeded
  * corpus with planted clusters — `Dedup.minhashPairs` →
  * `clustersFromPairs` → `canonicalPerCluster` — so corpus-sized
  * shuffles and the connected-components step dominate.
  *
  * Checks: every found pair lies inside a planted cluster and every
  * (base, copy) pair is found; the cluster labels equal the planted
  * partition; the canonical pick per cluster is its highest-score
  * member (ties to the lower id) with the planted member count. */
final class CorpusDedup(ctx: Ctx) extends Workload {
  import CorpusDedup._
  import ctx.{spark, seed, tracer}

  private var corpus: DataFrame = _
  private var planted: Map[Long, Long] = Map.empty
  private var nDocs = 0
  private var expectClusters: Seq[String] = Nil
  private var expectCanonical: Seq[String] = Nil
  private var basePairs: Set[(Long, Long)] = Set.empty

  def build(dir: File): Unit = {
    val docs = Corpus.docs(seed, BaseDocs, BaseDocs / 5)
    val rows = new java.util.ArrayList[Row](docs.size)
    docs.foreach(d => rows.add(Row(d.id, d.text, d.score)))
    val path = new File(dir, "corpus").getAbsolutePath
    spark.createDataFrame(rows, Schema).repartition(4).write.parquet(path)
    corpus = spark.read.parquet(path)
    nDocs = docs.size
    planted = docs.map(d => d.id -> d.cluster).toMap
    basePairs = docs.filter(d => d.cluster != d.id).map(d => (d.cluster, d.id)).toSet
    expectClusters = docs.map(d => s"${d.id}|${d.cluster}").sorted
    expectCanonical = docs.groupBy(_.cluster).toSeq.map { case (c, ms) =>
      val keep = ms.maxBy(m => (m.score, -m.id))
      s"$c|${keep.id}|${ms.size}"
    }.sorted
  }

  def warmup(): Unit = (0 until 2).foreach(op)

  def round: Int = 1

  def op(i: Int): Op = {
    val ((pairs, labels, canon), ms) = ctx.timed {
      val p = tracer.span("operators.minhash_pairs")(
        Dedup.minhashPairs(corpus, "doc_id", "text", threshold = Threshold).cache())
      val pairRows = tracer.span("operators.minhash_pairs")(p.select("a_id", "b_id").collect())
      val l = tracer.span("operators.cc")(
        Dedup.clustersFromPairs(corpus, "doc_id", p).select("doc_id", "cluster_id").collect())
      p.unpersist()
      val c = tracer.span("operators.canonical")(
        Dedup.canonicalPerCluster(corpus, "doc_id", "text", "score", threshold = Threshold)
          .select("cluster_id", "keep_id", "n_members").collect())
      (pairRows, l, c)
    }
    val found = pairs.map(r => (r.getLong(0), r.getLong(1)))
    val inside = found.count { case (a, b) => planted(a) == planted(b) }
    tracer.count("pairs_found", found.length)
    tracer.count("pairs_inside", inside)
    ctx.check(inside == found.length, s"corpus_dedup: ${found.length - inside} pairs cross planted clusters")
    val foundSet = found.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    ctx.check(basePairs.subsetOf(foundSet),
      s"corpus_dedup: ${(basePairs -- foundSet).size} planted (base, copy) pairs not found")
    val gotClusters = labels.map(r => s"${r.getLong(0)}|${r.getLong(1)}").toSeq.sorted
    ctx.check(gotClusters == expectClusters, "corpus_dedup: clusters differ from the planted partition")
    tracer.count("clusters_found", labels.map(_.getLong(1)).distinct.length)
    val gotCanon = canon.map(r => s"${r.getLong(0)}|${r.getLong(1)}|${r.getLong(2)}").toSeq.sorted
    ctx.check(gotCanon == expectCanonical, "corpus_dedup: canonical picks differ from the planted clusters")
    Op("read", "pass", ms, nDocs)
  }

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    Map("operators.minhash_pairs_ms" -> tracer.perOpMs("operators.minhash_pairs"),
      "operators.cc_ms" -> tracer.perOpMs("operators.cc"),
      "operators.canonical_ms" -> tracer.perOpMs("operators.canonical"),
      "operators.pairs_found" -> tracer.counted("pairs_found") / n,
      "operators.clusters_found" -> tracer.counted("clusters_found") / n,
      "operators.pair_precision" -> tracer.counted("pairs_inside") / math.max(1.0, tracer.counted("pairs_found")))
  }
}

object CorpusDedup {
  /** The operators layer measured outside its own workloads: after
    * their set-up and warm-up, one checked dedup pass and one checked
    * round of hybrid serving, traced. Returns both workloads' per-layer
    * numbers. */
  def probe(ctx: Ctx): Map[String, Double] = {
    val tr = ctx.tracer
    val dedup = new CorpusDedup(ctx)
    val serving = new HybridServe(ctx)
    tr.enabled = false
    dedup.build(new File(ctx.work, "dedup-probe"))
    dedup.warmup()
    serving.build(new File(ctx.work, "hybrid-probe"))
    serving.warmup()
    serving.prepareChecks()
    tr.enabled = true
    val pass = dedup.op(-1)
    val requests = (0 until HybridServe.PoolSize).map(serving.op)
    dedup.layers(Seq(pass)) ++ serving.layers(requests)
  }

  val BaseDocs = 2000
  val Threshold = 0.8

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("score", DoubleType, nullable = false)))
}
