package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{RankFusion, Retrieval, Similarity, TextAnalysis}

/** hybrid_serve: one request is a batch of [[HybridServe.Batch]] seeded
  * retrieval queries (terms plus a vector) answered by
  * `Retrieval.hybridServeWith` over a persisted BM25 index and a
  * persisted IVF-PQ index, both built at set-up from a seeded corpus.
  * Bound by driver actions and index probes; never touches Druid.
  *
  * Requests cycle through a pool of [[HybridServe.PoolSize]] batches.
  * Checks: each batch's lexical branch (`scoreWithBm25StateMulti` over
  * the index, the call the request makes) equals
  * `TextAnalysis.bm25TopKMulti` over the raw corpus, and every repeat of
  * a batch returns the identical fused list. */
final class HybridServe(ctx: Ctx) extends Workload {
  import HybridServe._
  import ctx.{spark, seed, tracer}

  private var docs: DataFrame = _
  private var embs: DataFrame = _
  private var bmPath: String = _
  private var pqPath: String = _
  private var state: Retrieval.HybridServeState = _
  private val fused = scala.collection.mutable.Map[Int, Seq[String]]()

  def build(dir: File): Unit = {
    val corpus = Corpus.docs(seed, CorpusBase, CorpusBase / 10)
    val rows = new java.util.ArrayList[Row](corpus.size)
    corpus.foreach(d => rows.add(Row(d.id, d.text, d.embedding.toSeq)))
    val base = spark.createDataFrame(rows, CorpusSchema)
    base.repartition(4).write.parquet(new File(dir, "corpus").getAbsolutePath)
    val stored = spark.read.parquet(new File(dir, "corpus").getAbsolutePath)
    docs = stored.select(col("doc_id"), col("text"))
    embs = stored.select(col("doc_id").as("vec_id"), col("embedding"))
    bmPath = new File(dir, "bm25").getAbsolutePath
    pqPath = new File(dir, "ivfpq").getAbsolutePath
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", bmPath)
    Similarity.writeIvfIndexPq(embs, "vec_id", "embedding", pqPath, cells = 16, m = 8, ks = 16)
    state = Retrieval.loadHybridState(spark, bmPath, pqPath)
    fused.clear()
  }

  private def batch(b: Int): Seq[Corpus.Query] =
    (0 until Batch).map(q => Corpus.query(seed, b.toLong * Batch + q))

  private def terms(qs: Seq[Corpus.Query]): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    qs.foreach(q => q.terms.foreach(t => rows.add(Row(q.id, t))))
    spark.createDataFrame(rows, TermSchema)
  }

  private def vecs(qs: Seq[Corpus.Query]): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    qs.foreach(q => rows.add(Row(q.id, q.vec.toSeq)))
    Similarity.prepareQueries(spark.createDataFrame(rows, VecSchema), "vec_id", "embedding")
  }

  private def serve(qs: Seq[Corpus.Query]): DataFrame =
    Retrieval.hybridServeWith(state, terms(qs), "query_id", "term", vecs(qs),
      embs, "vec_id", "embedding", kLex = 30, kNominate = 30, kAnn = 10, nprobe = 4,
      rrfK = 60, topK = 10)

  private def lexical(qs: Seq[Corpus.Query]): DataFrame =
    TextAnalysis.scoreWithBm25StateMulti(state.bm25, terms(qs), "query_id", "term", k = 30)

  override def prepareChecks(): Unit =
    (0 until PoolSize).foreach { b =>
      val qs = batch(b)
      val idx = lexical(qs)
      val got = Canon(idx.columns.toSeq, idx.collect())
      val raw = TextAnalysis.bm25TopKMulti(docs, "doc_id", "text", terms(qs), "query_id", "term", k = 30)
      val want = Canon(raw.columns.toSeq, raw.collect())
      ctx.check(got == want, s"hybrid_serve batch $b: lexical branch differs from bm25TopKMulti")
    }

  def warmup(): Unit = (0 until PoolSize).foreach(op)

  def round: Int = PoolSize

  def op(i: Int): Op = {
    val b = i % PoolSize
    val qs = batch(b)
    val (rows, ms) = ctx.timed(tracer.span("operators.request") {
      val df = serve(qs)
      (df.columns.toSeq, df.collect())
    })
    val got = Canon(rows._1, rows._2)
    ctx.check(rows._2.nonEmpty && rows._2.map(_.getAs[Long]("query_id")).distinct.size == Batch,
      s"hybrid_serve batch $b: not every query answered")
    fused.get(b) match {
      case Some(first) => ctx.check(got == first, s"hybrid_serve batch $b: fused list changed on repeat")
      case None => fused(b) = got
    }
    Op("read", "request", ms, Batch)
  }

  def layers(ops: Seq[Op]): Map[String, Double] = {
    // each branch of a request alone, on the pool's batches
    val perBatch = (0 until PoolSize).map { b =>
      val qs = batch(b)
      def t[T](name: String)(body: => T): (T, Double) = ctx.timed(tracer.span(name)(body))
      val (_, load) = t("operators.state_load")(Retrieval.loadHybridState(spark, bmPath, pqPath))
      val (bm, bmMs) = t("operators.bm25")(localOf(lexical(qs).select("query_id", "doc_id", "rank")))
      val v = vecs(qs)
      val (cand, nomMs) = t("operators.pq_nominate")(
        localOf(Similarity.queryIvfIndexPqWith(state.pq, v, k = 30, nprobe = 4)))
      val (ann, rrMs) = t("operators.rerank")(localOf(
        Similarity.rerankCandidates(embs, v, cand, "vec_id", "embedding", k = 10)
          .select(col("q_id").as("query_id"), col("n_id").as("doc_id"), col("rank"))))
      val (_, rrfMs) = t("operators.rrf")(RankFusion.rrfGrouped(Seq(bm, ann), "query_id", "doc_id",
        "rank", kConst = 60, topK = 10).collect())
      (load, bmMs, nomMs, rrMs, rrfMs)
    }
    val request = Main.median(ops.map(_.ms))
    def med(f: ((Double, Double, Double, Double, Double)) => Double) = Main.median(perBatch.map(f))
    Map("operators.state_load_ms" -> med(_._1), "operators.bm25_ms" -> med(_._2),
      "operators.pq_nominate_ms" -> med(_._3), "operators.rerank_ms" -> med(_._4),
      "operators.rrf_ms" -> med(_._5), "operators.request_ms" -> request,
      "operators.overlap_ratio" -> (med(_._2) + med(_._3) + med(_._4)) / request)
  }

  /** Collect a small branch result into a local DataFrame (what the
    * request's own branch materialization holds). */
  private def localOf(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
}

object HybridServe {
  val CorpusBase = 2000
  val Batch = 3
  val PoolSize = 2

  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  val TermSchema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false), StructField("term", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
}
