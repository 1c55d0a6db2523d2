package graftbench

import scala.collection.immutable.ArraySeq

/** Stateless seeded randomness: every value is a pure function of
  * (seed, stream, index), so the driver-side fixture writer and an
  * executor-side regeneration of the same rows agree exactly. */
object Rng {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def at(seed: Long, stream: Long, i: Long): Long = mix(mix(seed * 0x632BE59BD9B4E019L + stream) + i)
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))
  def below(h: Long, n: Int): Int = ((h >>> 1) % n).toInt
  /** Skewed index in [0, n): small indices are the popular values. */
  def skewed(h: Long, n: Int, power: Double): Int =
    math.min(n - 1, (n * math.pow(unit(h), power)).toInt)
}

/** Seeded event rows for the Druid workloads: `event_type` (5 values),
  * `country` (50), `device` (20), multi-value `tags` (1-3 of 12), long
  * `clicks`, double `revenue` (whole cents) and, for the live
  * datasource only, a high-cardinality `user` (Zipf-like over 200k ids).
  * Times are distinct within a chunk: row i sits in its own slot of the
  * chunk's span, so latest-N reads have no ties. */
object Events {
  val EventTypes: Array[String] = Array("view", "click", "share", "purchase", "signup")
  private val EventCdf = Array(0.45, 0.75, 0.87, 0.96, 1.0)
  val Countries: Array[String] = Array.tabulate(50)(i => f"c$i%02d")
  val Devices: Array[String] = Array.tabulate(20)(i => f"d$i%02d")
  val Tags: Array[String] = Array.tabulate(12)(i => f"t$i%02d")
  val UserPool = 200000

  final case class Row(time: Long, eventType: String, country: String, device: String,
                       tags: Seq[String], user: String, clicks: Long, revenue: Double)

  /** Row `i` of a chunk of `n` rows spanning [startMs, startMs + spanMs). */
  def row(seed: Long, stream: Long, startMs: Long, spanMs: Long, n: Int, i: Int,
          withUser: Boolean): Row = {
    def h(k: Int) = Rng.at(seed, stream, i.toLong * 16 + k)
    val slot = spanMs / n
    val u = Rng.unit(h(1))
    val et = EventTypes(EventCdf.indexWhere(u < _))
    val nTags = 1 + Rng.below(h(5), 3)
    val tags = (0 until nTags).map(k => Tags(Rng.skewed(h(6 + k), Tags.length, 1.5))).distinct.sorted
    Row(
      time = startMs + i * slot + Rng.below(h(0), slot.toInt),
      eventType = et,
      country = Countries(Rng.skewed(h(2), Countries.length, 2.0)),
      device = Devices(Rng.skewed(h(3), Devices.length, 1.5)),
      tags = tags,
      user = if (withUser) f"u${Rng.skewed(h(4), UserPool, 3.0)}%06d" else null,
      clicks = Rng.below(h(9), 100).toLong,
      revenue = Rng.below(h(10), 100000) / 100.0)
  }

  def chunk(seed: Long, stream: Long, startMs: Long, spanMs: Long, n: Int,
            withUser: Boolean): IndexedSeq[Row] =
    ArraySeq.tabulate(n)(i => row(seed, stream, startMs, spanMs, n, i, withUser))

  /** Seeded Fisher-Yates permutation: ingestion input arrives unsorted. */
  def shuffled[T](rows: IndexedSeq[T], seed: Long, stream: Long): IndexedSeq[T] = {
    val a = rows.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = Rng.below(Rng.at(seed, stream, i), i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** Dense Druid HLL sketch bytes of `n` seeded visitor ids. */
  def hllSketch(seed: Long, stream: Long, n: Int): Array[Byte] = {
    val regs = new Array[Int](graft.functions.DruidHll.NumBuckets)
    var i = 0
    while (i < n) {
      val x = Rng.at(seed, stream, Rng.skewed(Rng.at(seed, stream ^ 0x5eed, i), 1 << 20, 2.0))
      val bucket = (x & 2047).toInt
      // 1 + leading zeros of the remaining 53 hash bits
      val rho = math.min(15, java.lang.Long.numberOfLeadingZeros((x >>> 11) | 1L) - 10)
      if (rho > regs(bucket)) regs(bucket) = rho
      i += 1
    }
    graft.functions.DruidHll.toDense(regs)
  }
}

/** Seeded document corpus: words from a 4000-word vocabulary with
  * per-topic preferences, 48-64 words a doc, a 32-dim embedding near
  * the doc's topic centre, and planted near-duplicate clusters (a base
  * doc plus 1-4 copies with one word replaced each, so every copy has
  * 3-shingle Jaccard >= 0.85 with its base). */
object Corpus {
  val Vocab: Array[String] = Array.tabulate(4000)(i => f"w$i%04d")
  val Topics = 24
  val Dim = 32

  final case class Doc(id: Long, text: String, embedding: Array[Float], score: Double,
                       cluster: Long)

  private def words(seed: Long, stream: Long, topic: Int): Array[String] = {
    val n = 48 + Rng.below(Rng.at(seed, stream, 0), 17)
    Array.tabulate(n) { k =>
      val h = Rng.at(seed, stream, 1 + k)
      // 60% of words from the topic's own 150-word band, the rest global
      if (Rng.unit(h) < 0.6) Vocab((topic * 150 + Rng.skewed(Rng.mix(h), 150, 1.5)) % Vocab.length)
      else Vocab(Rng.skewed(Rng.mix(h ^ 7), Vocab.length, 1.3))
    }
  }

  def centre(seed: Long, topic: Int): Array[Float] =
    Array.tabulate(Dim)(d => (Rng.unit(Rng.at(seed, 900 + topic, d)) * 2 - 1).toFloat)

  private def embedding(seed: Long, stream: Long, topic: Int): Array[Float] = {
    val c = centre(seed, topic)
    Array.tabulate(Dim)(d => c(d) + ((Rng.unit(Rng.at(seed, stream, 100 + d)) - 0.5) * 0.6).toFloat)
  }

  /** `nBase` independent docs; `nClusters` of them get 1-4 near copies.
    * Ids are dense 0..n-1; `cluster` is the planted label (the minimum
    * id of the doc's planted cluster, its own id for singletons). */
  def docs(seed: Long, nBase: Int, nClusters: Int): IndexedSeq[Doc] = {
    val out = scala.collection.mutable.ArrayBuffer[Doc]()
    var next = 0L
    def score(id: Long) = Rng.unit(Rng.at(seed, 77, id))
    (0 until nBase).foreach { b =>
      val stream = 1000L + b
      val topic = Rng.below(Rng.at(seed, stream, 999), Topics)
      val w = words(seed, stream, topic)
      val emb = embedding(seed, stream, topic)
      val baseId = next
      out += Doc(baseId, w.mkString(" "), emb, score(baseId), baseId)
      next += 1
      if (b < nClusters) {
        val copies = 1 + Rng.below(Rng.at(seed, stream, 998), 4)
        (0 until copies).foreach { c =>
          val v = w.clone()
          val pos = Rng.below(Rng.at(seed, stream, 2000 + c), v.length)
          v(pos) = Vocab(Rng.below(Rng.at(seed, stream, 3000 + c), Vocab.length))
          out += Doc(next, v.mkString(" "), embedding(seed, stream * 7 + c, topic), score(next), baseId)
          next += 1
        }
      }
    }
    out.toIndexedSeq
  }

  /** A retrieval query: 2-4 terms drawn from a topic and a vector near
    * that topic's centre. */
  final case class Query(id: Long, terms: Seq[String], vec: Array[Float])

  def query(seed: Long, id: Long): Query = {
    val stream = 500000L + id
    val topic = Rng.below(Rng.at(seed, stream, 0), Topics)
    val n = 2 + Rng.below(Rng.at(seed, stream, 1), 3)
    val terms = (0 until n).map(k =>
      Vocab((topic * 150 + Rng.skewed(Rng.at(seed, stream, 2 + k), 150, 1.5)) % Vocab.length)).distinct
    Query(id, terms, embedding(seed, stream, topic))
  }
}
