package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.text.{HashEmbedder, RegexChunker}

/** Seeded synthetic corpus. Every value is a pure function of
  * (seed, stream, id), so any doc, query or id stream can be regenerated
  * anywhere (driver or executor) without shipping state, and the same
  * seed always gives the same frames.
  *
  *  - Text draws words from a Zipfian vocabulary (exponent [[ZipfS]]); the
  *    15 most frequent words are English stopwords, so a few head terms
  *    carry long posting lists.
  *  - Docs come in blocks of [[BlockSize]] consecutive ids. The first
  *    members of each block form two planted near-duplicate groups of 2-4
  *    docs (about 20% of all docs): the group's first doc is the source,
  *    the others copy it with ~3% of the words replaced. [[groupOf]] is
  *    the dedup ground truth.
  *  - Chunks are cut by graft's `RegexChunker` and embedded by
  *    `HashEmbedder(dim = 128)`.
  */
final case class Gen(seed: Long, vocabSize: Int = 20000) {
  import Gen._

  val words: Array[String] = {
    val seen = scala.collection.mutable.HashSet[String](Stopwords: _*)
    val out = Array.newBuilder[String] ++= Stopwords
    (Stopwords.length until vocabSize).foreach { i =>
      val r = rng(seed, VocabStream, i)
      var w = ""
      while (w.isEmpty || seen(w))
        w = (0 until 2 + r.nextInt(3)).map(_ => Syllables(r.nextInt(
          Syllables.length))).mkString
      seen += w
      out += w
    }
    out.result()
  }

  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(r => 1.0 / math.pow(r + 1, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  /** One Zipf-distributed word. */
  def word(r: Rng): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    words(math.min(if (i >= 0) i else -i - 1, vocabSize - 1))
  }

  /** Sentences of a doc before any planting (6-15 words each, 80-219
    * words in all). */
  private def baseSentences(id: Long): Array[Array[String]] = {
    val r = rng(seed, DocStream, id)
    val n = 80 + r.nextInt(140)
    val out = Array.newBuilder[Array[String]]
    var left = n
    while (left > 0) {
      val len = math.min(left, 6 + r.nextInt(10))
      out += Array.fill(len)(word(r))
      left -= len
    }
    out.result()
  }

  /** Planted group of a doc: Some((group key, member index)); member 0
    * is the group's source. Docs outside a group give None. */
  def groupOf(id: Long): Option[(Long, Int)] = {
    val block = id / BlockSize
    val pos = (id % BlockSize).toInt
    val r = rng(seed, GroupStream, block)
    val g1 = 2 + r.nextInt(3)
    val g2 = 2 + r.nextInt(3)
    if (pos < g1) Some((block * 2, pos))
    else if (pos < g1 + g2) Some((block * 2 + 1, pos - g1))
    else None
  }

  private def sentences(id: Long): Array[Array[String]] = groupOf(id) match {
    case Some((_, m)) if m > 0 =>
      val src = baseSentences(id - m).map(_.clone())
      val r = rng(seed, EditStream, id)
      val total = src.map(_.length).sum
      (0 until math.max(2, total * 3 / 100)).foreach { _ =>
        val s = src(r.nextInt(src.length))
        s(r.nextInt(s.length)) = word(r)
      }
      src
    case _ => baseSentences(id)
  }

  /** The doc's text: sentences joined by ". ". */
  def text(id: Long): String =
    sentences(id).map(_.mkString(" ")).mkString("", ". ", ".")

  /** One sentence of a doc, the seed of a dense query. */
  def sentence(id: Long, r: Rng): String = {
    val s = sentences(id)
    s(r.nextInt(s.length)).mkString(" ")
  }

  /** 1-4 Zipf terms, the shape of a keyword query. */
  def keywords(r: Rng): String =
    (0 until 1 + r.nextInt(4)).map(_ => word(r)).mkString(" ")

  /** Planted groups among docs [lo, hi): doc id -> group key. */
  def plants(lo: Long, hi: Long): Map[Long, Long] =
    (lo until hi).flatMap(id => groupOf(id).map(g => id -> g._1)).toMap

  // ---- frames (materialized, so generation finishes before timing) ----

  /** (doc_id, text) for ids [lo, hi). */
  def docs(spark: SparkSession, lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    val g = this
    spark.range(lo, hi, 1, spark.sparkContext.defaultParallelism)
      .map(id => (id.longValue, g.text(id))).toDF("doc_id", "text")
      .localCheckpoint(true)
  }

  /** (chunk_id, doc_id, bucket, text, emb) for the chunks of docs
    * [lo, hi); chunk_id = doc_id * 64 + position, bucket = doc_id % 8. */
  def chunks(spark: SparkSession, lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    val g = this
    spark.range(lo, hi, 1, spark.sparkContext.defaultParallelism)
      .flatMap { id =>
        Chunker.segment(g.text(id)).take(64).zipWithIndex.map {
          case (t, i) => (id * 64 + i, id.longValue, (id % 8).toInt, t,
            Embedder.embedChunk(t).toSeq)
        }
      }.toDF("chunk_id", "doc_id", "bucket", "text", "emb")
      .localCheckpoint(true)
  }

  /** The `n` ids deleted in maintain cycle `cycle`, drawn without
    * replacement from the sorted live ids. */
  def deletes(cycle: Long, live: IndexedSeq[Long], n: Int): Seq[Long] = {
    val r = rng(seed, DeleteStream, cycle)
    val picked = scala.collection.mutable.LinkedHashSet[Int]()
    while (picked.size < math.min(n, live.length))
      picked += r.nextInt(live.length)
    picked.toSeq.map(live)
  }
}

object Gen {
  val ZipfS = 1.05
  val BlockSize = 30
  val Dim = 128
  val Chunker: RegexChunker = RegexChunker(size = 400, overlap = 50)
  val Embedder: HashEmbedder = HashEmbedder(dim = Dim)

  val Stopwords: Array[String] = Array("the", "and", "is", "of", "to", "in",
    "that", "it", "with", "for", "was", "are", "this", "not", "have")
  private val Syllables: Array[String] = for {
    c <- Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
      "v", "z")
    v <- Array("a", "e", "i", "o", "u")
  } yield c + v

  // Independent random streams.
  val VocabStream = 1L
  val DocStream = 2L
  val GroupStream = 3L
  val EditStream = 4L
  val QueryStream = 5L
  val WarmStream = 6L
  val DeleteStream = 7L

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** SplitMix64 stream for (seed, stream, id). */
  final class Rng(private var state: Long) {
    def nextLong(): Long = { state += 0x9E3779B97F4A7C15L; mix(state) }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  }

  def rng(seed: Long, stream: Long, id: Long): Rng =
    new Rng(mix(mix(seed) ^ mix(stream * 0x632BE59BD9B4E019L + id)))
}
