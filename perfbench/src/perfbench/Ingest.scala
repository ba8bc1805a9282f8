package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{Engine, Registry}
import graft.core.Spec._
import graft.ops.{Ann, Bm25, Dedup, Fusion}

final case class IngestDoc(doc_id: Long, text: String, quality: Double)
final case class IngestChunk(chunk_id: Long, doc_id: Long, text: String,
                             emb: Seq[Float])

/** `ingest`: each op is one pass over raw docs the process has never seen
  * (so no memo cache is warm): quality score, MinHash-LSH near-dup pairs,
  * components, canonical doc per cluster, chunk + embed, one transaction
  * of doc and chunk tables, the IVF build, a 1-bit root and BM25
  * postings at rest, then a batch of dense, keyword and fused queries.
  * Each call is a few large jobs over the whole pass, so time goes to
  * k-means, LSH, shuffles and scan kernels. */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  private val spark = ctx.spark
  private val g = ctx.gen
  private val enc = spark.implicits
  private val docTd = TableDef[IngestDoc]("doc", primaryKey = Some("doc_id"))(
    enc.newProductEncoder)

  private def chunkTd(lists: Int) = TableDef[IngestChunk]("chunk",
    primaryKey = Some("chunk_id"),
    foreignKeys = Seq(ForeignKey("doc_id", "doc", "doc_id")),
    indexes = Seq(VectorIndex("emb", Ann.Cosine, lists = lists, oneBit = true),
      KeywordIndex("text")),
    vectorDims = Map("emb" -> Gen.Dim))(enc.newProductEncoder)

  /** Generated inputs of one pass, materialized before it is timed. */
  private final case class Input(lo: Long, hi: Long, docs: DataFrame,
                                 qVec: DataFrame, qText: DataFrame,
                                 qVecs: Seq[Array[Double]])

  private def input(lo: Long, docs: Int, queries: Int, stream: Long): Input = {
    import spark.implicits._
    val qs = (0 until queries).map { i =>
      val r = Gen.rng(ctx.seed, stream, lo + i)
      val text = g.sentence(lo + r.nextInt(docs), r)
      (i.toLong, Gen.Embedder.embedQuery(text).map(_.toDouble), g.keywords(r))
    }
    Input(lo, lo + docs, g.docs(spark, lo, lo + docs),
      qs.map(q => (q._1, q._2.toSeq)).toDF("qid", "qvec").localCheckpoint(true),
      qs.map(q => (q._1, q._3)).toDF("qid", "qtext").localCheckpoint(true),
      qs.map(_._2))
  }

  /** What one pass leaves for its check. */
  private final case class Pass(in: Input, dir: String, cur: Curate.Out,
                                reg: Registry,
                                td: TableDef[IngestChunk],
                                dense: Array[Row], keyword: Array[Row],
                                fused: Array[Row])

  private def pass(in: Input, dir: String, req: Long): Pass = {
    val tr = ctx.tr
    val reg = new Registry(spark, s"$dir/registry")
    val eng = new Engine(reg)
    val cur = Curate(tr, in.docs, req)
    val chunks = cur.chunks
    val nChunks = chunks.count()
    val td = chunkTd(math.round(math.sqrt(nChunks.toDouble)).toInt)
    reg.register(docTd, td)
    tr.span("registry.runTxn", req) {
      reg.runTxn { t =>
        reg.copyBulk(docTd, cur.kept, t)
        reg.copyBulk(td, chunks, t)
      }
    }
    tr.span("engine.buildIndex", req)(eng.buildIndex(td))
    tr.span("ann.writeIvfBitq", req) {
      val model = Ann.IvfModel(reg.catalog.read(s"${reg.namespace}_chunk__ivf",
        ModelSchema, reg.catalog.current), "centroid_id", "centroid")
      Ann.writeIvfBitq(Ann.buildIvfBitq(reg.table(td), "emb", model,
        Ann.Cosine), s"$dir/bitq")
    }
    tr.span("bm25.writePostings", req) {
      Bm25.writePostings(reg.table(td), "chunk_id", "text", s"$dir/bm25")
    }
    ingestMs += (System.nanoTime() - passStart) / 1e6
    val b0 = System.nanoTime()
    val dense = tr.span("engine.searchByVectorBatch", req) {
      eng.searchByVectorBatch(td, in.qVec, "qid", "qvec", topk = K)
        .localCheckpoint(true)
    }
    val keyword = tr.span("engine.searchByKeywordBatch", req) {
      eng.searchByKeywordBatch(td, in.qText, "qid", "qtext", topk = K)
        .localCheckpoint(true)
    }
    val fused = tr.span("fusion.rrfWeightedBatch", req) {
      Fusion.rrfWeightedBatch(Seq(
        dense.select(col("qid"), col("chunk_id").as("id"), col("rank")),
        keyword.select(col("qid"), col("id"), col("rank"))),
        Seq(1.0, 1.0), "qid", topK = K).collect()
    }
    val p = Pass(in, dir, cur, reg, td,
      dense.collect(), keyword.collect(), fused)
    batchMs += (System.nanoTime() - b0) / 1e6
    p
  }

  private var passStart = 0L
  private val ingestMs = mutable.ArrayBuffer[Double]()
  private val batchMs = mutable.ArrayBuffer[Double]()
  private val recalls = mutable.ArrayBuffer[Double]()
  private val bytesPerVector = mutable.ArrayBuffer[Double]()
  private val lshYield = mutable.ArrayBuffer[Double]()
  private val groupsPaired = mutable.ArrayBuffer[Double]()
  private var next: Input = _

  def setup(rep: Int): Unit = {
    val warm = input(WarmBase + rep * WarmDocs, WarmDocs, WarmQueries,
      Gen.WarmStream)
    passStart = System.nanoTime()
    val p = pass(warm, s"${ctx.work}/ingest-warm-$rep", -1)
    ingestMs.clear()
    batchMs.clear()
    release(p)
    next = input(0, Docs, Queries, Gen.QueryStream)
  }

  def teardown(): Unit = ()

  private def release(p: Pass): Unit = {
    spark.catalog.clearCache()
    Dedup.clearCaches()
    Files.delete(p.dir)
  }

  def tracedOps: Int = 1

  def op(i: Int): () => Unit = {
    val in = next
    passStart = System.nanoTime()
    val p = pass(in, s"${ctx.work}/ingest-$i", i)
    () =>
      try check(p)
      finally {
        release(p)
        next = input((i + 1L) * Docs, Docs, Queries, Gen.QueryStream)
      }
  }

  private def check(p: Pass): Unit = {
    groupsPaired += Curate.check(g, p.in.lo, p.in.hi, p.cur)
    lshYield += Curate.lshYield(p.cur)
    Check(p.reg.validateForeignKeys(p.td).isEmpty,
      "a chunk's doc_id does not resolve")
    Check(p.dense.nonEmpty && p.keyword.nonEmpty && p.fused.nonEmpty,
      "a batch search returned nothing")
    val truth = Exact.of(p.cur.chunks, "chunk_id", "emb", None, cosine = true)
    val byQ = p.dense.groupBy(_.getAs[Long]("qid"))
    (0 until RecallQueries).foreach { q =>
      val got = byQ.getOrElse(q.toLong, Array.empty[Row])
        .map(_.getAs[Long]("chunk_id")).toSet
      val want = truth.topK(p.in.qVecs(q), K).toSet
      recalls += (got & want).size.toDouble / K
    }
    bytesPerVector += Files.size(s"${p.dir}/bitq").toDouble / p.cur.chunks.count()
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("store_bytes_per_row", Stats.median(bytesPerVector.toSeq), "B"))

  def info(opMs: Seq[Double]): Seq[(String, Double, String)] = Seq(
    ("docs_per_pass", Docs.toDouble, "docs"),
    ("passes", opMs.length.toDouble, "passes"),
    ("ingest_docs_per_s", ingestMs.length * Docs / (ingestMs.sum / 1000), "docs/s"),
    ("batch_qps", batchMs.length * Queries / (batchMs.sum / 1000), "queries/s"),
    ("recall_at_10", Stats.mean(recalls.toSeq), "ratio"),
    ("bytes_per_vector", Stats.median(bytesPerVector.toSeq), "B"),
    ("dedup.lsh_yield", Stats.mean(lshYield.toSeq), "ratio"),
    ("planted_groups_paired", Stats.mean(groupsPaired.toSeq), "ratio"))
}

object Ingest {
  val K = 10
  val Docs = 1500
  val Queries = 40
  val RecallQueries = 30
  val WarmDocs = 100
  val WarmQueries = 5
  /** Warm-up passes draw doc ids from here on, far from the timed ones. */
  val WarmBase = 1L << 40
  val ModelSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "centroid_id BIGINT, centroid ARRAY<DOUBLE>")
}
