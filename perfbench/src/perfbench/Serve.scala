package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Engine, Registry}
import graft.core.Spec._
import graft.ops.{Ann, Fusion}

final case class ServeChunk(chunk_id: Long, doc_id: Long, bucket: Int,
                            text: String, emb: Seq[Float])

/** `serve`: top-k, filtered, keyword, hybrid and declarative queries
  * against a warm 1-bit IVF + BM25 chunk table. Every query's inputs sit
  * in Engine's version-keyed caches, so time goes to planning, job
  * launch and scheduling rather than data work. */
final class Serve(ctx: Ctx) extends Workload {
  import Serve._
  private val spark = ctx.spark
  private val g = ctx.gen

  private val chunks = g.chunks(spark, 0, Docs)
  private val n = chunks.count()
  private val lists = math.round(math.sqrt(n.toDouble)).toInt
  private val td = TableDef[ServeChunk]("chunk", primaryKey = Some("chunk_id"),
    indexes = Seq(VectorIndex("emb", Ann.Cosine, lists = lists, oneBit = true),
      KeywordIndex("text")),
    vectorDims = Map("emb" -> Gen.Dim))(spark.implicits.newProductEncoder)
  private val exact = Exact.of(chunks, "chunk_id", "emb", Some("bucket"),
    cosine = true)

  private var root = ""
  private var reg: Registry = _
  private var eng: Engine = _

  final case class Query(kind: Int, vec: Seq[Double], text: String,
                         bucket: Int)
  /** Query i of a stream. Each run of [[MixCycle]] consecutive queries
    * holds every kind in its exact share, in a seeded order. */
  private def query(stream: Long, i: Int): Query =
    query(stream, i, mixOrder(stream, i / MixCycle.length)(i % MixCycle.length))

  private def mixOrder(stream: Long, cycle: Int): Seq[Int] = {
    val r = Gen.rng(ctx.seed, stream + 100, cycle)
    MixCycle.map(k => (r.nextLong(), k)).sortBy(_._1).map(_._2)
  }

  private def query(stream: Long, i: Int, kind: Int): Query = {
    val r = Gen.rng(ctx.seed, stream, i)
    val text = g.sentence(r.nextInt(Docs), r)
    Query(kind, Gen.Embedder.embedQuery(text).map(_.toDouble).toSeq,
      g.keywords(r), r.nextInt(8))
  }

  def setup(rep: Int): Unit = {
    root = s"${ctx.work}/serve-$rep"
    reg = new Registry(spark, root).register(td)
    reg.copyBulk(td, chunks)
    eng = new Engine(reg)
    eng.buildIndex(td)
    eng.installDeclarative(td)
  }

  override def warmup(): Unit =
    (0 until WarmRounds * Kinds.length).foreach(i =>
      run(query(Gen.WarmStream, i, i % Kinds.length), i))

  def teardown(): Unit = {
    eng.uninstallDeclarative(td)
    spark.catalog.clearCache()
    Files.delete(root)
  }

  private val latency = Array.fill(Kinds.length)(mutable.ArrayBuffer[Double]())
  private val recalls = mutable.ArrayBuffer[Double]()

  def tracedOps: Int = MixCycle.length
  /** Two whole mix cycles, so every run holds each kind in its exact
    * share and the 90th percentile falls on the same kind (hybrid). */
  override def minOps: Int = 2 * MixCycle.length

  def op(i: Int): () => Unit = {
    val q = query(Gen.QueryStream, i)
    val t0 = System.nanoTime()
    val res = run(q, i)
    latency(q.kind) += (System.nanoTime() - t0) / 1e6
    () => check(q, res)
  }

  /** Run one query and collect it: (id, score) in returned order. */
  private def run(q: Query, i: Int): Seq[(Long, Double, Int)] = {
    val tr = ctx.tr
    def collectDense(df: DataFrame): Seq[(Long, Double, Int)] = {
      val rows = df.collect()
      tr.noteScanRows(df)
      rows.map(r => (r.getAs[Long]("chunk_id"), r.getAs[Double]("dist"),
        r.getAs[Int]("bucket"))).toSeq
    }
    Kinds(q.kind) match {
      case "dense" => tr.span("engine.searchByVector", i) {
        collectDense(eng.searchByVector(td, q.vec, topk = K))
      }
      case "filtered" => tr.span("engine.searchByVector-filtered", i) {
        collectDense(eng.searchByVector(td, q.vec, topk = K,
          filter = Some(col("bucket") === q.bucket)))
      }
      case "keyword" => tr.span("engine.searchByKeyword", i) {
        val df = eng.searchByKeyword(td, q.text, topk = K)
        val rows = df.collect()
        tr.noteScanRows(df)
        rows.map(r => (r.getAs[Long]("chunk_id"), r.getAs[Double]("score"),
          r.getAs[Int]("bucket"))).toSeq
      }
      case "hybrid" =>
        val dense = tr.span("hybrid.searchByVector", i) {
          eng.searchByVector(td, q.vec, topk = K)
        }
        val kw = tr.span("hybrid.searchByKeyword", i) {
          eng.searchByKeyword(td, q.text, topk = K)
        }
        tr.span("fusion.rrf", i) {
          Fusion.rrf(Seq(Fusion.ranked(dense, "chunk_id", "dist", asc = true),
            Fusion.ranked(kw, "chunk_id", "score", asc = false)), topK = K)
            .collect().map(r => (r.getLong(0), r.getDouble(1), -1)).toSeq
        }
      case "declarative" => tr.span("annrewrite.declarative", i) {
        val df = declarative(q.vec)
        val p0 = System.nanoTime()
        df.queryExecution.executedPlan
        tr.note("plan_ms", (System.nanoTime() - p0) / 1e6)
        val rows = df.collect()
        tr.noteScanRows(df)
        rows.map(r => (r.getLong(0), r.getDouble(1), -1)).toSeq
      }
    }
  }

  /** The plain DataFrame top-k that graft's AnnRewrite turns into the
    * index's two-phase scan. */
  private def declarative(v: Seq[Double]): DataFrame =
    reg.table(td)
      .withColumn("dist", round(org.apache.spark.sql.graft.VecExprs
        .cosDist(col("emb"), typedlit(v)), 6))
      .orderBy(col("dist").asc, col("chunk_id").asc)
      .limit(K)
      .select("chunk_id", "dist")

  private def check(q: Query, res: Seq[(Long, Double, Int)]): Unit = {
    val kind = Kinds(q.kind)
    Check(res.nonEmpty && res.length <= K, s"$kind: ${res.length} rows")
    Check(res.map(_._1).distinct.length == res.length, s"$kind: repeated ids")
    val scores = res.map(_._2)
    val ordered = kind match {
      case "dense" | "filtered" | "declarative" =>
        scores.zip(scores.drop(1)).forall { case (a, b) => a <= b }
      case _ => scores.zip(scores.drop(1)).forall { case (a, b) => a >= b }
    }
    Check(ordered, s"$kind: results out of order")
    if (kind == "filtered")
      Check(res.forall(_._3 == q.bucket), s"filtered: a row breaks bucket = ${q.bucket}")
    if (kind == "declarative") {
      val imperative = eng.searchByVector(td, q.vec, topk = K).collect()
        .map(r => (r.getAs[Long]("chunk_id"), r.getAs[Double]("dist"))).toSeq
      Check(imperative == res.map(r => (r._1, r._2)),
        "declarative and imperative dense results differ")
    }
    if (kind == "dense" || kind == "filtered" || kind == "declarative") {
      val truth = exact.topK(q.vec.toArray, K,
        if (kind == "filtered") Some(q.bucket) else None)
      recalls += res.map(_._1).toSet.intersect(truth.toSet).size.toDouble / K
    }
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("store_bytes_per_row", Files.size(root).toDouble / n, "B"))

  def info(opMs: Seq[Double]): Seq[(String, Double, String)] = {
    val all = latency.flatten.toSeq
    Seq(("chunks", n.toDouble, "rows"), ("lists", lists.toDouble, "cells"),
      ("queries", all.length.toDouble, "calls"),
      ("query_p50_ms", Stats.median(all), "ms"),
      (if (all.length >= 200) "query_p95_ms" else "query_p90_ms",
        Stats.quantile(all, if (all.length >= 200) 0.95 else 0.9), "ms"),
      ("recall_at_10", Stats.mean(recalls.toSeq), "ratio")) ++
      Kinds.indices.filter(latency(_).nonEmpty).map(k =>
        (s"${Kinds(k)}_p50_ms", Stats.median(latency(k).toSeq), "ms"))
  }
}

object Serve {
  val K = 10
  /** Raw docs behind the chunk table (about 3 chunks each). */
  val Docs = 1500
  /** Untimed queries of each kind before the loop (after two, the next
    * ten queries still ran about 30% slower). */
  val WarmRounds = 3
  val Kinds: Seq[String] = Seq("dense", "filtered", "keyword", "hybrid",
    "declarative")
  /** One cycle of the query mix (kind indexes): 40% dense, 10% filtered,
    * 25% keyword, 15% hybrid, 10% declarative. */
  val MixCycle: Seq[Int] = Seq.fill(8)(0) ++ Seq.fill(2)(1) ++ Seq.fill(5)(2) ++
    Seq.fill(3)(3) ++ Seq.fill(2)(4)
}
