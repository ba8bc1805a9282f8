package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{Engine, Registry}
import graft.core.Spec._
import graft.ops.Ann
import graft.streaming.Stream

final case class MaintainRow(id: Long, emb: Seq[Double])

/** `maintain`: continuous ingest beside reads on one SQ8-indexed chunk
  * table. Each op is a cycle: curate [[DocsPerCycle]] unseen raw docs
  * (quality, near-dup removal, chunk, embed), append [[AppendRows]] of
  * their chunks
  * (Registry commit plus one streamed micro-batch into the SQ8 root's
  * fresh side table), delete [[Deletes]] live ids (the attached root's
  * delete hook rewrites cells and purges fresh rows), run [[Searches]]
  * read-after-write searches, half through Engine and half against the
  * root, then one maintenance pass (compact, split, merge).
  * Every write changes the table version, so the caches `serve` hits all
  * miss here. */
final class Maintain(ctx: Ctx) extends Workload {
  import Maintain._
  private val spark = ctx.spark
  private val g = ctx.gen
  private val td = TableDef[MaintainRow]("item", primaryKey = Some("id"),
    indexes = Seq(VectorIndex("emb", Ann.L2, lists = Lists, quantized = true)),
    vectorDims = Map("emb" -> Gen.Dim))(spark.implicits.newProductEncoder)
  private val probes = math.ceil(Lists / 16.0).toInt

  private val base = g.chunks(spark, 0, BaseDocs)
    .select(col("chunk_id").as("id"), col("emb").cast("array<double>").as("emb"))
    .localCheckpoint(true)
  private val baseVecs = base.collect()
    .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
  private val baseRows = baseVecs.length.toLong

  private var root = ""
  private def dir = s"$root/sq"
  private var reg: Registry = _
  private var eng: Engine = _
  private var input: MemoryStream[(Long, Seq[Double])] = _
  private var stream: StreamingQuery = _
  private val live = mutable.LongMap[Array[Double]]()
  private val deleted = mutable.HashSet[Long]()
  private var cycle = 0L
  private var appended, removed = 0L
  private var pending: DataFrame = _

  /** Raw docs of the next cycle, materialized before it is timed. */
  private def prepare(): Unit = {
    val lo = docsOf(cycle)
    pending = g.docs(spark, lo, lo + DocsPerCycle)
  }
  private def docsOf(c: Long): Long = BaseDocs + c * DocsPerCycle

  def setup(rep: Int): Unit = {
    root = s"${ctx.work}/maintain-$rep"
    reg = new Registry(spark, s"$root/registry").register(td)
    reg.copyBulk(td, base)
    val model = Ann.buildIvfKMeans(reg.table(td), "emb", Lists, Ann.L2)
    eng = new Engine(reg)
    eng.installIndexModel(td, model)
    val idx = Ann.buildIvfSq(reg.table(td), "emb", model, Ann.L2)
    Ann.writeIvfSq(idx, dir)
    Ann.ensureIvfSqRoot(spark, dir, idx, spherical = false)
    eng.attachStoredIndex(td, dir)
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    input = MemoryStream[(Long, Seq[Double])]
    // the stream thread inherits local properties at start: start it
    // outside any span so its jobs are filed by time, not by set-up
    val sc = spark.sparkContext
    val prop = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, null)
    stream = Stream.ingestQuantizedFreshAppend(
      input.toDF().toDF("id", "emb"), "id", "emb", dir, s"$root/checkpoint")
    sc.setLocalProperty(Trace.SpanKey, prop)
    live.clear()
    baseVecs.foreach { case (id, v) => live(id) = v }
    deleted.clear()
    cycle = 0
    appended = 0
    removed = 0
    prepare()
  }

  /** Untimed cycles, so the timed ones do not pay first-use costs
    * (after one, the next two cycles still ran 15-30% slower). */
  override def warmup(): Unit = {
    (0 until WarmCycles).foreach(_ => op(-1)())
    Seq(curateMs, appendMs, deleteMs, searchMs, passMs, recalls, lshPaired,
      appendedRows).foreach(_.clear())
    writeBytes = 0
  }

  def teardown(): Unit = {
    stream.stop()
    eng.detachStoredIndex(td, dir)
    spark.catalog.clearCache()
    Files.delete(root)
  }

  private def engineSearch(v: Array[Double], req: Long): Seq[(Long, Double)] =
    ctx.tr.span("engine.searchByVector-fresh", req) {
      eng.searchByVector(td, v.toSeq, topk = K).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }

  private def storedSearch(v: Array[Double], req: Long): Seq[(Long, Double)] =
    ctx.tr.span("ann.searchIvfSqStoredFresh", req) {
      Ann.searchIvfSqStoredFresh(spark, dir, "id", "emb", typedlit(v.toSeq),
        Ann.L2, probes, K, refine = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }

  private val curateMs, appendMs, deleteMs, searchMs, passMs =
    mutable.ArrayBuffer[Double]()
  private val lshPaired, appendedRows = mutable.ArrayBuffer[Double]()
  private val recalls = mutable.ArrayBuffer[Double]()
  private var writeBytes = 0L

  def tracedOps: Int = 1
  override def minOps: Int = 4

  def op(c: Int): () => Unit = {
    val tr = ctx.tr
    val docs = pending
    val k = cycle
    val lo = docsOf(k)
    cycle += 1
    val fs0 = FsStats.snap()
    val tc = System.nanoTime()
    val cur = Curate(tr, docs, c)
    // a fixed number of rows per cycle, so every seed appends alike
    val frame = cur.chunks.orderBy("chunk_id").limit(AppendRows)
      .select(col("chunk_id").as("id"), col("emb").cast("array<double>").as("emb"))
    // the client hands the stream's in-memory source local rows
    val tuples = frame.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val t0 = System.nanoTime()
    curateMs += (t0 - tc) / 1e6
    tr.span("registry.copyBulk", c)(reg.copyBulk(td, frame))
    tr.span(Trace.MicroBatchSpan, c) {
      input.addData(tuples)
      stream.processAllAvailable()
      Option(stream.lastProgress).flatMap(p =>
        Option(p.durationMs.get("queryPlanning")))
        .foreach(ms => tr.note("plan_ms", ms.doubleValue))
    }
    val t1 = System.nanoTime()
    appendMs += (t1 - t0) / 1e6
    tuples.foreach { case (id, v) => live(id) = v.toArray }
    appended += tuples.length
    appendedRows += tuples.length
    val doomed = g.deletes(k, live.keys.toIndexedSeq.sorted, Deletes)
    tr.span("registry.removeBy", c) {
      reg.removeBy(td, Map("id" -> AnyOf(doomed)))
    }
    deleteMs += (System.nanoTime() - t1) / 1e6
    val hookFailures = reg.lastHookFailures
    doomed.foreach(live.remove)
    deleted ++= doomed
    removed += doomed.length
    val queries = tuples.map(_._1).filterNot(deleted).take(Searches)
    val results = queries.zipWithIndex.map { case (id, j) =>
      val s0 = System.nanoTime()
      val res = if (j % 2 == 0) engineSearch(live(id), c)
        else storedSearch(live(id), c)
      searchMs += (System.nanoTime() - s0) / 1e6
      id -> res
    }
    val p0 = System.nanoTime()
    tr.span("engine.compactFreshIfNeeded", c) {
      eng.compactFreshIfNeeded(td, dir, 0.0)
    }
    tr.span("engine.splitOverfullIfNeeded", c) {
      eng.splitOverfullIfNeeded(td, dir, SplitRows)
    }
    tr.span("engine.mergeUnderfullIfNeeded", c) {
      eng.mergeUnderfullIfNeeded(td, dir, MergeRows)
    }
    passMs += (System.nanoTime() - p0) / 1e6
    writeBytes += (FsStats.snap() - fs0).writeBytes
    () =>
      try {
        lshPaired += Curate.check(g, lo, lo + DocsPerCycle, cur)
        check(results, hookFailures)
      } finally prepare()
  }

  private def check(results: Seq[(Long, Seq[(Long, Double)])],
                    hookFailures: List[Throwable]): Unit = {
    Check(hookFailures.isEmpty, s"delete hook failed: ${hookFailures.headOption}")
    val exact = new Exact(live.keys.toArray, live.keys.toArray.map(live),
      Array.fill(live.size)(0), cosine = false)
    results.foreach { case (id, res) =>
      Check(res.exists(r => r._1 == id && r._2 == 0.0),
        s"appended row $id is not its own nearest neighbour")
      Check(!res.exists(r => deleted(r._1)), "a deleted id was returned")
      val want = exact.topK(live(id), K).toSet
      recalls += res.map(_._1).toSet.intersect(want).size.toDouble / K
    }
    val want = baseRows + appended - removed
    val rows = reg.table(td).count()
    Check(rows == want, s"table holds $rows rows, want $want")
    val fresh = new java.io.File(s"$dir/fresh")
    val atRest = spark.read.parquet(s"$dir/quantized").count() +
      (if (fresh.exists) spark.read.parquet(fresh.getPath).count() else 0L)
    Check(atRest == want, s"SQ8 root holds $atRest rows, want $want")
  }

  private def rowBytes: Double = 8 + 4 * Gen.Dim

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("store_bytes_per_row", Files.size(dir).toDouble / live.size, "B"))

  def info(opMs: Seq[Double]): Seq[(String, Double, String)] = Seq(
    ("base_rows", baseRows.toDouble, "rows"),
    ("cycles", opMs.length.toDouble, "cycles"),
    ("rows_appended_per_cycle", Stats.mean(appendedRows.toSeq), "rows"),
    ("curate_p50_ms", Stats.median(curateMs.toSeq), "ms"),
    ("append_rows_per_s", appendedRows.sum / (appendMs.sum / 1000), "rows/s"),
    ("delete_p50_ms", Stats.median(deleteMs.toSeq), "ms"),
    ("fresh_query_p50_ms", Stats.median(searchMs.toSeq), "ms"),
    ("maintain_pass_s", Stats.median(passMs.toSeq) / 1000, "s"),
    ("write_amp", writeBytes / (appendedRows.sum * rowBytes), "ratio"),
    ("recall_at_10", Stats.mean(recalls.toSeq), "ratio"),
    ("planted_groups_paired", Stats.mean(lshPaired.toSeq), "ratio"))
}

object Maintain {
  val K = 10
  /** Docs behind the base table (about 3 chunks each). */
  val BaseDocs = 100L
  val Lists = 16
  val DocsPerCycle = 30
  /** Chunks appended per cycle: the first of the curated chunks (30 docs
    * yield about 75). */
  val AppendRows = 60
  val Deletes = 40
  val Searches = 2
  val WarmCycles = 2
  /** Split and merge thresholds no cell crosses in a run: every pass pays
    * for the decisions (root listing, cell health) but acts alike on
    * every seed. */
  val SplitRows = 100000L
  val MergeRows = 1L
}
