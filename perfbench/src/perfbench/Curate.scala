package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextAnalysis}
import graft.text.Embed

/** The curation front of an ingest: quality score, MinHash-LSH near-dup
  * pairs, their components, the best doc per cluster, then chunk + embed
  * of the kept docs. Each call is materialized inside its own span. */
object Curate {
  final case class Out(docs: DataFrame, quality: DataFrame, pairs: DataFrame,
                       comps: DataFrame, canon: DataFrame, kept: DataFrame,
                       chunks: DataFrame)

  /** `docs` is (doc_id, text); chunks come out as
    * (chunk_id = doc_id * 64 + position, doc_id, text, emb). */
  def apply(tr: Trace, docs: DataFrame, req: Long): Out = {
    val quality = tr.span("textanalysis.qualityScore", req) {
      TextAnalysis.qualityScore(docs, "text")
        .select("doc_id", "text", "quality").localCheckpoint(true)
    }
    val pairs = tr.span("dedup.minHashDedupPairs", req) {
      Dedup.minHashDedupPairs(docs, "doc_id", "text").localCheckpoint(true)
    }
    val comps = tr.span("dedup.components", req) {
      Dedup.components(pairs).localCheckpoint(true)
    }
    val canon = tr.span("dedup.canonicalPerCluster", req) {
      Dedup.canonicalPerCluster(quality, "doc_id", "quality", comps)
        .localCheckpoint(true)
    }
    val kept = canon.filter(col("keep") === 1)
      .select("doc_id", "text", "quality")
    val chunks = tr.span("text.chunkEmbed", req) {
      val segment = udf((s: String) => Gen.Chunker.segment(s).take(64))
      Embed.withEmbedding(
        kept.select(col("doc_id"), posexplode(segment(col("text"))))
          .select((col("doc_id") * 64 + col("pos")).as("chunk_id"),
            col("doc_id"), col("col").as("text")),
        "text", "emb", Gen.Embedder).localCheckpoint(true)
    }
    Out(docs, quality, pairs, comps, canon, kept, chunks)
  }

  /** Dedup checks against the planted groups of docs [lo, hi): every
    * group LSH paired completely keeps exactly one doc, and no component
    * spans two groups. Returns the share of groups fully paired. */
  def check(g: Gen, lo: Long, hi: Long, out: Out): Double = {
    val plants = g.plants(lo, hi)
    val comp = out.comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keep = out.canon.select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def compOf(id: Long) = comp.getOrElse(id, id)
    val groups = plants.groupBy(_._2).values.map(_.keys.toSeq).toSeq
    val paired = groups.filter(m => m.map(compOf).distinct.length == 1)
    paired.foreach { m =>
      val kept = m.count(keep(_) == 1)
      Check(kept == 1, s"planted group ${m.mkString(",")} keeps $kept docs")
    }
    val groupsPerComp = plants.toSeq.groupBy { case (id, _) => compOf(id) }
      .values.map(_.map(_._2).distinct.length)
    Check(groupsPerComp.forall(_ == 1), "two planted groups merged")
    paired.length.toDouble / math.max(1, groups.length)
  }

  /** Verified near-dup pairs over LSH candidate pairs (MinHash with the
    * defaults `minHashDedupPairs` uses). */
  def lshYield(out: Out): Double = {
    val cand = Dedup.lshCandidates(Dedup.minHash(out.docs, "doc_id", "text"),
      16).count()
    out.pairs.count().toDouble / math.max(1L, cand)
  }
}
