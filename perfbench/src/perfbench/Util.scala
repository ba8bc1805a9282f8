package perfbench

import org.apache.spark.sql.DataFrame

/** Brute-force exact top-k on the driver: the benchmark's own ground
  * truth, independent of graft's search code. Distances are rounded to 6
  * decimals and ties broken by id, graft's result convention. */
final class Exact(ids: Array[Long], vecs: Array[Array[Double]],
                  groups: Array[Int], cosine: Boolean) {
  private val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))

  def topK(q: Array[Double], k: Int, group: Option[Int] = None): Seq[Long] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    val d = new Array[Double](ids.length)
    java.util.stream.IntStream.range(0, ids.length).parallel().forEach { i =>
      val v = vecs(i)
      var j = 0
      var acc = 0.0
      if (cosine) {
        while (j < v.length) { acc += v(j) * q(j); j += 1 }
        d(i) = 1.0 - acc / (norms(i) * qn)
      } else {
        while (j < v.length) { val t = v(j) - q(j); acc += t * t; j += 1 }
        d(i) = math.sqrt(acc)
      }
    }
    ids.indices.filter(i => group.forall(_ == groups(i)))
      .sortBy(i => (math.floor(d(i) * 1e6 + 0.5) / 1e6, ids(i)))
      .take(k).map(ids(_))
  }
}

object Exact {
  /** Truth over a collected frame of (id: long, vec: array<float|double>,
    * optional int group column). */
  def of(df: DataFrame, idCol: String, vecCol: String,
         groupCol: Option[String], cosine: Boolean): Exact = {
    val cols = Seq(idCol, vecCol) ++ groupCol
    val rows = df.selectExpr(cols.map(c => if (c == vecCol)
      s"cast($c as array<double>) as $c" else c): _*).collect()
    new Exact(rows.map(_.getLong(0)),
      rows.map(_.getSeq[Double](1).toArray),
      rows.map(r => if (groupCol.isDefined) r.getInt(2) else 0), cosine)
  }
}

/** Local-directory helpers for the benchmark's own bookkeeping. */
object Files {
  private def walk(dir: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toList
      } finally s.close()
    }
  }

  /** Bytes of every regular file under `dir`. */
  def size(dir: String): Long =
    walk(dir).filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum

  def delete(dir: String): Unit =
    walk(dir).reverse.foreach(java.nio.file.Files.deleteIfExists)
}
