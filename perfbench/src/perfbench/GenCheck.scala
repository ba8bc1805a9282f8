package perfbench

import org.apache.spark.sql.SparkSession

/** Generator tests: the same seed gives identical frames and streams, a
  * different seed gives different ones, and the planted near-duplicate
  * groups are what the dedup ground truth says they are. Prints one line
  * per test; returns the process exit code. */
object GenCheck {
  def run(spark: SparkSession): Int = {
    val a = Gen(7L)
    val b = Gen(7L)
    val c = Gen(8L)
    def docs(g: Gen) = g.docs(spark, 0, 300).collect().toSeq
    def chunks(g: Gen) = g.chunks(spark, 0, 60).collect().toSeq
    def queries(g: Gen) = (0 until 50).map { i =>
      val r = Gen.rng(g.seed, Gen.QueryStream, i)
      (g.sentence(r.nextInt(1000), r), g.keywords(r))
    }
    val live = (0L until 500L).toIndexedSeq
    def dels(g: Gen) = (0 until 5).map(c => g.deletes(c, live, 20))
    val plantsA = a.plants(0, 3000)
    val sizes = plantsA.groupBy(_._2).values.map(_.size)
    def jaccard(x: String, y: String): Double = {
      def sh(s: String) = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        .sliding(3).map(_.mkString(" ")).toSet
      val (p, q) = (sh(x), sh(y))
      (p & q).size.toDouble / (p | q).size
    }
    val copies = plantsA.keys.toSeq.sorted.flatMap(id =>
      a.groupOf(id).collect { case (_, m) if m > 0 => jaccard(a.text(id), a.text(id - m)) })
    val tests = Seq(
      "same seed: identical docs" -> (docs(a) == docs(b)),
      "same seed: identical chunks and embeddings" ->
        (chunks(a).map(_.toString) == chunks(b).map(_.toString)),
      "same seed: identical queries" -> (queries(a) == queries(b)),
      "same seed: identical delete stream" -> (dels(a) == dels(b)),
      "same seed: identical planted groups" -> (plantsA == b.plants(0, 3000)),
      "other seed: different docs" -> (docs(a) != docs(c)),
      "other seed: different chunks" ->
        (chunks(a).map(_.toString) != chunks(c).map(_.toString)),
      "other seed: different queries" -> (queries(a) != queries(c)),
      "other seed: different delete stream" -> (dels(a) != dels(c)),
      "other seed: different planted groups" -> (plantsA != c.plants(0, 3000)),
      "plants cover 15-25% of docs" ->
        (plantsA.size >= 450 && plantsA.size <= 750),
      "planted groups hold 2-4 docs" -> sizes.forall(s => s >= 2 && s <= 4),
      "planted copies stay near-duplicates (3-shingle Jaccard >= 0.6)" ->
        copies.forall(_ >= 0.6),
      "deletes draw distinct live ids" ->
        dels(a).forall(d => d.distinct.length == d.length && d.forall(live.contains)))
    tests.foreach { case (name, ok) =>
      println(s"${if (ok) "ok  " else "FAIL"} $name")
    }
    println(f"# planted docs ${plantsA.size}%d of 3000, copy Jaccard min " +
      f"${copies.min}%.3f mean ${copies.sum / copies.length}%.3f")
    if (tests.forall(_._2)) 0 else 1
  }
}
