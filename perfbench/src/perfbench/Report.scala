package perfbench

import scala.collection.mutable

/** Order statistics and the JSON the benchmark prints. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = xs.sum / xs.length
}

object Json {
  def render(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + render(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Per-layer numbers of a traced segment, from its spans and jobs. */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** One row per span name: its per-call metrics. */
  def perCall(spans: Seq[Trace.Span],
              att: Trace.Attribution): Seq[(String, mutable.LinkedHashMap[String, Double])] =
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val n = ss.length.toDouble
      val js = ss.flatMap(s => att.jobsOf(s.id))
      val fs = ss.map(_.fs).foldLeft(FsStats.Zero)(_ + _)
      val m = mutable.LinkedHashMap[String, Double](
        "calls" -> n,
        "ms" -> Stats.median(ss.map(_.selfMs)),
        "wall_ms" -> Stats.median(ss.map(_.wallMs)),
        "jobs" -> js.length / n,
        "tasks" -> js.map(_.tasks).sum / n,
        "task_ms" -> js.map(_.taskMs).sum / n,
        "driver_ms" -> Stats.median(ss.map(att.driverMs)),
        "shuffle_mb" -> js.map(_.shuffleBytes).sum / MB / n,
        "fs_ops" -> fs.totalOps / n,
        "fs_write_mb" -> fs.writeBytes / MB / n)
      ss.flatMap(_.notes.keys).distinct.sorted.foreach { k =>
        val vs = ss.flatMap(_.notes.get(k))
        m(k) = if (k.endsWith("_ms")) Stats.median(vs) else vs.sum / n
      }
      name -> m
    }

  /** Jobs without a span that started inside an op (the untimed checks
    * between ops launch jobs of their own, which do not count). */
  def unattributedInOps(ops: Seq[Trace.Span],
                        att: Trace.Attribution): Seq[JobLog.Job] =
    att.unattributed.filter(j =>
      ops.exists(o => j.startMs >= o.startMs && j.startMs <= o.endMs))

  /** Whole-segment substrate totals: every job started inside the segment
    * (attributed or not) and the filesystem delta over it. `ops` are the
    * segment's top-level foreground spans. */
  def substrate(ops: Seq[Trace.Span], att: Trace.Attribution,
                fs: FsStats.Snap): Seq[(String, Double, String)] = {
    val loose = unattributedInOps(ops, att)
    val js = ops.flatMap(o => att.jobsOf(o.id)) ++ loose
    val wall = ops.map(_.wallMs).sum
    Seq(
      ("spark.jobs", js.length.toDouble, "count"),
      ("spark.stages", js.map(_.stages).sum.toDouble, "count"),
      ("spark.tasks", js.map(_.tasks).sum.toDouble, "count"),
      ("spark.task_ms", js.map(_.taskMs).sum.toDouble, "ms"),
      ("spark.gc_ms", js.map(_.gcMs).sum.toDouble, "ms"),
      ("spark.shuffle_mb", js.map(_.shuffleBytes).sum / MB, "MB"),
      ("spark.spill_mb", js.map(_.spillBytes).sum / MB, "MB"),
      ("spark.unattributed_jobs", loose.length.toDouble, "count"),
      ("spark.driver_share", ops.map(att.driverMs).sum / wall, "ratio"),
      ("op.jobs", js.length.toDouble / ops.length, "count"),
      ("op.driver_ms", Stats.median(ops.map(att.driverMs)), "ms"),
      ("op.task_ms", js.map(_.taskMs).sum.toDouble / ops.length, "ms"),
      ("fs.list_ops", fs.ops(CountingFs.ListOp).toDouble, "count"),
      ("fs.open_ops", fs.ops(CountingFs.OpenOp).toDouble, "count"),
      ("fs.create_ops", fs.ops(CountingFs.CreateOp).toDouble, "count"),
      ("fs.rename_ops", fs.ops(CountingFs.RenameOp).toDouble, "count"),
      ("fs.delete_ops", fs.ops(CountingFs.DeleteOp).toDouble, "count"),
      ("fs.read_mb", fs.readBytes / MB, "MB"),
      ("fs.write_mb", fs.writeBytes / MB, "MB"))
  }
}
