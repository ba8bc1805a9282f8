package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload run hands the harness. */
final case class Ctx(spark: SparkSession, seed: Long, work: String) {
  val gen: Gen = Gen(seed)
  /** Tracer the workload's spans go to; the harness swaps it. */
  var tr: Trace = new Trace(spark, enabled = false)
}

/** A closed-loop workload: one client runs [[op]] after [[op]]. */
trait Workload {
  /** Program set-up. Called [[Harness.SetupReps]] times per run, after
    * [[teardown]] of the previous one; the last is kept. */
  def setup(rep: Int): Unit
  def teardown(): Unit
  /** Untimed calls after the last set-up, so the first timed op does not
    * pay first-use costs (JIT, code generation, cache fills). */
  def warmup(): Unit = ()
  /** One timed foreground operation. Returns its output check, run
    * untimed; the check throws [[CheckFailed]] when an output is wrong. */
  def op(i: Int): () => Unit
  /** Operations of one traced segment (a fixed count, so traced counts
    * repeat exactly at one seed). */
  def tracedOps: Int
  /** Fewest ops an untraced run measures, whatever --seconds says. */
  def minOps: Int = 1
  /** End-to-end metrics (name, value, unit) of the untraced loop beyond
    * the op-time quantiles every workload reports. */
  def endToEnd: Seq[(String, Double, String)]
  /** The workload's own metrics, by the names its documentation uses. */
  def info(opMs: Seq[Double]): Seq[(String, Double, String)]
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)
}

object Harness {
  val SetupReps = 3

  final class Outcome {
    var attempted = 0L
    var failed = 0L
    def fail(what: String): Unit = {
      failed += 1
      System.err.println(s"perfbench: FAILED $what")
    }
  }

  /** Run op i, time it, then run its check. Returns the op's wall ms. */
  def runOp(w: Workload, i: Int, out: Outcome, tr: Trace): Double = {
    out.attempted += 1
    val t0 = System.nanoTime()
    val check = try Some(tr.span("op", i)(w.op(i)))
      catch { case NonFatal(e) => out.fail(s"op $i threw: $e"); None }
    val ms = (System.nanoTime() - t0) / 1e6
    check.foreach { c =>
      try c()
      catch { case NonFatal(e) => out.fail(s"op $i check: ${e.getMessage}") }
    }
    ms
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Heap still reachable after full collections: what the engine keeps
    * (persisted frames, memo caches, models) once the loop is done. The
    * pauses let Spark's cleaner drop what the first collections freed. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  def line(tag: String, name: String, v: Double, unit: String): Unit =
    println(f"# $tag%-10s $name%-36s ${Json.render(v)}%s $unit")
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val work = sys.props.getOrElse("perfbench.work",
      java.nio.file.Files.createTempDirectory("perfbench").toString)
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/streaming")
      .getOrCreate()
    val code =
      try args.get("--check") match {
        case Some("gen") => GenCheck.run(spark)
        case _ => runWorkload(spark, args, work, (System.nanoTime() - t0) / 1e9)
      } finally spark.stop()
    System.exit(code)
  }

  private def runWorkload(spark: SparkSession, args: Map[String, String],
                          work: String, sessionS: Double): Int = {
    import Harness._
    val name = args("--workload")
    val seed = args("--seed").toLong
    val seconds = args("--seconds").toDouble
    val traced = args("--trace") == "1"
    val ctx = Ctx(spark, seed, work)
    val tg0 = System.nanoTime()
    val w: Workload = name match {
      case "serve" => new Serve(ctx)
      case "ingest" => new Ingest(ctx)
      case "maintain" => new Maintain(ctx)
    }
    val genS = (System.nanoTime() - tg0) / 1e9
    val setupS = (0 until (if (traced) 1 else SetupReps)).map { rep =>
      if (rep > 0) w.teardown()
      val t = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    w.warmup()
    line("info", "session_start_s", sessionS, "s")
    line("info", "generate_s", genS, "s")
    setupS.zipWithIndex.foreach { case (s, i) => line("info", s"setup_$i", s, "s") }
    line("info", "warmup_s", (System.nanoTime() - tw) / 1e9, "s")
    val out = new Outcome
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!traced) {
      // measure until the ops (not their untimed checks) took `seconds`
      // and at least `minOps` ran
      val opMs = mutable.ArrayBuffer[Double]()
      var i = 0
      val tm = System.nanoTime()
      while (opMs.sum / 1000 < seconds || opMs.length < w.minOps) {
        opMs += runOp(w, i, out, ctx.tr)
        i += 1
      }
      line("info", "measure_s", (System.nanoTime() - tm) / 1e9,
        f"s (ops ${opMs.sum / 1000}%.1f s)")
      w.info(opMs.toSeq).foreach { case (k, v, u) => line(name, k, v, u) }
      metrics("setup_s") = (Stats.median(setupS), "s")
      metrics("op_p50_ms") = (Stats.median(opMs.toSeq), "ms")
      metrics("op_p90_ms") = (Stats.quantile(opMs.toSeq, 0.9), "ms")
      w.endToEnd.foreach { case (k, v, u) => metrics(k) = (v, u) }
      metrics("heap_retained_mb") = (retainedHeapMb(), "MB")
      line("info", "peak_rss_mb", peakRssMb(), "MB")
    } else {
      // a fixed number of ops, each run untraced and traced, the order
      // alternating, so the two means (the tracer's overhead) see the
      // same inputs and the same warm-up trend
      val off = ctx.tr
      val tr = new Trace(spark, enabled = true)
      val plain, withTrace = mutable.ArrayBuffer[Double]()
      (0 until w.tracedOps).foreach { i =>
        val order = if (i % 2 == 0) Seq(off, tr) else Seq(tr, off)
        order.foreach { t =>
          ctx.tr = t
          (if (t.enabled) withTrace else plain) += runOp(w, i, out, t)
        }
      }
      val att = tr.attribute()
      val ops = tr.all.filter(_.name == "op")
      val fs = ops.map(_.fs).foldLeft(FsStats.Zero)(_ + _)
      val overhead = (Stats.mean(withTrace.toSeq) / Stats.mean(plain.toSeq) - 1) * 100
      val perCall = Layers.perCall(tr.all, att)
      perCall.filter(_._1 != "op").foreach { case (span, m) =>
        m.foreach { case (k, v) => line(name, s"$span.$k", v, "") }
      }
      Layers.unattributedInOps(ops, att).groupBy(_.callSite).toSeq.sortBy(-_._2.length)
        .foreach { case (site, js) =>
          println(s"# unattributed ${js.length} job(s) at $site")
        }
      w.info(withTrace.toSeq).foreach { case (k, v, u) => line(name, k, v, u) }
      val sub = Layers.substrate(ops, att, fs) :+
        (("trace.overhead_pct", overhead, "%"))
      sub.foreach { case (k, v, u) => metrics(k) = (v, u) }
      writeTrace(args.getOrElse("--trace-dir", work), name, seed, tr, att,
        perCall, sub)
    }
    val result = Json.render(mutable.LinkedHashMap(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }))
    println(result)
    0
  }

  private def writeTrace(dir: String, name: String, seed: Long, tr: Trace,
                         att: Trace.Attribution,
                         perCall: Seq[(String, mutable.LinkedHashMap[String, Double])],
                         sub: Seq[(String, Double, String)]): Unit = {
    val spans = tr.all.map(s => mutable.LinkedHashMap(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
      "start_ms" -> s.startMs, "wall_ms" -> s.wallMs, "self_ms" -> s.selfMs,
      "jobs" -> att.jobsOf(s.id).map(_.id), "fs_ops" -> s.fs.totalOps,
      "fs_write_bytes" -> s.fs.writeBytes, "notes" -> s.notes))
    val doc = mutable.LinkedHashMap(
      "workload" -> name, "seed" -> seed,
      "substrate" -> sub.map { case (k, v, _) => k -> v }.toMap,
      "per_call" -> perCall.toMap,
      "unattributed" -> Layers.unattributedInOps(tr.all.filter(_.name == "op"),
        att).map(j => mutable.LinkedHashMap(
        "job" -> j.id, "call_site" -> j.callSite)),
      "spans" -> spans)
    val f = new java.io.File(dir, s"$name-seed$seed-${ProcessHandle.current.pid}.json")
    java.nio.file.Files.writeString(f.toPath, Json.render(doc))
    println(s"# trace written to ${f.getPath}")
  }
}
