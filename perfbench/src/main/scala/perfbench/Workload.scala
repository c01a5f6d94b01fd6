package perfbench

import java.nio.file.Files

import scala.collection.mutable

final case class RunResult(attempted: Int, failed: Int, samples: Int, walls: Seq[Double],
    values: Seq[Map[String, Double]], metrics: Seq[Metric], conf: Map[String, String])

/** One benchmark workload. The base class owns the run protocol:
  *
  *  1. set-up, which [[Main]] times together with the session start
  *     (`setup_s`), then the untimed warm-up;
  *  2. optionally one deliberately failing op (counted, never timed);
  *  3. the measured window: ops run one after another (closed loop, one
  *     client) while the next op is expected to end within `--seconds`;
  *     at least one op always runs. With tracing on, the listeners are
  *     attached for the window, and afterwards a traced and an untraced
  *     op run for `trace_overhead`;
  *  4. the workload's final checks.
  *
  * Correctness checks run after each op, outside its timed interval. An
  * op that throws is counted as failed, logged with its reason, and
  * never timed.
  */
abstract class Workload(val ctx: Ctx) {
  import ctx.{cfg, spark}

  /** Stages the inputs; part of `setup_s`. */
  def setup(): Unit
  /** Untimed warm-up after the set-up. */
  def warmUp(): Unit
  /** One op; throws on failure. */
  def op(i: Int): OpOut
  /** Untimed correctness checks of a finished op. */
  def check(out: OpOut): Unit
  /** An op that is made to fail (used by the smoke test). */
  def failingOp(): Unit
  /** Untimed checks and measurements after the measured window. */
  def finish(): Unit
  /** Workload-specific per-layer metrics of the traced ops. */
  def layerMetrics(traced: Seq[(OpOut, Events)]): Map[String, Double]
  /** The step spans (ETL stages, micro-batches) of one traced op. */
  def steps(out: OpOut, ev: Events, op: Span, nextId: () => Long): Seq[Span]

  private var attempted = 0
  private var failed = 0
  private var overheadWalls = Seq.empty[Double]

  protected def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  protected def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Runs one op: counted, failures logged with their reason. */
  private def attempt(i: Int): Option[OpOut] = {
    attempted += 1
    try {
      val out = op(i)
      graft.core.Caches.release(blocking = true)
      Some(out)
    } catch {
      case t: Throwable =>
        failed += 1
        graft.core.Caches.release(blocking = true)
        System.err.println(s"[perfbench] op $i failed: ${t.getClass.getName}: ${t.getMessage}")
        None
    }
  }

  final def run(setupS: Double): RunResult = {
    warmUp()
    graft.core.Caches.release(blocking = true)

    if (cfg.failOp) {
      attempted += 1
      try { failingOp(); System.err.println("[perfbench] the failing op did not fail") }
      catch {
        case t: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] op failing-op failed: ${t.getClass.getName}: " +
            s"${Option(t.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}")
      }
    }

    var index = 0
    // `before` runs ahead of every op, `onOp` right after a successful
    // one and before its checks
    def window(before: () => Unit, onOp: OpOut => Unit,
        limit: Int = Int.MaxValue): Seq[OpOut] = {
      val outs = mutable.ArrayBuffer.empty[OpOut]
      val totals = mutable.ArrayBuffer.empty[Double]
      val w0 = System.nanoTime()
      def elapsed = (System.nanoTime() - w0) / 1e9
      while (totals.isEmpty ||
          (totals.size < limit && elapsed + median(totals.toSeq) <= cfg.seconds)) {
        val s = System.nanoTime()
        before()
        attempt(index).foreach { out => onOp(out); check(out); outs += out }
        index += 1
        totals += (System.nanoTime() - s) / 1e9
      }
      outs.toSeq
    }

    var traced = Seq.empty[(OpOut, Events)]
    var overhead = Double.NaN
    val measured: Seq[OpOut] =
      if (!cfg.trace) window(() => (), _ => ())
      else {
        val tracer = new Tracer(spark)
        tracer.attach()
        val events = mutable.ArrayBuffer.empty[(OpOut, Events)]
        // the events of checks and failed ops are dropped before each op
        val outs = window(() => tracer.collect(): Unit,
          out => events += out -> tracer.collect())
        tracer.detach()
        traced = events.toSeq
        // overhead: a traced op, then an untraced one, both after the
        // window so that both are warm (the later one is warmer, so the
        // ratio errs high)
        val once = (t: Boolean) => {
          if (t) tracer.attach()
          val out = window(() => (), _ => (), limit = 1)
          if (t) tracer.detach()
          tracer.collect(): Unit
          out.map(_.wall)
        }
        val (t1, u1) = (once(true), once(false))
        overheadWalls = t1 ++ u1
        overhead = median(t1) / median(u1)
        outs
      }
    finish()
    graft.core.Caches.release(blocking = true)

    val walls = measured.map(_.wall)
    val out: Seq[Metric] =
      if (!cfg.trace) {
        val values = Map("setup_s" -> setupS, "op_p50_s" -> median(walls))
        Main.endToEnd.map { case (n, u) => Metric(n, values(n), u) }
      } else {
        val metrics = engineMetrics(traced) ++ layerMetrics(traced) ++ Map(
          "trace_overhead" -> overhead, "peak_heap_mb" -> peakHeapMb())
        Main.perLayer.map { case (n, u) => Metric(n, metrics.getOrElse(n, 0.0), u) }
      }
    RunResult(attempted, failed, walls.size + overheadWalls.size, walls ++ overheadWalls,
      measured.map(_.values), out,
      spark.conf.getAll.toMap)
  }

  private def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024 * 1024)
  }

  /** Engine and module numbers per traced op, and the spans. */
  private def engineMetrics(traced: Seq[(OpOut, Events)]): Map[String, Double] = {
    val n = math.max(traced.size, 1).toDouble
    val jobs = traced.flatMap(_._2.jobs)
    val execs = traced.flatMap(_._2.execs)
    val cat = traced.flatMap(_._2.catalyst)
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("catalyst.analysis_s") = cat.map(_.analysisMs).sum / 1000 / n
    m("catalyst.optimization_s") = cat.map(_.optimizationMs).sum / 1000 / n
    m("catalyst.planning_s") = cat.map(_.planningMs).sum / 1000 / n
    m("exec.task_cpu_s") = jobs.map(_.cpuNs).sum / 1e9 / n
    m("exec.task_run_s") = jobs.map(_.runMs).sum / 1000.0 / n
    m("exec.gc_s") = jobs.map(_.gcMs).sum / 1000.0 / n
    m("shuffle.read_bytes") = jobs.map(_.shuffleRead).sum / n
    m("shuffle.write_bytes") = jobs.map(_.shuffleWrite).sum / n
    m("spill_bytes") = jobs.map(_.spill).sum / n
    m("driver_gap_s") = traced.map { case (o, e) =>
      (o.endMs - o.startMs) / 1000.0 - e.jobs.map(_.runMs).sum / 1000.0 / ctx.cores
    }.sum / n
    m("jobs_per_op") = jobs.size / n
    m("sql_execs_per_op") = execs.size / n
    val execSelf = traced.flatMap(t => Spans.execSelfTimes(t._2.execs))
    Modules.reported.foreach { mod =>
      m(s"layer.$mod.jobs") = jobs.count(_.module == mod) / n
      m(s"layer.$mod.sql_s") = execSelf.filter(_._1.module == mod).map(_._2).sum / n
    }
    m("layer.core.tables_jobs") = jobs.count(_.site.contains("(Tables.scala:")) / n

    // spans: workload → op → step → SQL execution → job
    var id = 0L
    val nextId = () => { id += 1; id }
    val root = nextId()
    val spans = mutable.ArrayBuffer.empty[Span]
    traced.foreach { case (o, e) =>
      val op = Span(nextId(), root, o.index, "op", s"op:${cfg.workload}", o.startMs, o.endMs)
      val st = steps(o, e, op, nextId)
      spans += op
      spans ++= st
      spans ++= Spans.build(op, st, e, nextId)
    }
    if (spans.nonEmpty)
      spans.prepend(Span(root, 0, -1, "workload", cfg.workload,
        spans.map(_.start).min, spans.map(_.end).max))
    val self = Spans.selfTimes(spans.toSeq)
    Seq("op", "step", "sql", "job").foreach { k =>
      m(s"trace.self.${k}_s") = spans.filter(_.kind == k).map(s => self(s.id)).sum / n
    }
    writeSpans(spans.toSeq, self)
    m.toMap
  }

  private def writeSpans(spans: Seq[Span], self: Map[Long, Double]): Unit = {
    val lines = spans.map { s =>
      Json(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "dur_s" -> s.seconds, "self_s" -> self(s.id)))
    }
    Files.write(ctx.out.resolve("spans.jsonl"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8")): Unit
  }
}
