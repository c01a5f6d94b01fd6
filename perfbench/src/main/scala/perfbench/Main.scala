package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark process (see run.py, which
  * builds the classpath and the inputs and then starts this main).
  */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    scale: String,
    dataDir: String,
    outDir: String,
    failOp: Boolean) {
  def smoke: Boolean = scale == "smoke"
}

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Config(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      scale = kv.getOrElse("scale", "full"),
      dataDir = kv.getOrElse("data", ""),
      outDir = need("out"),
      failOp = kv.get("fail-op").contains("1"))
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** The timing of one successful op: its whole interval (epoch ms) and
  * the wall time that counts as the op's latency, plus workload-specific
  * numbers gathered while it ran.
  */
final case class OpOut(index: Int, startMs: Long, endMs: Long, wall: Double,
    values: Map[String, Double] = Map.empty,
    marks: Map[String, (Long, Long)] = Map.empty)

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val cfg: Config) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val out: Path = Files.createDirectories(Paths.get(cfg.outDir))
  private val reasons = mutable.ArrayBuffer.empty[String]

  /** Records a failed correctness check; the run then reports
    * `"correct": false`.
    */
  def incorrect(reason: String): Unit = {
    System.err.println(s"[perfbench] check failed: $reason")
    reasons += reason
  }
  def checkFailures: Seq[String] = reasons.toSeq

  /** Runs `body` with the benchmark's layer tag in the job description,
    * which attributes jobs issued from the benchmark's own frames.
    */
  def as[T](layer: String, what: String)(body: => T): T = {
    spark.sparkContext.setJobDescription(s"${Main.DescPrefix}$layer $what")
    try body finally spark.sparkContext.setJobDescription(null)
  }
}

object Main {
  val DescPrefix = "perfbench "
  val Cores = 4

  /** Every end-to-end metric, printed on every workload with tracing off. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_s" -> "s")

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  /** Every per-layer metric, printed on every workload with tracing on.
    * A metric that does not apply to the workload reads 0.
    */
  val perLayer: Seq[(String, String)] =
    Seq(
      "catalyst.analysis_s" -> "s",
      "catalyst.optimization_s" -> "s",
      "catalyst.planning_s" -> "s",
      "exec.task_cpu_s" -> "s",
      "exec.task_run_s" -> "s",
      "exec.gc_s" -> "s",
      "shuffle.read_bytes" -> "bytes",
      "shuffle.write_bytes" -> "bytes",
      "spill_bytes" -> "bytes",
      "driver_gap_s" -> "s",
      "jobs_per_op" -> "count",
      "sql_execs_per_op" -> "count") ++
    Modules.reported.flatMap(m => Seq(s"layer.$m.jobs" -> "count", s"layer.$m.sql_s" -> "s")) ++
    Seq(
      "layer.core.tables_jobs" -> "count",
      "trace.self.op_s" -> "s",
      "trace.self.step_s" -> "s",
      "trace.self.sql_s" -> "s",
      "trace.self.job_s" -> "s",
      "trace_overhead" -> "ratio",
      "peak_heap_mb" -> "MB",
      "etl.stage.blocks_s" -> "s",
      "etl.stage.block_txs_s" -> "s",
      "etl.stage.transactions_s" -> "s",
      "etl.stage.utxos_s" -> "s",
      "etl.fetch.calls" -> "count",
      "etl.fetch.backend_s" -> "s",
      "etl.fetch.peak_rps" -> "1/s",
      "etl.rerun_s" -> "s",
      "etl.rerun.jobs" -> "count",
      "etl.write.files_per_tick" -> "count",
      "etl.write_amp" -> "ratio",
      "etl.analytics_p50_s" -> "s",
      "stream.batch_p50_s" -> "s",
      "stream.batch.add_batch_s" -> "s",
      "stream.batch.query_planning_s" -> "s",
      "stream.batch.latest_offset_s" -> "s",
      "stream.batch.wal_commit_s" -> "s",
      "stream.batch.commit_offsets_s" -> "s",
      "stream.batch.trigger_s" -> "s",
      "stream.post_stream_s" -> "s",
      "stream.phase_coverage" -> "ratio",
      "stream.jobs_per_batch" -> "count",
      "stream.sql_execs_per_batch" -> "count",
      "stream.catalyst_s_per_batch" -> "s",
      "stream.write.files" -> "count",
      "stream.write.bytes" -> "bytes")

  /** The session exactly as `graft.Bench` builds it, at 4 cores; a traced
    * run adds [[PlanSites]]' no-op rule, which sets no conf key.
    */
  def session(trace: Boolean): SparkSession = {
    val builder = SparkSession.builder()
    if (trace) builder.withExtensions(PlanSites.install)
    val spark = builder
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", graft.core.Scratch.dir("graft_wh"))
      .config("spark.local.dir", graft.core.Scratch.sparkLocalDir())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    // each set-up starts its own session and stages the workload's inputs
    // afresh; all but the last session are stopped again
    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val ctx = new Ctx(session(cfg.trace), cfg)
      val workload: Workload = cfg.workload match {
        case "cardano_etl" => new EtlWorkload(ctx)
        case "admission_stream" => new StreamWorkload(ctx)
        case other => sys.error(s"unknown workload $other")
      }
      workload.setup()
      graft.core.Caches.release(blocking = true)
      val seconds = (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps) ctx.spark.stop()
      (seconds, ctx, workload)
    }
    val (_, ctx, workload) = setups.last
    val setupS = setups.map(_._1).sorted.apply(SetupReps / 2)
    val result = try workload.run(setupS) finally ctx.spark.stop()
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> cfg.workload,
      "seed" -> cfg.seed,
      "trace" -> cfg.trace,
      "scale" -> cfg.scale,
      "cores" -> ctx.cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors(),
      "setup_walls_s" -> setups.map(_._1),
      "op_samples" -> result.samples,
      "op_walls_s" -> result.walls,
      "op_values" -> result.values,
      "check_failures" -> ctx.checkFailures,
      "spark_conf" -> result.conf)
    println("perfbench-info " + Json(info))
    val out = mutable.LinkedHashMap[String, Any](
      "correct" -> ctx.checkFailures.isEmpty,
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "metrics" -> mutable.LinkedHashMap(result.metrics.map(m =>
        m.name -> mutable.LinkedHashMap("value" -> m.value, "unit" -> m.unit)): _*))
    println("perfbench-result " + Json(out))
  }
}
