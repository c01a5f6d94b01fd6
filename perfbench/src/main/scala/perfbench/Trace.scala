package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Repo modules that listener events are attributed to.
  *
  * A SQL execution belongs to the module of the innermost `graft.*` frame
  * on the stack of the thread that plans it ([[PlanSites]]), else of its
  * recorded call site, else to its parent execution's module. A job
  * belongs to its execution's module as planned, else to the innermost
  * `graft.*` frame of its own call site, else to its execution's module.
  * What is left belongs to the layer the benchmark declared in the job
  * description (`bench` otherwise).
  *
  * The planning thread's stack comes first because Spark records one
  * call site for everything a streaming query runs: the query's thread,
  * and the threads it starts, report where the query was started, so the
  * work of a `foreachBatch` function would all read as `streaming`.
  */
object Modules {
  val program: Seq[String] =
    Seq("cardano", "core", "functions", "operators", "queries", "sources", "streaming")
  /** The modules reported per layer. `functions` (Catalyst expressions,
    * evaluated inside tasks) starts no job and `sources` (the Blockfrost
    * data source) runs in neither workload, so call sites cannot show
    * either.
    */
  val reported: Seq[String] =
    Seq("cardano", "core", "operators", "queries", "streaming", "bench")

  def innermostGraftFrame(stack: String): Option[String] =
    Option(stack).iterator.flatMap(_.split('\n')).map(_.trim).find(_.startsWith("graft."))

  def moduleOfFrame(frame: String): String = {
    val seg = frame.stripPrefix("graft.").takeWhile(c => c != '.' && c != '$' && c != '(')
    if (program.contains(seg)) seg
    // graft.SparkEntry and friends: the query registry at the package root
    else if (seg.headOption.exists(_.isUpper)) "queries"
    else "bench"
  }

  /** The layer the benchmark declared in the job description, or the
    * streaming machinery when Spark's micro-batch description replaced it.
    */
  def declared(description: String): String = Option(description) match {
    case Some(d) if d.startsWith(Main.DescPrefix) =>
      d.stripPrefix(Main.DescPrefix).takeWhile(_ != ' ')
    case Some(d) if d.contains("runId = ") => "streaming"
    case _ => "bench"
  }

  def own(stack: String): Option[String] = innermostGraftFrame(stack).map(moduleOfFrame)

  /** The innermost `graft.*` frame of the current thread. */
  def currentFrame(): Option[String] =
    Thread.currentThread.getStackTrace.iterator.map(_.toString).find(_.startsWith("graft."))

  /** The `Pipelines.run*` stage a call site belongs to, if any. */
  private val StageName = """\brun(BlockTxs|Blocks|Transactions|Utxos)\b""".r
  def etlStage(stack: String): Option[String] =
    Option(stack).iterator.flatMap(_.split('\n'))
      .filter(_.contains("graft.cardano.Pipelines"))
      .flatMap(l => StageName.findFirstMatchIn(l).map(_.group(1)))
      .nextOption()
      .map {
        case "Blocks" => "blocks"
        case "BlockTxs" => "block_txs"
        case "Transactions" => "transactions"
        case "Utxos" => "utxos"
      }
}

/** One Spark job as seen by the listener, with its tasks' totals. */
final class JobRec(val id: Int, val start: Long, val execId: Long,
    val module: String, val site: String) {
  var end: Long = start
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outBytes = 0L
  var outFiles = 0L
}

/** Records, while on, the innermost `graft.*` frame of the code that
  * plans each SQL execution: a no-op columnar rule, which Spark applies on
  * the thread that plans a query, inside its SQL execution, reads that
  * thread's stack. It is installed with `SparkSession.Builder.withExtensions`
  * in traced runs only, so the session's conf stays as `graft.Bench` sets
  * it.
  */
object PlanSites {
  private val byExec = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, String]
  @volatile var on = false

  def frameOf(execId: Long): Option[String] = Option(byExec.get(execId))

  def install(ext: SparkSessionExtensions): Unit =
    ext.injectColumnar(session => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
        def apply(plan: SparkPlan): SparkPlan = {
          if (on) Option(session.sparkContext.getLocalProperty("spark.sql.execution.id"))
            .foreach(id => Modules.currentFrame().foreach(byExec.putIfAbsent(id.toLong, _)))
          plan
        }
      }
    })
}

/** One SQL execution; `root` is the top-level execution it is nested
  * in (itself for a top-level one); `planned` is the frame [[PlanSites]]
  * saw plan it, if any.
  */
final class ExecRec(val id: Long, val root: Long, val start: Long,
    val module: String, val stage: Option[String], val planned: Option[String]) {
  var end: Long = start
  def isRoot: Boolean = root == id
}

/** Catalyst phase times of one finished QueryExecution (ms). */
final case class CatalystRec(start: Long, analysisMs: Double,
    optimizationMs: Double, planningMs: Double)

/** What the listeners saw between two [[Tracer.collect]] calls. */
final case class Events(jobs: Seq[JobRec], execs: Seq[ExecRec], catalyst: Seq[CatalystRec])

/** The traced run's listeners: a SparkListener for jobs, tasks and SQL
  * executions, and a QueryExecutionListener for Catalyst phase times.
  * They are attached only while traced ops run and keep their records in
  * memory until [[collect]] (after the listener bus is drained).
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  private val execById = mutable.Map.empty[Long, ExecRec]
  private val catalyst = mutable.ArrayBuffer.empty[CatalystRec]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    PlanSites.on = true
  }

  def detach(): Unit = {
    PlanSites.on = false
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Drains the bus and hands over (and forgets) everything recorded. */
  def collect(): Events = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    synchronized {
      val e = Events(jobs.values.toSeq, execs.values.toSeq, catalyst.toSeq)
      jobs.clear(); stageToJob.clear(); execs.clear(); catalyst.clear()
      e
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).orNull
    // the result stage is the job's last-created stage; its details are
    // the job's call site
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val owner = execById.get(execId)
    val module = owner.filter(_.planned.isDefined).map(_.module).orElse(Modules.own(details))
      .orElse(owner.map(_.module)).getOrElse(Modules.declared(desc))
    val site = owner.flatMap(_.planned).orElse(Modules.innermostGraftFrame(details)).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, e.time, owner.map(_.id).getOrElse(-1L), module, site)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.outBytes += m.outputMetrics.bytesWritten
      if (m.outputMetrics.bytesWritten > 0) j.outFiles += 1
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      // a nested execution (e.g. a query inside a foreachBatch micro-batch)
      // is attributed by its own planning thread or call site, else like
      // its root
      val parent = s.rootExecutionId.filter(_ != s.executionId).flatMap(execById.get)
      val planned = PlanSites.frameOf(s.executionId)
      val rec = new ExecRec(s.executionId, parent.map(_.root).getOrElse(s.executionId), s.time,
        planned.map(Modules.moduleOfFrame).orElse(Modules.own(s.details))
          .orElse(parent.map(_.module)).getOrElse(Modules.declared(s.description)),
        Modules.etlStage(s.details).orElse(parent.flatMap(_.stage)), planned)
      execById(s.executionId) = rec
      execs(s.executionId) = rec
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      execById.get(e.executionId).foreach(_.end = e.time)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    synchronized {
      catalyst += CatalystRec(start, ms("analysis"), ms("optimization"), ms("planning"))
    }
  }
}

/** An in-memory span: workload → op → step (ETL stage or micro-batch)
  * → SQL execution → job. Times are epoch milliseconds; every span of
  * one op carries that op's id.
  */
final case class Span(id: Long, parent: Long, op: Long, kind: String, name: String,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1000.0
}

object Spans {
  /** Length (ms) of the union of `intervals`, clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (curB < 0 || a > curB) {
        if (curB >= 0) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB >= 0) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that
    * its children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.end - s.start - covered(s.start, s.end, kids)) / 1000.0
    }.toMap
  }

  /** Self time (s) of each SQL execution: a top-level one minus what its
    * nested executions cover, a nested one whole.
    */
  def execSelfTimes(execs: Seq[ExecRec]): Seq[(ExecRec, Double)] = {
    val nested = execs.filterNot(_.isRoot).groupBy(_.root)
    execs.map { x =>
      val kids = if (x.isRoot) nested.getOrElse(x.id, Nil).map(k => (k.start, k.end)) else Nil
      x -> (x.end - x.start - covered(x.start, x.end, kids)) / 1000.0
    }
  }

  /** Builds the step → SQL → job levels of one op's spans: a top-level
    * SQL execution hangs under the step whose interval holds its start
    * (else under the op), a nested one under its top-level execution,
    * and a job under its SQL execution (else like a top-level one).
    */
  def build(op: Span, steps: Seq[Span], ev: Events, nextId: () => Long): Seq[Span] = {
    def holder(t: Long): Long =
      steps.find(s => t >= s.start && t <= s.end).map(_.id).getOrElse(op.id)
    val sqlIds = mutable.Map.empty[Long, Long]
    val (roots, nested) = ev.execs.partition(_.isRoot)
    val sqls = (roots ++ nested).map { x =>
      val parent = if (x.isRoot) holder(x.start) else sqlIds.getOrElse(x.root, holder(x.start))
      val sp = Span(nextId(), parent, op.op, "sql", s"sql:${x.module}",
        x.start, math.max(x.end, x.start))
      sqlIds(x.id) = sp.id
      sp
    }
    val jobs = ev.jobs.map { j =>
      Span(nextId(), sqlIds.getOrElse(j.execId, holder(j.start)), op.op, "job",
        s"job:${j.module}", j.start, math.max(j.end, j.start))
    }
    sqls ++ jobs
  }
}
