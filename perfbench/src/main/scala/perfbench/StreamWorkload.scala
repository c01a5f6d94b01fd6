package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, hash, lit, sum}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.EventStream

/** One micro-batch as Spark's progress event reports it. */
final case class Progress(batchId: Long, start: Long, durations: Map[String, Long]) {
  def trigger: Long = durations.getOrElse("triggerExecution", 0L)
}

/** `admission_stream`: st25, the streamed admission loop — four
  * checkpointed micro-batches over CDC slices of the documents, each
  * deciding admissions against three zones and feeding the admitted rows
  * back, then the zones' post-stream compaction. Its cost is per-batch
  * orchestration on small inputs. One op is one whole loop, run cold in
  * the fresh session the way a scheduled curation job runs it: a warm-up
  * loop would cost as much as the op and the run budget holds only one of
  * the two. The input is `perfbench/corpus.py`'s fixed corpus with the
  * fixture tables' properties. The first loop's result is checked against
  * the DuckDB oracle and every further loop must return the same rows.
  */
final class StreamWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx.{cfg, spark}

  private val dir = cfg.dataDir
  private val progress = new ConcurrentLinkedQueue[Progress]
  // progress events are posted whether or not the run is traced
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)): Unit
    }
  })

  private var first: Option[(Long, Long)] = None
  private var last: DataFrame = _

  private def loop(): DataFrame = ctx.as("streaming", "st25") {
    val df = EventStream.streamSemanticAdmissionLoop(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    df
  }

  private def checksum(df: DataFrame): (Long, Long) = ctx.as("bench", "checksum") {
    val r = df.select(count(lit(1)), sum(hash(df.columns.map(col).toSeq: _*).cast("long")))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The loop stages its own CDC source; set-up checks that the input
    * tables are readable and of one size (plain reads: the program's
    * cached counts must stay cold for the op).
    */
  def setup(): Unit = ctx.as("bench", "input sizes") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    val embs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    require(docs > 0 && docs == embs, s"$docs documents, $embs embeddings in $dir")
  }

  def warmUp(): Unit = ()

  def op(i: Int): OpOut = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    progress.clear()
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    last = loop()
    graft.core.Caches.release(blocking = true)
    val wall = (System.nanoTime() - t0) / 1e9
    val s1 = System.currentTimeMillis()
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val batches = progress.asScala.toSeq.filter(_.durations.contains("addBatch"))
      .sortBy(_.batchId)
    val values = Map("batches" -> batches.size.toDouble) ++
      phases.map { case (k, name) =>
        name -> batches.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
      } ++
      Map("stream.batch.trigger_s" -> batches.map(_.trigger).sum / 1000.0) ++
      batches.map(b => s"batch${b.batchId}_s" -> b.trigger / 1000.0)
    OpOut(i, s0, s1, wall, values,
      marks = batches.map(b => s"batch${b.batchId}" -> (b.start, b.start + b.trigger)).toMap)
  }

  private val phases = Seq(
    "addBatch" -> "stream.batch.add_batch_s",
    "queryPlanning" -> "stream.batch.query_planning_s",
    "latestOffset" -> "stream.batch.latest_offset_s",
    "walCommit" -> "stream.batch.wal_commit_s",
    "commitOffsets" -> "stream.batch.commit_offsets_s")

  /** The first loop's rows go to the DuckDB oracle check (run.py); every
    * later loop must return the same rows (count and hash sum).
    */
  def check(out: OpOut): Unit = {
    val got = checksum(last)
    first match {
      case None =>
        // the layout tools/check_oracle.py reads: <name>/ and oracle_sql.json
        val name = "st25_stream_admission_loop"
        ctx.as("bench", "oracle output")(
          last.coalesce(1).write.parquet(ctx.out.resolve(name).toString))
        java.nio.file.Files.write(ctx.out.resolve("oracle_sql.json"),
          Json(Map(name -> graft.SparkEntry.oracleSql(name))).getBytes("UTF-8"))
        first = Some(got)
      case Some(f) if f != got =>
        ctx.incorrect(s"loop ${out.index} returned (rows, hash) $got, the first loop $f")
      case _ =>
    }
    last = null
    if (out.values("batches") != 4)
      ctx.incorrect(s"loop ${out.index} ran ${out.values("batches")} micro-batches, expected 4")
  }

  def failingOp(): Unit =
    EventStream.streamSemanticAdmissionLoop(spark, s"$dir/missing").count(): Unit

  def finish(): Unit = ()

  private def batchesOf(out: OpOut): Seq[(Long, Long)] =
    out.marks.toSeq.filter(_._1.startsWith("batch")).map(_._2).sortBy(_._1)

  def steps(out: OpOut, ev: Events, op: Span, nextId: () => Long): Seq[Span] =
    out.marks.toSeq.sortBy(_._2._1).map { case (name, (a, b)) =>
      Span(nextId(), op.id, op.op, "step", name, a, b)
    }

  def layerMetrics(traced: Seq[(OpOut, Events)]): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val outs = traced.map(_._1)
    m("stream.batch_p50_s") = median(outs.flatMap(o => batchesOf(o).map {
      case (a, b) => (b - a) / 1000.0 }))
    (phases.map(_._2) :+ "stream.batch.trigger_s").foreach { k =>
      m(k) = mean(outs.map(_.values(k)))
    }
    val post = outs.map(o => o.wall - o.values("stream.batch.trigger_s"))
    m("stream.post_stream_s") = mean(post)
    m("stream.phase_coverage") = mean(outs.zip(post).map { case (o, p) =>
      (phases.map(x => o.values(x._2)).sum + p) / o.wall
    })
    def inBatches(o: OpOut, t: Long) = batchesOf(o).exists { case (a, b) => t >= a && t <= b }
    def perBatch(f: (OpOut, Events) => Double) = mean(traced.map { case (o, e) =>
      f(o, e) / math.max(o.values("batches"), 1.0)
    })
    m("stream.jobs_per_batch") = perBatch((o, e) => e.jobs.count(j => inBatches(o, j.start)).toDouble)
    m("stream.sql_execs_per_batch") =
      perBatch((o, e) => e.execs.count(x => inBatches(o, x.start)).toDouble)
    m("stream.catalyst_s_per_batch") = perBatch((o, e) =>
      e.catalyst.filter(c => inBatches(o, c.start))
        .map(c => c.analysisMs + c.optimizationMs + c.planningMs).sum / 1000.0)
    m("stream.write.files") = mean(traced.map(_._2.jobs.map(_.outFiles).sum.toDouble))
    m("stream.write.bytes") = mean(traced.map(_._2.jobs.map(_.outBytes).sum.toDouble))
    m.toMap
  }
}
