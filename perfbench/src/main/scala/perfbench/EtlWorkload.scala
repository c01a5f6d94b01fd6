package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.cardano.{Analytics, BlockfrostSource, Lake, Pipelines, Watermarks}

/** Call counters of [[CountingBackend]]. Executors run in the driver JVM
  * (local mode), so one set of static counters sees every task's calls.
  */
object CountingBackend {
  val calls = new AtomicLong
  val nanos = new AtomicLong
  private val stamps = new ConcurrentLinkedQueue[java.lang.Long]

  def reset(): Unit = { calls.set(0); nanos.set(0); stamps.clear() }
  private[perfbench] def stamp(t: Long): Unit = stamps.add(t): Unit

  /** Most calls seen in any one-second window since the last reset. */
  def peakRps: Double = {
    val ts = stamps.asScala.map(_.longValue).toArray.sorted
    var best = 0
    var lo = 0
    ts.indices.foreach { hi =>
      while (ts(hi) - ts(lo) >= 1000000000L) lo += 1
      best = math.max(best, hi - lo + 1)
    }
    best.toDouble
  }
}

/** Delegates to the shipped backend and counts calls, time spent inside
  * them and their timestamps, so that a gain that comes from calling the
  * API faster than its quota shows.
  */
final class CountingBackend(inner: BlockfrostSource.Backend) extends BlockfrostSource.Backend {
  private def counted[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      CountingBackend.calls.incrementAndGet()
      CountingBackend.nanos.addAndGet(t1 - t0)
      CountingBackend.stamp(t1)
    }
  }
  override def block(h: Long): Option[String] = counted(inner.block(h))
  override def blockTxs(h: Long): Option[String] = counted(inner.blockTxs(h))
  override def tx(hash: String): Option[String] = counted(inner.tx(hash))
  override def txUtxo(hash: String): Option[String] = counted(inner.txUtxo(hash))
}

/** A backend whose every call fails: the smoke test's failing op. */
final class FailingBackend extends BlockfrostSource.Backend {
  private def fail = throw new java.io.IOException("injected backend failure")
  override def block(h: Long): Option[String] = fail
  override def blockTxs(h: Long): Option[String] = fail
  override def tx(hash: String): Option[String] = fail
  override def txUtxo(hash: String): Option[String] = fail
}

/** Closed-form contents of the fixture chain (`FixtureBackend`): block h
  * holds h % 3 transactions; each has one input with one or two amounts
  * (two when its number n is even), one output with one amount, and one
  * output_amount entry; its input carries reference script n % 7 when
  * n % 5 == 0, with a lovelace amount of n % 2000000.
  */
object FixtureChain {
  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The number n of each transaction of heights lo..hi. */
  def txNumbers(lo: Long, hi: Long): Seq[Long] =
    (lo to hi).flatMap(h =>
      (0L until h % 3).map(i => java.lang.Long.parseLong(sha(s"tx:$h:$i").take(12), 16)))

  def tableCounts(lo: Long, hi: Long): Map[String, Long] = {
    val ns = txNumbers(lo, hi)
    val blocks = hi - lo + 1
    val txs = ns.size.toLong
    Map(
      "cardano_blocks" -> blocks,
      "cardano_block_transactions" -> blocks,
      "cardano_transactions" -> txs,
      "cardano_tx_output_amount" -> txs,
      "cardano_tx_utxo" -> txs,
      "cardano_tx_utxo_input" -> txs,
      "cardano_tx_utxo_input_amount" -> ns.map(n => if (n % 2 == 0) 2L else 1L).sum,
      "cardano_tx_utxo_output" -> txs,
      "cardano_tx_utxo_output_amount" -> txs)
  }

  /** Q6: (script, tx count), top 10 by count desc then script. */
  def q6(lo: Long, hi: Long): Seq[(String, Long)] =
    txNumbers(lo, hi).filter(_ % 5 == 0).groupBy(n => s"script${n % 7}")
      .map { case (k, v) => k -> v.size.toLong }.toSeq
      .sortBy { case (k, c) => (-c, k) }.take(10)

  /** Q8: (script, lovelace volume), top 10 by volume desc then script. */
  def q8(lo: Long, hi: Long): Seq[(String, BigInt)] =
    txNumbers(lo, hi).filter(_ % 5 == 0).groupBy(n => s"script${n % 7}")
      .map { case (k, v) => k -> v.map(n => BigInt(n % 2000000)).sum }.toSeq
      .sortBy { case (k, c) => (-c, k) }.take(10)
}

/** `cardano_etl`: the paper's incremental, idempotent ETL. The fixture
  * chain goes through `Pipelines` into a parquet warehouse. Set-up loads
  * a short history into a fresh warehouse; the warm-up is one full tick
  * (with its re-run) and the analytics; each op is a tick: `runFull`
  * over the next blocks (the timed latency), then an idempotent re-run
  * of the same range, which must add nothing. After
  * the last tick the reference's Q6–Q8 analytics run and every table and
  * answer is checked against the chain's closed form.
  */
final class EtlWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx.{cfg, spark}

  private val tickBlocks = if (cfg.smoke) 20L else 100L
  private val preloadBlocks = if (cfg.smoke) 10L else 20L
  /** The seed picks the starting height. */
  private val firstHeight = 1000L + java.lang.Math.floorMod(cfg.seed, 100000L) * 100L
  private val root: Path =
    Files.createTempDirectory(Files.createDirectories(ctx.out), "etl")
  private val warehouse = root.resolve("warehouse")
  private val pipelines = new Pipelines(
    spark,
    new Lake(spark, root.resolve("lake").toString),
    warehouse.toString,
    new Watermarks(spark, root.resolve("status").toString),
    new CountingBackend(new BlockfrostSource.FixtureBackend))
  private var nextHeight = firstHeight
  private var analyticsS = Double.NaN

  /** Data files (no checksums, markers or hidden files) → size. */
  private def files(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot { p => val n = p.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  private def analytics(): (Seq[(String, Long)], Long, Seq[(String, BigInt)]) = ctx.as("cardano", "analytics") {
    val in = pipelines.readTable("cardano_tx_utxo_input")
    val q6 = Analytics.topProtocolsByTxCount(in).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val q7 = Analytics.txMissingUtxo(pipelines.readTable("cardano_transactions"), in)
      .collect().length.toLong
    val q8 = Analytics.topProtocolsByVolume(in, pipelines.readTable("cardano_tx_utxo_input_amount"))
      .collect().map(r => r.getString(0) -> BigInt(r.getDecimal(1).toBigIntegerExact)).toSeq
    (q6, q7, q8)
  }

  private def load(n: Long, what: String): Unit = {
    val last = nextHeight + n - 1
    ctx.as("cardano", what) {
      pipelines.runFull(nextHeight, last)
      pipelines.runFull(nextHeight, last)
    }
    nextHeight = last + 1
  }

  /** Loads a short history (with its re-run). */
  def setup(): Unit = load(preloadBlocks, "preload")

  /** One untimed tick of full size, with its re-run, and the analytics:
    * the first tick after the history still runs about 10% slow, the
    * ones after it within about 1% of each other.
    */
  def warmUp(): Unit = {
    load(tickBlocks, "warm-up")
    analytics(): Unit
  }

  def op(i: Int): OpOut = {
    val a = nextHeight
    val b = a + tickBlocks - 1
    val before = files(root)
    CountingBackend.reset()
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    ctx.as("cardano", s"tick $i")(pipelines.runFull(a, b))
    val tick = (System.nanoTime() - t0) / 1e9
    val s1 = System.currentTimeMillis()
    val fetchCalls = CountingBackend.calls.get.toDouble
    val fetchS = CountingBackend.nanos.get / 1e9
    val peak = CountingBackend.peakRps
    val afterTick = files(root)
    val t1 = System.nanoTime()
    ctx.as("cardano", s"rerun $i")(pipelines.runFull(a, b))
    val rerun = (System.nanoTime() - t1) / 1e9
    val s2 = System.currentTimeMillis()
    nextHeight = b + 1
    val newFiles = afterTick.keySet -- before.keySet
    val wh = warehouse.toString
    val newParquet = newFiles.filter(f => f.startsWith(wh) && f.endsWith(".parquet"))
    val rerunAdded = (files(warehouse).keySet -- afterTick.keySet).size
    OpOut(i, s0, s2, tick,
      values = Map(
        "first" -> a.toDouble, "last" -> b.toDouble,
        "rerun_s" -> rerun, "rerun_files" -> rerunAdded.toDouble,
        "etl.fetch.calls" -> fetchCalls, "etl.fetch.backend_s" -> fetchS,
        "etl.fetch.peak_rps" -> peak,
        "etl.write.files_per_tick" -> newFiles.size.toDouble,
        "warehouse_bytes" -> newParquet.toSeq.map(afterTick).sum.toDouble),
      marks = Map("tick" -> (s0, s1), "rerun" -> (s1, s2)))
  }

  def check(out: OpOut): Unit = {
    val range = s"${out.values("first").toLong}-${out.values("last").toLong}"
    if (out.values("rerun_files") != 0)
      ctx.incorrect(s"re-run of $range added ${out.values("rerun_files")} warehouse files")
    val expectedCalls = {
      val ns = FixtureChain.txNumbers(out.values("first").toLong, out.values("last").toLong)
      2 * (out.values("last") - out.values("first") + 1) + 2 * ns.size
    }
    if (out.values("etl.fetch.calls") != expectedCalls)
      ctx.incorrect(s"tick $range made ${out.values("etl.fetch.calls")} backend calls, " +
        s"expected $expectedCalls")
  }

  def failingOp(): Unit = {
    val r = Files.createDirectories(ctx.out.resolve("etl_failing"))
    new Pipelines(spark, new Lake(spark, r.resolve("lake").toString),
      r.resolve("warehouse").toString, new Watermarks(spark, r.resolve("status").toString),
      new FailingBackend).runFull(1, 5)
  }

  def finish(): Unit = {
    val lo = firstHeight
    val hi = nextHeight - 1
    val t0 = System.nanoTime()
    val (q6, q7, q8) = analytics()
    analyticsS = (System.nanoTime() - t0) / 1e9
    if (q6 != FixtureChain.q6(lo, hi)) ctx.incorrect(s"Q6 over $lo-$hi: $q6")
    if (q7 != 0) ctx.incorrect(s"Q7 over $lo-$hi: $q7 transactions without UTXO rows")
    if (q8 != FixtureChain.q8(lo, hi)) ctx.incorrect(s"Q8 over $lo-$hi: $q8")
    val want = FixtureChain.tableCounts(lo, hi)
    ctx.as("cardano", "counts") {
      want.toSeq.sortBy(_._1).foreach { case (t, n) =>
        val got = pipelines.readTable(t).count()
        if (got != n) ctx.incorrect(s"$t over $lo-$hi has $got rows, expected $n")
      }
      val dupBlocks = pipelines.readTable("cardano_blocks").groupBy(col("height")).count()
        .filter(col("count") > 1).count()
      if (dupBlocks != 0) ctx.incorrect(s"$dupBlocks block heights loaded twice")
    }
  }

  private val stages = Seq("blocks", "block_txs", "transactions", "utxos")

  /** Each stage's span: from the first to the last SQL execution whose
    * call site is inside that `Pipelines.run*` call during the tick.
    */
  private def stageSpans(out: OpOut, ev: Events): Seq[(String, Long, Long)] = {
    val (t0, t1) = out.marks("tick")
    stages.flatMap { st =>
      val xs = ev.execs.filter(x => x.stage.contains(st) && x.start >= t0 && x.start <= t1)
      if (xs.isEmpty) None else Some((st, xs.map(_.start).min, xs.map(_.end).max))
    }
  }

  def steps(out: OpOut, ev: Events, op: Span, nextId: () => Long): Seq[Span] = {
    val (r0, r1) = out.marks("rerun")
    stageSpans(out, ev).map { case (st, a, b) =>
      Span(nextId(), op.id, op.op, "step", s"stage:$st", a, b)
    } :+ Span(nextId(), op.id, op.op, "step", "rerun", r0, r1)
  }

  def layerMetrics(traced: Seq[(OpOut, Events)]): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val spans = traced.map { case (o, e) => stageSpans(o, e) }
    stages.foreach { st =>
      m(s"etl.stage.${st}_s") = mean(spans.map(_.filter(_._1 == st)
        .map { case (_, a, b) => (b - a) / 1000.0 }.sum))
    }
    Seq("etl.fetch.calls", "etl.fetch.backend_s", "etl.fetch.peak_rps",
        "etl.write.files_per_tick").foreach { k =>
      m(k) = mean(traced.map(_._1.values(k)))
    }
    m("etl.rerun_s") = mean(traced.map(_._1.values("rerun_s")))
    m("etl.rerun.jobs") = mean(traced.map { case (o, e) =>
      val (r0, r1) = o.marks("rerun")
      e.jobs.count(j => j.start >= r0 && j.start <= r1).toDouble
    })
    m("etl.write_amp") = mean(traced.map { case (o, e) =>
      val (t0, t1) = o.marks("tick")
      val written = e.jobs.filter(j => j.start >= t0 && j.start <= t1).map(_.outBytes).sum
      written / math.max(o.values("warehouse_bytes"), 1.0)
    })
    m("etl.analytics_p50_s") = analyticsS
    m.toMap
  }
}
