package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{BundleKpiSink, ReplayStreamSource, StreamDedup}

/** Stream replay workload: the generated events table replayed through
  * [[ReplayStreamSource]] (a fixed simulated advance per trigger at a fixed
  * processing-time interval), deduplicated within the watermark and folded
  * into [[BundleKpiSink]] at a fixed offered load. The paced query is
  * started during the warm-up, so its first triggers (which also build the
  * replay cursor) are not timed.
  */
final class StreamReplay(ctx: Ctx) extends Workload {
  private val intervalMs = ctx.int("interval_ms")
  private val advanceSec = ctx.dbl("advance_sec")
  private val subjectPred = col("user_id") < lit(ctx.int("subject_users").toLong)

  /** Per-trigger sink timing, recorded from inside foreachBatch. */
  private final class Sink(label: String) {
    val kpi = new BundleKpiSink(subjectPred, lit(true), "value")
    val calls = mutable.ArrayBuffer.empty[(Long, Long, Long)] // batchId, start, end (epoch µs)
    def step(b: Dataset[Row], id: Long): Unit = {
      val s = wallUs()
      ctx.tracer.span("streaming.sink", s"$label:$id")(kpi.step(b, id))
      synchronized(calls += ((id, s, wallUs())))
    }
  }

  // Wall clock in µs on the same base as StreamingQueryProgress.timestamp.
  private val wallBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  private def wallUs(): Long = wallBaseUs + (System.nanoTime() - nanoBase) / 1000L

  private val phases = mutable.LinkedHashMap.empty[String, Any]

  private def start(path: String, label: String, sink: Sink, trigger: Trigger,
                    ckpt: String): StreamingQuery = {
    val stream = ctx.spark.readStream
      .format(classOf[ReplayStreamSource].getName)
      .option("path", path).option("tsCol", "ts")
      .option("simAdvancePerTriggerSec", advanceSec.toString)
      .load()
    StreamDedup.exactWithinWatermark(stream, "ts", Seq("event_id"), ctx.str("watermark"))
      .writeStream.queryName(label)
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .foreachBatch((b: Dataset[Row], id: Long) => sink.step(b, id))
      .start()
  }

  def setup(spark: SparkSession): Unit =
    spark.read.parquet(ctx.str("replay_path")).schema

  private var paced: StreamingQuery = _
  private val pacedSink = new Sink("paced")
  private var measureStartUs = 0L

  /** An unpaced replay of the warm-up table primes the streaming path; then
    * the paced query starts and runs its first `prime_triggers` triggers.
    */
  def warm(deadlineNs: Long): Unit = {
    val q = start(ctx.str("warm_path"), "warm", new Sink("warm"),
      Trigger.ProcessingTime(0L), s"${ctx.runDir}/ckpt-warm")
    while (System.nanoTime() < deadlineNs && q.isActive) Thread.sleep(20)
    q.stop()
    ctx.attempted += 1
    paced = start(ctx.str("replay_path"), "paced", pacedSink,
      Trigger.ProcessingTime(intervalMs.toLong), s"${ctx.runDir}/ckpt-paced")
    val primeEnd = System.nanoTime() + 60L * 1000000000L
    while (System.nanoTime() < primeEnd && paced.isActive &&
      pacedSink.synchronized(pacedSink.calls.size) < ctx.int("prime_triggers")) Thread.sleep(5)
  }

  /** Progress reports of `q` joined to the sink's per-trigger timing. */
  private def triggers(q: StreamingQuery, sink: Sink, label: String): Seq[Map[String, Any]] = {
    val calls = sink.synchronized(sink.calls.map(c => c._1 -> c).toMap)
    val moments = sink.kpi.history.toMap
    def acc(a: BundleKpiSink.Acc) = Seq(a.n, a.sum, a.mn, a.mx, a.sumSq)
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val state = Option(p.stateOperators).toSeq.flatten
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val c = calls.get(p.batchId)
      if (ctx.tracer.enabled && startUs >= measureStartUs) {
        val ref = s"$label:${p.batchId}"
        val toNs = (us: Long) => nanoBase + (us - wallBaseUs) * 1000L
        val trig = ctx.tracer.record("streaming.trigger", ref, toNs(startUs),
          toNs(startUs + ms("triggerExecution") * 1000L), ctx.counters(s"trigger:${p.batchId}"))
        var at = startUs
        Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
          .foreach { k => ctx.tracer.record(s"streaming.$k", ref, toNs(at),
            toNs(at + ms(k) * 1000L), parent = trig); at += ms(k) * 1000L }
      }
      Map("batch" -> p.batchId, "start_us" -> startUs, "rows" -> p.numInputRows,
        "end_offset" -> p.sources.head.endOffset.trim.toLong,
        "duration_ms" -> Seq("latestOffset", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets", "triggerExecution", "getBatch").map(k => k -> ms(k)).toMap,
        "state_rows" -> state.map(_.numRowsTotal).sum,
        "state_bytes" -> state.map(_.memoryUsedBytes).sum,
        "sink_start_us" -> c.map(_._2), "sink_end_us" -> c.map(_._3),
        "moments" -> moments.get(p.batchId).map { case (sj, ct) => Seq(acc(sj), acc(ct)) })
    }
  }

  /** The paced query runs until the deadline; triggers that start after
    * this point are the timed ones.
    */
  def measure(deadlineNs: Long): Unit = {
    measureStartUs = wallUs()
    while (System.nanoTime() < deadlineNs && paced.isActive) Thread.sleep(20)
    paced.stop()
    phases("paced") = triggers(paced, pacedSink, "paced")
    paced.exception.foreach(e => { ctx.failed += 1; ctx.errors += s"paced: ${e.getMessage}".take(400) })
  }

  /** A fresh replay of the whole table in one all-available trigger: its
    * final KPIs and row counts are checked against the batch aggregate.
    */
  def check(): Unit = {
    ctx.attempt("full replay") {
      val sink = new Sink("complete")
      val q = start(ctx.str("replay_path"), "complete", sink, Trigger.AvailableNow(),
        s"${ctx.runDir}/ckpt-complete")
      q.awaitTermination()
      val kpis = sink.kpi.kpis(ctx.spark)
      phases("complete") = Map("columns" -> kpis.columns.toSeq,
        "kpis" -> kpis.collect().head, "rows" -> q.recentProgress.map(_.numInputRows).sum)
    }
  }

  def samples: Map[String, Any] = phases.toMap ++ Map(
    "interval_ms" -> intervalMs, "advance_sec" -> advanceSec, "measure_start_us" -> measureStartUs,
    "cores" -> ctx.cores)
}
