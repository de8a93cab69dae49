package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around each call into a graft layer, kept in memory and
  * written out when the run ends. A span names its layer, its parent span
  * and the request, trigger or job it belongs to; `counters` holds the
  * Spark listener counters taken at the same boundary.
  */
final case class Span(id: Int, name: String, parent: Int, ref: String,
                      startNs: Long, endNs: Long,
                      counters: Map[String, Double])

final class Tracer(traced: Boolean) {
  /** Spans are recorded only while armed: the timed phase of a traced run. */
  @volatile var enabled = false
  def arm(): Unit = enabled = traced

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  /** Time `body` as span `name`; a no-op wrapper when tracing is off. */
  def span[T](name: String, ref: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, parent, ref, t0, t1, Map.empty) }
      }
    }

  /** A span whose bounds were measured elsewhere (e.g. a streaming
    * progress report), with the counters taken over the same interval.
    */
  def record(name: String, ref: String, startNs: Long, endNs: Long,
             counters: Map[String, Double] = Map.empty, parent: Int = 0): Int =
    if (!enabled) 0
    else synchronized {
      nextId += 1
      spans += Span(nextId, name, parent, ref, startNs, endNs, counters)
      nextId
    }

  /** Attach counters to the most recent span named `name` for `ref`. */
  def annotate(name: String, ref: String, counters: Map[String, Double]): Unit =
    if (enabled) synchronized {
      val i = spans.lastIndexWhere(s => s.name == name && s.ref == ref)
      if (i >= 0) spans(i) = spans(i).copy(counters = spans(i).counters ++ counters)
    }

  def all: Seq[Span] = synchronized(spans.toSeq)
}

/** Spark-side counters between two boundaries: jobs, stages, tasks, task
  * time, shuffle, input rows and Catalyst phase times.
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, shuffleRead, shuffleWrite, inputRows = 0L
  var analysisMs, optimizationMs, planningMs = 0.0

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_ms" -> taskMs.toDouble, "shuffle_read_bytes" -> shuffleRead.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.toDouble, "input_rows" -> inputRows.toDouble,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs)
}

/** Listener that fills a [[Counters]] bucket per key. Work run from the
  * benchmark's own thread lands in the "current" bucket, which the caller
  * takes after draining the listener bus; work run by a streaming query is
  * keyed by its batch id (`streaming.sql.batchId`).
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private val buckets = mutable.Map.empty[String, Counters]
  private val stageKey = mutable.Map.empty[Int, String]

  private def keyOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map("trigger:" + _).getOrElse("current")

  private def bucket(k: String): Counters = buckets.getOrElseUpdate(k, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    bucket(k).jobs += 1
    e.stageIds.foreach(s => stageKey(s) = k)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = stageKey.getOrElse(e.stageId, "current")
    val c = bucket(k)
    c.tasks += 1
    c.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.inputRows += m.inputMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    bucket(stageKey.getOrElse(e.stageInfo.stageId, "current")).stages += 1
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val c = bucket("current")
      val ph = qe.tracker.phases
      c.analysisMs += ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
      c.optimizationMs += ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0)
      c.planningMs += ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Remove and return the bucket for `key` (empty if nothing ran). */
  def take(key: String = "current"): Counters = synchronized {
    buckets.remove(key).getOrElse(new Counters)
  }
}

object LayerListener {
  def install(spark: SparkSession): LayerListener = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  def drain(sc: SparkContext): Unit =
    org.apache.spark.sql.graft.CatalystBridge.drainListenerBus(sc, 30000)
}
