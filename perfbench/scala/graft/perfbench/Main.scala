package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraftSession

/** JVM side of the graft benchmark: runs ONE workload on `local[cores]`,
  * timing calls into graft's public entry points from outside, and writes
  * raw samples, output payloads for the correctness checks and (in traced
  * mode) the span ledger to a JSON file. Percentiles, checks and the
  * contract line are computed by `perfbench/run.py`.
  *
  * Usage: graft.perfbench.Main <manifest.json> <out.json> <seconds> <trace 0|1>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(manifestPath, outPath, seconds, trace) = args
    val man = JsonMethods.parse(new java.io.File(manifestPath))
    val ctx = new Ctx(man, seconds.toDouble, new Tracer(trace == "1"))
    val w: Workload = ctx.str("workload") match {
      case "dashboard"     => new Dashboard(ctx)
      case "stream_replay" => new StreamReplay(ctx)
      case "ingest"        => new Ingest(ctx)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap[String, Any]()
    // Set-up runs several times, each on a fresh session; the last one is
    // kept for the timed phase.
    val setupS = (1 to ctx.int("setups")).map { i =>
      if (i > 1) ctx.stop()
      val t0 = System.nanoTime()
      w.setup(ctx.start())
      (System.nanoTime() - t0) / 1e9
    }
    out("setup_s") = setupS
    val phaseS = mutable.LinkedHashMap[String, Double]()
    def phase(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body; phaseS(name) = (System.nanoTime() - t0) / 1e9
    }
    phase("warm")(w.warm(System.nanoTime() + (ctx.dbl("warm_seconds") * 1e9).toLong))
    ctx.tracer.arm()
    if (ctx.tracer.enabled) ctx.listener = Some(LayerListener.install(ctx.spark))
    phase("measure")(w.measure(System.nanoTime() + (ctx.seconds * 1e9).toLong))
    out("retained_heap_mb") = retainedHeapMb()
    phase("check")(w.check())
    out("phase_s") = phaseS
    out("attempted") = ctx.attempted
    out("failed") = ctx.failed
    out("errors") = ctx.errors.take(20).toSeq
    out("samples") = w.samples
    if (ctx.tracer.enabled) out("spans") = ctx.tracer.all.map(spanJson)
    ctx.stop()
    Json.writeFile(outPath, out)
  }

  /** Heap still in use after the timed phase: the lowest reading over
    * three forced GCs 300 ms apart. Spark's ContextCleaner drops broadcast
    * and shuffle blocks asynchronously once a GC has found them unreachable,
    * so their bytes are only freed by a later collection.
    */
  private def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  private def spanJson(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "ref" -> s.ref,
    "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
    "counters" -> s.counters)
}

/** One benchmark workload: `setup` may run several times, each on a new
  * session; `warm` primes the last one's JIT and caches until its deadline;
  * `measure` runs until the deadline; `check` captures outputs for the
  * correctness checks after timing.
  */
trait Workload {
  def setup(spark: SparkSession): Unit
  def warm(deadlineNs: Long): Unit
  def measure(deadlineNs: Long): Unit
  def check(): Unit
  def samples: Map[String, Any]
}

/** Run-wide state: manifest, session, tracer, attempt/failure counts. */
final class Ctx(val man: JValue, val seconds: Double, val tracer: Tracer) {
  implicit val formats: Formats = DefaultFormats
  var spark: SparkSession = _
  var listener: Option[LayerListener] = None
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def str(k: String): String = (man \ k).extract[String]
  def int(k: String): Int = (man \ k).extract[Int]
  def dbl(k: String): Double = (man \ k).extract[Double]
  def strs(k: String): Seq[String] = (man \ k).extract[Seq[String]]
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  lazy val dataDir: String = str("data")
  lazy val runDir: String = str("run_dir")

  def start(): SparkSession = {
    spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench"),
      shufflePartitions = math.max(cores, 4))
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$runDir/rdd-checkpoints")
    spark
  }

  def stop(): Unit = if (spark != null) {
    graft.ops.OpCaches.releaseAll(blocking = true)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Run one operation, counting it as attempted and, on error, failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** Listener counters since the last take (drains the bus first). */
  def counters(key: String = "current"): Map[String, Double] = listener match {
    case Some(l) => LayerListener.drain(spark.sparkContext); l.take(key).toMap
    case None => Map.empty
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans, null).
  */
object Json {
  def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(x, sb)
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      m.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        write(k.toString, sb); sb += ':'; write(x, sb)
      }
      sb += '}'
    case a: Array[_] => write(a.toSeq, sb)
    case s: Iterable[_] =>
      sb += '['
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; write(x, sb) }
      sb += ']'
    case s: String =>
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(f.toDouble, sb)
    case b: Boolean => sb ++= b.toString
    case n: Number => sb ++= n.toString
    case t: java.sql.Timestamp => sb ++= (t.getTime * 1000 + (t.getNanos / 1000) % 1000).toString
    case t: java.time.Instant => sb ++= (t.getEpochSecond * 1000000 + t.getNano / 1000).toString
    case d: java.sql.Date => write(d.toString, sb)
    case r: Row => write(r.toSeq, sb)
    case other => write(other.toString, sb)
  }

  def writeFile(path: String, v: Any): Unit = {
    val sb = new StringBuilder
    write(v, sb)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  /** Collected rows with their column names, for the output checks. */
  def rows(df: DataFrame, collected: Array[Row]): Map[String, Any] = Map(
    "columns" -> df.columns.toSeq, "rows" -> collected.toSeq)

  /** Order-free digest of collected rows, so repeated responses can be
    * compared without shipping every row.
    */
  def digest(collected: Array[Row]): String = {
    val sb = new StringBuilder
    val lines = collected.map { r => sb.clear(); write(r, sb); sb.toString }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
