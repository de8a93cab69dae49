package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.model.QuerySpec
import graft.query.QueryEngine
import graft.sources.{CsvImport, TableStore, Tables}

/** Ingest workload: the import hub. Each generated wide CSV chunk goes
  * through `CsvImport.readWide` → `autoMap` → `toLongSeries` into
  * `TableStore.appendSeries`; every append is followed by a
  * read-after-write cohort KPI query over the store table. Chunks are
  * imported in rounds of a fixed size, each round into a fresh table, and
  * a run imports a fixed number of rounds, so every run reads the same
  * store sizes however fast the appends are.
  * After timing, the [[KernelStep]] measures the vector kernels.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx.formats

  private val chunks = ctx.strs("chunks")
  private val perRound = ctx.int("chunks_per_round")
  private val targets = (ctx.man \ "features").extract[Seq[Seq[String]]].map(_(1))
  private val spec = QuerySpec.fromJson(ctx.str("read_spec"))
  private val metric = ctx.str("read_metric")
  private var subjects: DataFrame = _
  private var table = ""
  private val done = mutable.ArrayBuffer.empty[Map[String, Any]]

  def setup(spark: SparkSession): Unit = {
    TableStore.createDatabase(spark, "bench")
    subjects = Tables.customer(spark, ctx.dataDir)
      .select(col("c_custkey").cast("string").as("user_id"), col("c_acctbal"), col("c_mktsegment"))
  }

  /** Warm-up: a fixed number of imports and reads into throwaway tables,
    * in rounds like the timed phase, so the create and the append path
    * have both been compiled before timing.
    */
  def warm(deadlineNs: Long): Unit =
    (0 until ctx.int("warm_chunks")).foreach { j =>
      table = s"bench.warm_${j / perRound}"
      importChunk(ctx.str("warm_chunk"), "warm")
    }

  private def tableDir: java.io.File =
    new java.io.File(s"${ctx.runDir}/warehouse/bench.db/${table.stripPrefix("bench.")}")

  private def storeFiles(): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(tableDir)
  }

  /** Import one chunk and run the read-after-write query; returns timings
    * and the read's KPI row.
    */
  private def importChunk(path: String, ref: String): Map[String, Any] = {
    val t = ctx.tracer
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val mapping = t.span("ops.append", ref) {
      val wide = t.span("sources.read_csv", ref)(CsvImport.readWide(spark, path))
      val mapped = t.span("sources.automap", ref)(CsvImport.autoMap(wide.columns.toSeq, targets))
      val m = mapped.collect { case (k, Some(v)) => k -> v }
      val long = t.span("sources.to_long", ref) {
        CsvImport.toLongSeries(wide, ctx.str("csv_user"), ctx.str("csv_ts"), m)
      }
      t.span("sources.append_series", ref) {
        TableStore.appendSeries(long, table, "user_id", "timestamp")
      }
      mapped
    }
    val appendS = (System.nanoTime() - t0) / 1e9
    val appendCounters = if (t.enabled) ctx.counters() else Map.empty[String, Double]
    val t1 = System.nanoTime()
    val kpis = t.span("sources.read_query", ref) {
      val series = spark.table(table).filter(col("metric") === metric)
      val b = t.span("query.build", ref) {
        QueryEngine.run(spec, subjects, series, "user_id", "timestamp", "value",
          cacheCohorts = false)
      }
      t.span("exec.collect", ref)(b.kpis.collect().head)
    }
    val readMs = (System.nanoTime() - t1) / 1e6
    val readCounters = if (t.enabled) ctx.counters() else Map.empty[String, Double]
    Map("append_s" -> appendS, "read_ms" -> readMs, "kpis" -> kpis,
      "mapping" -> mapping.map { case (k, v) => k -> v.orNull },
      "append_counters" -> appendCounters, "read_counters" -> readCounters,
      "store_files" -> (if (t.enabled) storeFiles() else -1))
  }

  /** A fixed number of whole rounds: the nominal rate times the run's
    * seconds, at least one.
    */
  def measure(deadlineNs: Long): Unit = {
    val n = math.max(1, math.round(ctx.seconds * ctx.dbl("rounds_per_s")).toInt)
    chunks.grouped(perRound).filter(_.size == perRound).take(n).zipWithIndex.foreach {
      case (paths, r) =>
        table = s"bench.series_$r"
        tables += table
        paths.zipWithIndex.foreach { case (path, j) =>
          val i = r * perRound + j
          ctx.attempt(s"chunk $i")(importChunk(path, s"chunk:$i"))
            .foreach(x => done += x + ("chunk" -> i) + ("round" -> r))
        }
    }
  }

  private val tables = mutable.ArrayBuffer.empty[String]
  private val storeRows = mutable.LinkedHashMap.empty[String, Long]
  private var kernels = Map.empty[String, Any]
  def check(): Unit = {
    tables.zipWithIndex.foreach { case (t, r) =>
      ctx.attempt(s"store count $r") { storeRows(r.toString) = ctx.spark.table(t).count() }
    }
    kernels = KernelStep.run(ctx, ctx.int("kernel_sample"))
  }

  def samples: Map[String, Any] = Map(
    "chunks" -> done.toSeq, "store_rows" -> storeRows, "kernels" -> kernels,
    "kpi_columns" -> Seq("subj_avg", "subj_min", "subj_max", "subj_rows", "ctrl_avg",
      "ctrl_std", "ctrl_rows", "delta_avg"),
    "cores" -> ctx.cores)
}
