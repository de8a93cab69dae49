package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.model.QuerySpec
import graft.ops.{CohortFilter, OpCaches, SeriesOps, Trajectory}
import graft.query.QueryEngine
import graft.sources.Tables

/** Dashboard workload: one client in a closed loop issues the generated
  * request stream (cohort bundles, multi-feature tables, geo requests);
  * each request's latency runs from its spec parse to its last collected
  * frame. Warm-up and timed phase issue fixed numbers of requests (the
  * timed count is the nominal rate times the run's seconds): request
  * latency keeps falling for dozens of requests, so a time-bound phase
  * would measure a faster engine further along its warm-up.
  */
final class Dashboard(ctx: Ctx) extends Workload {
  import ctx.formats

  private case class Req(id: Int, kind: String, key: String, spec: String,
                         center: Seq[Double], radiusKm: Double)

  private def reqOf(j: JValue) = Req((j \ "id").extract[Int], (j \ "kind").extract[String],
    (j \ "key").extract[String], (j \ "spec").extract[String],
    (j \ "center").extractOpt[Seq[Double]].getOrElse(Nil),
    (j \ "radius_km").extractOpt[Double].getOrElse(0.0))

  private lazy val requests: Seq[Req] = scala.io.Source.fromFile(ctx.str("requests"))
    .getLines().map(l => reqOf(org.json4s.jackson.JsonMethods.parse(l))).toSeq
  private lazy val warmups: Seq[Req] = (ctx.man \ "warmup").extract[Seq[JValue]].map(reqOf)

  private var subjects: DataFrame = _
  private var events: DataFrame = _
  private var features: Map[String, DataFrame] = _
  private var points: DataFrame = _

  private val done = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val responses = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  private var elapsedS = 0.0

  def setup(spark: SparkSession): Unit = {
    subjects = Tables.customer(spark, ctx.dataDir).withColumnRenamed("c_custkey", "user_id")
    events = Tables.events(spark, ctx.dataDir)
    features = Seq("click", "purchase", "view")
      .map(t => t -> events.filter(col("event_type") === t)).toMap
    // Points as GeoQueries derives them: lon from value, lat from props.k.
    points = events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("lon", lit(-118.0) + col("value") / lit(100))
      .withColumn("lat", lit(34.0) + col("k").cast("double") / lit(100.0))
  }

  private val warmMs = mutable.ArrayBuffer.empty[Double]
  def warm(deadlineNs: Long): Unit = {
    Iterator.continually(warmups).flatten.take(ctx.int("warm_requests")).foreach { r =>
      val t0 = System.nanoTime(); run(r); warmMs += (System.nanoTime() - t0) / 1e6
    }
    OpCaches.releaseAll(blocking = true)
  }

  /** Execute one request; returns its frames' collected rows by name. */
  private def run(r: Req): Seq[(String, DataFrame, Array[Row])] = {
    val t = ctx.tracer
    val ref = s"request:${r.id}"
    val spec = t.span("model.spec_roundtrip", ref) {
      QuerySpec.fromJson(QuerySpec.fromJson(r.spec).toJson)
    }
    def exec(name: String, df: DataFrame) =
      (name, df, t.span("exec.collect", ref)(df.collect()))
    r.kind match {
      case "bundle" =>
        val b = t.span("query.build", ref) {
          QueryEngine.run(spec, subjects, events, "user_id", "ts", "value")
        }
        Seq(exec("kpis", b.kpis), exec("tod_kpis", b.todKpis), exec("user_spans", b.userSpans))
      case "features" =>
        val f = t.span("query.build", ref) {
          QueryEngine.runFeatures(spec, subjects, features, "user_id", "ts", "value")
        }
        Seq(exec("features", f))
      case "geo" =>
        val (path, near) = t.span("query.build", ref) {
          val cohort = CohortFilter(subjects, spec.subjectSelection.filters())
          val win = SeriesOps.dateRange(points, "ts", spec.startDate, spec.endDate)
          val semi = CohortFilter.semiJoin(win, cohort, "user_id")
          (Trajectory.pathLength(semi, "user_id", "ts", "lon", "lat", "event_id"),
            Trajectory.withinRadius(semi, "event_id", "lat", "lon",
              r.center.head, r.center(1), r.radiusKm))
        }
        Seq(exec("path_length", path), exec("radius", near))
    }
  }

  def measure(deadlineNs: Long): Unit = {
    val sc = ctx.spark.sparkContext
    val t0 = System.nanoTime()
    val it = requests.iterator.take(math.round(ctx.seconds * ctx.dbl("requests_per_s")).toInt)
    while (it.hasNext) {
      val r = it.next()
      sc.setJobGroup(s"request:${r.id}", r.kind)
      val s0 = System.nanoTime()
      val out = ctx.tracer.span(s"ops.${r.kind}", s"request:${r.id}") {
        ctx.attempt(s"request ${r.id}")(run(r))
      }
      val ms = (System.nanoTime() - s0) / 1e6
      if (ctx.tracer.enabled)
        ctx.tracer.annotate(s"ops.${r.kind}", s"request:${r.id}",
          ctx.counters() + ("cache_frames" -> OpCaches.registered.toDouble))
      out.foreach { frames =>
        done += Map("id" -> r.id, "kind" -> r.kind, "key" -> r.key, "ms" -> ms,
          "digests" -> frames.map { case (n, _, rows) => n -> Json.digest(rows) }.toMap)
        if (!responses.contains(r.key))
          responses(r.key) = frames.map { case (n, df, rows) => n -> Json.rows(df, rows) }.toMap
      }
    }
    elapsedS = (System.nanoTime() - t0) / 1e9
    sc.clearJobGroup()
  }

  def check(): Unit = ()

  def samples: Map[String, Any] = Map(
    "requests" -> done.toSeq, "warm_ms" -> warmMs.toSeq, "elapsed_s" -> elapsedS, "responses" -> responses,
    "cache_frames_end" -> OpCaches.registered, "cores" -> ctx.cores)
}
