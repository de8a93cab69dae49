package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.Tables

/** Kernel-against-chain step: times the native vector kernels (`dotD`,
  * `l2sqD`) against the built-in chains they replace (`dotFold`,
  * `l2sqFold`) over a fixed embeddings self-pair sample. It runs after a
  * workload's timed phase; the two sides of each pair must agree bitwise.
  */
object KernelStep {
  def run(ctx: Ctx, sample: Int): Map[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    ctx.attempt("kernel step") {
      val emb = Tables.embeddings(ctx.spark, ctx.dataDir).filter(col("vec_id") < sample)
      val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
        .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("b")))
        .cache()
      out("pairs") = pairs.count()
      // Timed three times (median) when traced; once, for the check, otherwise.
      val repeats = if (ctx.tracer.enabled) 3 else 1
      def time(name: String, c: Column): (Double, Double) = {
        val runs = (1 to repeats).map { _ =>
          val t0 = System.nanoTime()
          val v = ctx.tracer.span(s"functions.$name", "kernels") {
            pairs.agg(sum(c)).head().getDouble(0)
          }
          ((System.nanoTime() - t0) / 1e6, v)
        }
        (runs.map(_._1).sorted.apply(repeats / 2), runs.head._2)
      }
      val (a, b) = (col("a"), col("b"))
      Seq("dotD" -> VectorFunctions.dotD(a, b), "dotFold" -> VectorFunctions.dotFold(a, b),
        "l2sqD" -> VectorFunctions.l2sqD(a, b), "l2sqFold" -> VectorFunctions.l2sqFold(a, b))
        .foreach { case (n, c) =>
          val (ms, v) = time(n, c)
          out(n) = Map("ms" -> ms, "value_bits" -> java.lang.Double.doubleToLongBits(v).toString)
        }
      pairs.unpersist(true)
    }
    out.toMap
  }
}
