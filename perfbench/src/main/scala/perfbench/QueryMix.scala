package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/**
 * Closed loop, one client: run the financial queries back to back, each
 * pass in a seed-permuted order, every query executing its full plan into
 * the `noop` sink (as the engine's `Bench` does). Passes repeat until the
 * window has run for its seconds and at least [[QueryMix.MinPasses]]
 * passes; the pass in progress then completes, so every window holds whole
 * passes and the latency sample always has the same composition of queries.
 *
 * Set-up builds the state a deployment builds once and shares across
 * queries: the ordersTx memo every financial query starts from. The warm-up
 * then runs every query once at the measured scale (the first pass runs
 * slow: codegen, JIT, datasource init) and writes each result as parquet
 * for the DuckDB oracle check, outside the window.
 */
final class QueryMix(o: Main.Opts) extends Workload {
  import QueryMix.names

  private def query(spark: SparkSession, name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  def setup(spark: SparkSession, dir: String): Unit =
    graft.queries.Tpch.ordersTx(spark, o.data).write.format("noop").mode("overwrite").save()

  def warm(spark: SparkSession): Unit =
    names.foreach(n =>
      query(spark, n, o.data).write.mode("overwrite").parquet(s"${o.work}/outputs/$n"))

  def measure(spark: SparkSession, seconds: Double, phase: Int,
              tracer: Option[Tracer], clock: Clock): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    val stop = clock.now + seconds
    var pass = 0
    while (clock.now < stop || pass < QueryMix.MinPasses) {
      val order = new Random(o.seed * 7919 + phase * 104729 + pass).shuffle(names)
      order.foreach { n =>
        val t0 = clock.now
        val err =
          try {
            tracer match {
              case None =>
                query(spark, n, o.data).write.format("noop").mode("overwrite").save()
              case Some(t) => t.tracedQuery(n, () => query(spark, n, o.data))
            }
            ""
          } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        ops += Op(n, t0, clock.now, err.isEmpty, phase, err)
      }
      pass += 1
    }
    ops.toSeq
  }

  def finish(): String =
    Json.obj(
      "outputs" -> Json.str(s"${o.work}/outputs"),
      "oracle" -> Json.obj(names.map(n => n -> Json.str(SparkEntry.oracleSql(n))): _*))
}

object QueryMix {
  /** Every financial query except `q_s2_ingest`, which reads fixed
    * reference CSVs instead of the generated tables; its CSV parse path runs
    * in `stmt_ingest`. */
  def names: Seq[String] =
    graft.queries.FinQueries.queries.keys.toSeq.filterNot(_ == "q_s2_ingest").sorted

  /** Each query appears at least twice in a window's latency sample. */
  val MinPasses = 2
}
