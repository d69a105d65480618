package perfbench

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/**
 * Per-row cost of the engine's native kernels, through the SQL functions
 * `GraftExtensions.register` installs: each is timed as a `SELECT fn(text)`
 * noop write over a cached, replicated documents frame, minus the same
 * write of the bare input column. Reported as core-nanoseconds per row (wall
 * difference × cores ÷ rows); median of three timings each.
 */
object Kernels {

  /** (function, call, input column): the token kernels take the
    * whitespace-split words, cached alongside the text. */
  val Functions: Seq[(String, String, String)] = Seq(
    ("minhash_sigs", "minhash_sigs(tokens, 16, 3)", "tokens"),
    ("word_shingles", "word_shingles(tokens, 3)", "tokens"),
    ("lang_id_ngram", "lang_id_ngram(text)", "text"),
    ("text_normalize", "text_normalize(text)", "text"),
    ("pii_pseudonymize", "pii_pseudonymize(text)", "text"),
    ("deflate_ratio", "deflate_ratio(text)", "text"))

  private val Rows = 40000L

  def nsPerRow(spark: SparkSession, docs: String): Map[String, Double] = {
    GraftExtensions.register(spark)
    val base = spark.read.parquet(docs).select("text")
    val k = math.max(1L, (Rows + base.count() - 1) / base.count())
    val frame = base.crossJoin(spark.range(k))
      .selectExpr("text", "split(text, ' ') AS tokens").persist()
    val rows = frame.count()
    frame.createOrReplaceTempView("perfbench_docs")
    def time(expr: String): Double = {
      val ts = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(s"SELECT $expr AS v FROM perfbench_docs")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }
    val scan = Seq("text", "tokens").map { c => time(c); c -> time(c) }.toMap
    val out = Functions.map { case (name, expr, input) =>
      time(expr) // first call compiles
      s"expressions.$name.ns_per_row" -> (time(expr) - scan(input)) * Main.cpus * 1e9 / rows
    }.toMap
    frame.unpersist(blocking = true)
    out
  }
}
