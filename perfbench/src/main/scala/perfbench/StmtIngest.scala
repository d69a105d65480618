package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.FinOps
import graft.streaming.StatementStream

/**
 * Open loop: statement uploads arrive on a fixed schedule, whether or not
 * the pipeline keeps up. One thread drops one-user-month CSV files into the
 * ingest directory at `--rate` files/s; `StatementStream` (continuous
 * trigger) validates and quarantines, runs `FinancialPipeline.runBatch`
 * (report JSON + statements upsert) per micro-batch.
 *
 * A file's latency runs from its scheduled drop time to the end of the
 * micro-batch that committed it. Files map to batches through the
 * checkpoint's file-source log (`sources/0/<batchId>`), batch ends come
 * from the query's progress reports. A file not committed by the deadline
 * after the last drop, or any stream error, is a failed op.
 */
final class StmtIngest(o: Main.Opts) extends Workload {

  /** Grace after the last drop for the backlog to drain. */
  private val DeadlineS = 60.0

  private def drops: Seq[java.nio.file.Path] =
    Files.list(Paths.get(o.data, "drops")).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

  private var dir = ""
  private def table = s"$dir/statements"
  private def reports = s"$dir/reports"
  private def checkpoint = s"$dir/checkpoint"
  private def ingest = s"$dir/ingest"

  private def seedHistory(spark: SparkSession, path: String): Unit = {
    val (valid, _) = FinOps.validateStatement(FinOps.ingestStatement(spark, s"${o.data}/history.csv"))
    FinOps.writeStatements(FinOps.toStatementItems(valid), path)
  }

  /** Set-up: seed the statements table from the history CSV. */
  def setup(spark: SparkSession, runDir: String): Unit = {
    dir = runDir
    seedHistory(spark, table)
    Files.createDirectories(Paths.get(ingest))
  }

  private var stream: StreamingQuery = _
  private var next = 0 // index of the next drop file
  private var warmFiles = Seq.empty[String]

  /** Warm-up: start the stream on the measured table and feed it the first
    * `--warm-files` drop files at the measured rate, until they commit. The
    * stream then runs on through the window, already past its first,
    * slower micro-batches. */
  def warm(spark: SparkSession): Unit = {
    stream = StatementStream.start(spark, ingest, table, reports, checkpoint, availableNow = false)
    val clock = Clock()
    warmFiles = drop(clock, o.warmFiles)._1.map(_._1)
    awaitCommit(clock, warmFiles.toSet, clock.now + DeadlineS)
  }

  /** Drops the next `seconds × rate` files on schedule into the ingest
    * directory, then waits until they commit or the deadline passes. */
  def measure(spark: SparkSession, seconds: Double, phase: Int,
              tracer: Option[Tracer], clock: Clock): Seq[Op] = {
    tracer.foreach(_.watch(stream))
    val (files, lag) = drop(clock, math.round(seconds * o.rate).toInt)
    tracer.foreach(_.loadgenLag(lag))
    val names = files.map(_._1).toSet
    awaitCommit(clock, names, files.last._2 + DeadlineS)
    val err = stream.exception.map(e => s"stream: ${e.getMessage.take(300)}").getOrElse("")
    val committed = committedFiles
    // a batch's commit marker lands just before its progress report
    val batches = committed.collect { case (f, b) if names(f) => b }.toSet
    val reported = clock.now + 10
    while (!batches.subsetOf(batchEnds(stream, clock).keySet) && clock.now < reported)
      Thread.sleep(10)
    val ends = batchEnds(stream, clock)
    files.map { case (name, due) =>
      committed.get(name).flatMap(ends.get) match {
        case Some(end) if err.isEmpty => Op(name, due, end, ok = true, phase)
        case _ => Op(name, due, Double.NaN, ok = false, phase,
          if (err.nonEmpty) err else "not committed by the deadline")
      }
    }
  }

  /** One load-generator thread drops `n` files at the fixed rate, the first
    * 0.2 s from now. Each is written under a hidden name and renamed, so
    * the stream never lists a partial file. Returns (name, due) per file and
    * how late each drop ran. */
  private def drop(clock: Clock, n: Int): (Seq[(String, Double)], Seq[Double]) = {
    val files = drops.slice(next, next + n)
    next += files.size
    val t0 = clock.now + 0.2
    val due = files.indices.map(i => t0 + i / o.rate)
    val lag = ArrayBuffer.empty[Double]
    val gen = new Thread(() => files.zip(due).foreach { case (src, d) =>
      val wait = d - clock.now
      if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
      lag += clock.now - d
      val name = src.getFileName.toString
      val tmp = Paths.get(ingest, s".$name.tmp")
      Files.copy(src, tmp)
      Files.move(tmp, Paths.get(ingest, name), StandardCopyOption.ATOMIC_MOVE)
    }, "perfbench-loadgen")
    gen.start()
    gen.join()
    (files.map(_.getFileName.toString).zip(due), lag.toSeq)
  }

  private def awaitCommit(clock: Clock, names: Set[String], deadline: Double): Unit =
    while (!names.subsetOf(committedFiles.keySet) && clock.now < deadline &&
           stream.exception.isEmpty)
      Thread.sleep(20)

  /** file name → batch id, for batches whose commit marker exists. */
  def committedFiles: Map[String, Long] = {
    val commits = Option(new java.io.File(s"$checkpoint/commits").list()).toSeq.flatten
      .filter(_.forall(_.isDigit)).map(_.toLong).toSet
    sourceLog.filter { case (_, b) => commits.contains(b) }
  }

  /** Entries of the file-source log, including compacted files. */
  private def sourceLog: Map[String, Long] = {
    val logDir = new java.io.File(s"$checkpoint/sources/0")
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Option(logDir.listFiles()).toSeq.flatten
      .filter(f => f.getName.matches("\\d+(\\.compact)?"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
      .flatMap(l => entry.findFirstMatchIn(l).map(m =>
        m.group(1).split('/').last -> m.group(2).toLong))
      .toMap
  }

  /** batch id → end of its trigger on the run's clock. */
  private def batchEnds(q: StreamingQuery, clock: Clock): Map[Long, Double] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      p.batchId -> clock.ofWall(start + p.durationMs.get("triggerExecution").longValue)
    }.toMap

  /** Names a traced action by the pipeline step that ran it: the output
    * path the benchmark chose for each sink, else the action's name. */
  def classify(func: String, output: String): String =
    if (output.contains(reports)) "pipeline.report_write"
    else if (output.contains("statements_quarantine")) "ops.validate"
    else if (output.contains("statements_upsert_staging") || output.contains(table)) "ops.upsert"
    else func match {
      case "count" => "pipeline.history_load"
      case "isEmpty" => "ops.validate"
      case "collect" => "ops.upsert"
      case _ => "pipeline.other"
    }

  def dropBytes(name: String): Long = Files.size(Paths.get(o.data, "drops", name))

  /** History CSV plus every file dropped so far. */
  def csvBytesTotal: Double =
    (Files.size(Paths.get(o.data, "history.csv")) +
      Files.list(Paths.get(ingest)).iterator().asScala.map(Files.size(_)).sum).toDouble

  /** (bytes, parquet files) of the statements table. */
  def tableSize: (Long, Int) = {
    val files = Files.walk(Paths.get(table)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
    (files.map(Files.size(_)).sum, files.size)
  }

  def quarantineRows(spark: SparkSession): Long =
    if (Files.exists(Paths.get(table + "_quarantine")))
      spark.read.parquet(table + "_quarantine").count()
    else 0L

  def finish(): String = {
    stream.stop()
    Json.obj(
      "warm_files" -> Json.arr(warmFiles.map(Json.str)),
      "table" -> Json.str(table), "reports" -> Json.str(reports),
      "quarantine" -> Json.str(table + "_quarantine"))
  }
}
