package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval. `parent` is -1 for a root (an op). */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double,
                      var self: Double = Double.NaN) {
  def json: String = Json.obj(
    "id" -> Json.num(id), "parent" -> Json.num(parent), "name" -> Json.str(name),
    "start" -> Json.num(start), "end" -> Json.num(end), "self" -> Json.num(self))
}

/**
 * Observes the engine from outside, through Spark's public listener
 * interfaces only: a `SparkListener` (jobs, stages, task metrics, SQL
 * execution start/end), a `QueryExecutionListener` (which action ran, on
 * which output path) and the streaming query's progress reports. The
 * benchmark's own calls into the engine are timed around the public
 * functions it calls (`SparkEntry.queries`, `Dataset.queryExecution`, the
 * noop write, `StatementStream.start`).
 *
 * Jobs link to SQL executions through `spark.sql.execution.id`, and to
 * query ops through a local property the benchmark sets on its own thread.
 * (In Spark 4.1 the execution id is not `QueryExecution.id`, so writes are
 * attributed through the paths in the execution's physical plan, and
 * per-step seconds through the `QueryExecutionListener`'s action name and
 * output path.) Stage call sites are not used: stream threads
 * inherit the call site of `StatementStream.start`.
 *
 * Everything is held in memory; spans are written when the run ends.
 */
final class Tracer(spark: SparkSession, clock: Clock, baseline: Set[Int]) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong()

  final class Job(val id: Int, val exec: Long, val op: String, val start: Double) {
    @volatile var end: Double = Double.NaN
    @volatile var stages = 0
    val m = new Metrics
  }
  final class Metrics {
    var tasks, cpuNs, shuffle, spill, gcMs, bytesRead, recordsRead, bytesWritten = 0L
    var peakMem = 0L
    def add(t: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
      tasks += 1
      cpuNs += t.executorCpuTime
      shuffle += t.shuffleReadMetrics.totalBytesRead + t.shuffleWriteMetrics.bytesWritten
      spill += t.diskBytesSpilled
      gcMs += t.jvmGCTime
      bytesRead += t.inputMetrics.bytesRead
      recordsRead += t.inputMetrics.recordsRead
      bytesWritten += t.outputMetrics.bytesWritten
      peakMem = math.max(peakMem, t.peakExecutionMemory)
    }
    def merge(o: Metrics): Unit = synchronized {
      tasks += o.tasks; cpuNs += o.cpuNs; shuffle += o.shuffle; spill += o.spill
      gcMs += o.gcMs; bytesRead += o.bytesRead; recordsRead += o.recordsRead
      bytesWritten += o.bytesWritten; peakMem = math.max(peakMem, o.peakMem)
    }
  }

  private val jobs = TrieMap.empty[Int, Job]
  private val stageJob = TrieMap.empty[Int, Int]
  /** SQL execution id → (start, end, plan text if it writes files else ""). */
  private val execs = TrieMap.empty[Long, (Double, Double, String)]
  private val actions = new ConcurrentLinkedQueue[Action]()
  private val queryOps = ArrayBuffer.empty[QueryOp]
  private val streams = ArrayBuffer.empty[StreamingQuery]
  private var lag = Seq.empty[Double]
  @volatile private var drained = ""
  @volatile private var enabled = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).fold(-1L)(_.toLong)
      val op = p.flatMap(x => Option(x.getProperty(OpKey))).getOrElse("")
      jobs(e.jobId) = new Job(e.jobId, exec, op, clock.ofWall(e.time))
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach { j =>
      j.end = clock.ofWall(e.time)
      if (j.op.startsWith(DrainOp)) drained = j.op
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        stageJob.get(e.stageId).flatMap(jobs.get).foreach(_.m.add(e.taskMetrics))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) =
          (clock.ofWall(s.time), Double.NaN, writePlan(s.physicalPlanDescription))
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach { case (st, _, out) =>
          execs(s.executionId) = (st, clock.ofWall(s.time), out) }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) actions.add(Action(func, outputPath(qe), durationNs / 1e9))
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      if (enabled) actions.add(Action(func, outputPath(qe), 0))
  }


  /** Registers the query listener (before any stream starts: a stream
    * runs on a clone of the session, which copies its listeners). */
  def listenQueries(): Unit = spark.listenerManager.register(qeListener)

  /** Starts recording. */
  def install(): Unit = {
    sc.addSparkListener(listener)
    enabled = true
  }

  /** Waits until the listener has seen every event posted so far (a marker
    * job's end is queued behind them), then detaches. */
  def uninstall(): Unit = {
    val marker = s"$DrainOp-${System.nanoTime()}"
    sc.setLocalProperty(OpKey, marker)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(OpKey, null)
    val limit = System.nanoTime() + 30000000000L
    while (drained != marker && System.nanoTime() < limit) Thread.sleep(10)
    Thread.sleep(200) // the execution-listener bus drains on its own thread
    enabled = false
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def watch(q: StreamingQuery): Unit = if (!streams.contains(q)) streams += q
  def loadgenLag(l: Seq[Double]): Unit = lag = l

  /** One traced query op: build (the query function, including any eager
    * jobs it runs), plan (forcing `executedPlan`), exec (the noop write). */
  def tracedQuery(name: String, build: () => DataFrame): Unit = {
    val id = s"$name#${ids.incrementAndGet()}"
    sc.setLocalProperty(OpKey, id)
    try {
      val t0 = clock.now
      val df = build()
      val t1 = clock.now
      val plan = df.queryExecution.executedPlan
      val t2 = clock.now
      df.write.format("noop").mode("overwrite").save()
      val t3 = clock.now
      val (blocks, mb) = residue()
      queryOps += QueryOp(id, name, t0, t1, t2, t3, exchanges(plan), blocks, mb)
    } finally sc.setLocalProperty(OpKey, null)
  }

  /** Persisted blocks the engine holds beyond those present after set-up. */
  def residue(): (Long, Double) = {
    val rdds = sc.getRDDStorageInfo.filterNot(r => baseline.contains(r.id))
    (rdds.map(_.numCachedPartitions.toLong).sum,
      rdds.map(r => r.memSize + r.diskSize).sum / MB)
  }

  private def tracedJobs: Seq[Job] = jobs.values.filterNot(_.op.startsWith(DrainOp)).toSeq

  /** Every per-layer metric, for the traced ops of any workload (layers a
    * workload does not exercise read 0). */
  def layers(wl: Workload, ops: Seq[Op]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val js = tracedJobs
    val agg = new Metrics
    js.foreach(j => agg.merge(j.m))
    val opIv = ops.filter(_.ok).map(o => (o.due, o.end))
    val busy = covered(opIv)
    val jobIv = js.filterNot(_.end.isNaN).map(j => (j.start, j.end))
    val withJob = covered(intersect(union(jobIv), union(opIv)))
    val span = if (opIv.isEmpty) 0.0 else opIv.map(_._2).max - opIv.map(_._1).min
    val qs = queryOps.toSeq
    def qmean(f: QueryOp => Double): Double = if (qs.isEmpty) 0.0 else qs.map(f).sum / qs.size
    def buildJobs(q: QueryOp): Double = js.count(j => j.op == q.id && j.start <= q.t1).toDouble
    val (resBlocks, resMb) =
      if (qs.nonEmpty) (qs.map(_.residueBlocks).max.toDouble, qs.map(_.residueMb).max)
      else { val (b, m) = residue(); (b.toDouble, m) }

    val engine = Map(
      "engine.jobs_per_op" -> js.size / n,
      "engine.stages_per_op" -> js.map(_.stages).sum / n,
      "engine.tasks_per_op" -> agg.tasks / n,
      "engine.no_job_frac" -> (if (busy > 0) 1 - withJob / busy else 0.0),
      "engine.task_cpu_s_per_op" -> agg.cpuNs / 1e9 / n,
      "engine.cpu_busy_frac" -> (if (span > 0) agg.cpuNs / 1e9 / (span * Main.cpus) else 0.0),
      "engine.shuffle_mb_per_op" -> agg.shuffle / MB / n,
      "engine.spill_mb_per_op" -> agg.spill / MB / n,
      "engine.peak_exec_mem_mb" -> agg.peakMem / MB,
      "engine.gc_s_per_op" -> agg.gcMs / 1e3 / n)
    val queries = Map(
      "queries.build_s" -> qmean(q => q.t1 - q.t0),
      "queries.build_jobs" -> qmean(buildJobs),
      "queries.plan_s" -> qmean(q => q.t2 - q.t1),
      "queries.exec_s" -> qmean(q => q.t3 - q.t2),
      "queries.exchanges" -> qmean(_.exchanges.toDouble))
    val common = Map(
      "ops.residue_blocks" -> resBlocks,
      "ops.residue_mb" -> resMb,
      "sources.rows_in" -> agg.recordsRead / n,
      "sources.input_mb_per_op" -> agg.bytesRead / MB / n,
      "sources.rows_quarantined" -> 0.0,
      "loadgen.lag_max_s" -> (if (lag.isEmpty) 0.0 else lag.max))
    val stream = wl match {
      case s: StmtIngest => streamLayers(s, ops)
      case _ => Map.empty[String, Double]
    }
    StreamDefaults ++ engine ++ queries ++ common ++ stream
  }

  /** The traced files' batches: file → batch id, and each batch's progress
    * report. */
  private def tracedBatches(wl: StmtIngest, ops: Seq[Op])
      : (Map[String, Long], Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val names = ops.map(_.name).toSet
    val fileBatch = wl.committedFiles.filter { case (f, _) => names(f) }
    val ids = fileBatch.values.toSet
    (fileBatch, streams.toSeq.flatMap(_.recentProgress.toSeq)
      .filter(p => p.numInputRows > 0 && ids(p.batchId)).distinctBy(_.batchId))
  }

  /** Streaming, pipeline and statement-table metrics of `stmt_ingest`. */
  private def streamLayers(wl: StmtIngest, ops: Seq[Op]): Map[String, Double] = {
    val (fileBatch, progress) = tracedBatches(wl, ops)
    val nb = math.max(1, progress.size).toDouble
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum / 1e3
    val batchStart = progress.map(p =>
      p.batchId -> clock.ofWall(java.time.Instant.parse(p.timestamp).toEpochMilli)).toMap
    val due = ops.map(o => o.name -> o.due).toMap
    val waits = fileBatch.toSeq.flatMap { case (f, b) => batchStart.get(b).map(_ - due(f)) }
    val backlog = batchStart.toSeq.map { case (b, t) =>
      fileBatch.count { case (f, fb) => fb >= b && due(f) <= t } }

    val acts = actions.asScala.toSeq
    val classes = acts.map(a => a -> wl.classify(a.func, a.output))
    def classSeconds(c: String) = classes.collect { case (a, `c`) => a.seconds }.sum / nb
    val upsertExecs = execs.collect {
      case (id, (_, _, out)) if wl.classify("", out) == "ops.upsert" => id }.toSet
    val upsertBytes = tracedJobs.filter(j => upsertExecs.contains(j.exec)).map(_.m.bytesWritten).sum
    val csvBytes = ops.map(o => wl.dropBytes(o.name)).sum.toDouble
    val (tableBytes, tableFiles) = wl.tableSize
    val quarantined = wl.quarantineRows(spark)
    Map(
      "streaming.batches" -> progress.size.toDouble,
      "streaming.files_per_batch" -> fileBatch.size / nb,
      "streaming.trigger_s" -> dur("triggerExecution") / nb,
      "streaming.add_batch_s" -> dur("addBatch") / nb,
      "streaming.overhead_s" -> (dur("triggerExecution") - dur("addBatch")) / nb,
      "streaming.queue_wait_s" -> (if (waits.isEmpty) 0.0 else waits.sum / waits.size),
      "streaming.backlog_max_files" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
      "pipeline.history_load_s" -> classSeconds("pipeline.history_load"),
      "pipeline.report_write_s" -> classSeconds("pipeline.report_write"),
      "pipeline.actions_per_batch" -> acts.size / nb,
      "ops.validate_s" -> classSeconds("ops.validate"),
      "ops.upsert_s" -> classSeconds("ops.upsert"),
      "ops.upsert_write_amp" -> (if (csvBytes > 0) upsertBytes / csvBytes else 0.0),
      "ops.space_amp" -> tableBytes / wl.csvBytesTotal,
      "ops.table_files" -> tableFiles.toDouble,
      "sources.rows_in" -> progress.map(_.numInputRows).sum / math.max(1, ops.size).toDouble,
      "sources.rows_quarantined" -> quarantined.toDouble)
  }

  /** Spans of the traced half, with self time (duration minus the part of
    * it covered by child spans). Ops are roots; a query op's children are
    * its build/plan/exec phases; a statement op's child is the batch that
    * committed it (a batch is attributed to the first file it carried);
    * actions hang under the batch they ran in, jobs under their action or
    * the phase/batch they started in. */
  def spans(wl: Workload, ops: Seq[Op]): Seq[Span] = {
    val out = ArrayBuffer.empty[Span]
    def add(parent: Long, name: String, s: Double, e: Double): Long = {
      val id = ids.incrementAndGet(); out += Span(id, parent, name, s, e); id
    }
    val phaseOf = TrieMap.empty[String, Seq[(Long, Double, Double)]]
    queryOps.foreach { q =>
      val root = add(-1, s"op:${q.name}", q.t0, q.t3)
      phaseOf(q.id) = Seq(
        (add(root, "queries.build", q.t0, q.t1), q.t0, q.t1),
        (add(root, "queries.plan", q.t1, q.t2), q.t1, q.t2),
        (add(root, "queries.exec", q.t2, q.t3), q.t2, q.t3))
    }
    val actionSpan = TrieMap.empty[Long, Long]
    wl match {
      case s: StmtIngest =>
        val (fileBatch, progress) = tracedBatches(s, ops)
        val opSpan = ops.filter(_.ok).map(o => o.name -> add(-1, s"op:${o.name}", o.due, o.end)).toMap
        val batches = progress.map { p =>
          val st = clock.ofWall(java.time.Instant.parse(p.timestamp).toEpochMilli)
          val en = st + p.durationMs.get("triggerExecution").longValue / 1e3
          val first = fileBatch.filter(_._2 == p.batchId).keys.toSeq.sorted.headOption
          (add(first.flatMap(opSpan.get).getOrElse(-1L), "streaming.batch", st, en), st, en)
        }
        execs.foreach { case (id, (st, en, out)) =>
          if (!en.isNaN) {
            val parent = batches.find(b => st >= b._2 && st <= b._3).fold(-1L)(_._1)
            val name = if (out.isEmpty) "pipeline.read" else s.classify("", out)
            actionSpan(id) = add(parent, name, st, en)
          }
        }
        tracedJobs.filterNot(_.end.isNaN).foreach { j =>
          val parent = actionSpan.getOrElse(j.exec,
            batches.find(b => j.start >= b._2 && j.start <= b._3).fold(-1L)(_._1))
          add(parent, "engine.job", j.start, j.end)
        }
      case _ =>
        tracedJobs.filterNot(_.end.isNaN).foreach { j =>
          val parent = phaseOf.getOrElse(j.op, Nil)
            .find { case (_, s, e) => j.start >= s && j.start <= e }
            .orElse(phaseOf.getOrElse(j.op, Nil).lastOption).fold(-1L)(_._1)
          add(parent, "engine.job", j.start, j.end)
        }
    }
    val children = out.groupBy(_.parent)
    out.foreach { s =>
      val kids = children.get(s.id).fold(Seq.empty[(Double, Double)])(_.toSeq.map(c => (c.start, c.end)))
      s.self = (s.end - s.start) - covered(intersect(union(kids), Seq((s.start, s.end))))
    }
    out.toSeq
  }
}

object Tracer {
  final case class Action(func: String, output: String, seconds: Double)
  final case class QueryOp(id: String, name: String, t0: Double, t1: Double, t2: Double,
                           t3: Double, exchanges: Int, residueBlocks: Long, residueMb: Double)

  val OpKey = "perfbench.op"
  val DrainOp = "perfbench-drain"
  val MB: Double = 1024.0 * 1024.0

  /** Layers only `stmt_ingest` exercises; the other workloads report 0. */
  val StreamDefaults: Map[String, Double] = Seq(
    "streaming.batches", "streaming.files_per_batch", "streaming.trigger_s",
    "streaming.add_batch_s", "streaming.overhead_s", "streaming.queue_wait_s",
    "streaming.backlog_max_files", "pipeline.history_load_s", "pipeline.report_write_s",
    "pipeline.actions_per_batch", "ops.validate_s", "ops.upsert_s",
    "ops.upsert_write_amp", "ops.space_amp", "ops.table_files").map(_ -> 0.0).toMap

  private object Plans extends AdaptiveSparkPlanHelper

  def exchanges(plan: SparkPlan): Int =
    Plans.collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size

  /** An execution's plan text when it writes files (its paths name the
    * sink), else "". */
  def writePlan(plan: String): String =
    if (plan != null && plan.contains("InsertIntoHadoopFsRelationCommand")) plan else ""

  def outputPath(qe: QueryExecution): String =
    qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
      .getOrElse("")

  /** Sorted, merged intervals. */
  def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def intersect(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Seq[(Double, Double)] =
    for { (as, ae) <- a; (bs, be) <- b; s = math.max(as, bs); e = math.min(ae, be); if e > s }
      yield (s, e)

  def covered(iv: Seq[(Double, Double)]): Double = union(iv).map { case (s, e) => e - s }.sum
}
