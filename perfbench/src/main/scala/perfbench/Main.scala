package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/**
 * JVM half of the benchmark (`run.py` is the other half: it generates the
 * seeded inputs, launches this main, checks outputs and prints metrics).
 *
 * One invocation runs one workload:
 *  1. set-up: a Spark session, a fresh `java.io.tmpdir` (so build-once
 *     stores land in set-up), and the workload's build-once state (history
 *     seed, shared memo);
 *  2. one untimed warm-up at the measured scale, which also produces the
 *     outputs the checks compare. Set-up time runs from JVM start to the end
 *     of the warm-up, the first measured op;
 *  3. the measured window of `--seconds` (with `--trace 1`: an untraced
 *     half, then a traced half whose spans give the per-layer metrics);
 *  4. `result.json` in `--work`: set-up time, every op's start/end, peak
 *     RSS, store builds inside the window, and the traced layer metrics.
 */
object Main {

  final case class Opts(
      workload: String, data: String, docs: String, work: String,
      seconds: Double, seed: Long, trace: Boolean, rate: Double, warmFiles: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m.getOrElse("docs", ""), m("work"),
      m("seconds").toDouble, m("seed").toLong, m.getOrElse("trace", "0") == "1",
      m.getOrElse("rate", "2").toDouble,
      m.getOrElse("warm-files", "16").toInt)
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors

  /** The session every workload runs on: the same settings as the engine's
    * `Bench` main, plus local dirs inside the run's work directory. */
  def session(dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** This JVM's high-water resident set, MB (`VmHWM`). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Heap still in use after a full collection: what the session keeps
    * between requests (memo, cached blocks, stream state, anything leaked),
    * independent of how far the collector grew the heap. */
  def retainedHeapMb(): Double = {
    // Spark's context cleaner frees broadcast and shuffle blocks only once a
    // collection has found their owners unreachable, so collect again after it
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(500) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl: Workload = o.workload match {
      case "stmt_ingest" => new StmtIngest(o)
      case "fin_analytics" => new QueryMix(o)
      case w => sys.error(s"unknown workload $w")
    }

    val dir = s"${o.work}/run"
    Files.createDirectories(Paths.get(dir, "tmp"))
    System.setProperty("java.io.tmpdir", s"$dir/tmp")
    val spark = session(dir)
    wl.setup(spark, dir)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val clock = Clock()
    // the query listener must be registered before any stream starts
    // (stream sessions are clones); it records nothing until the traced half
    val tracer = if (o.trace) Some(new Tracer(spark, clock, baseline)) else None
    tracer.foreach(_.listenQueries())
    val tw = clock.now
    wl.warm(spark)
    val setup = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log(f"warm-up ${clock.now - tw}%.2f s, set-up $setup%.2f s")

    val stores0 = Stores.list(s"$dir/tmp")
    val window = clock.now
    val ops = ArrayBuffer.empty[Op]
    var layers = Map.empty[String, Double]
    var spans = Seq.empty[Span]
    tracer match {
      case None => ops ++= wl.measure(spark, o.seconds, 0, None, clock)
      case Some(t) =>
        ops ++= wl.measure(spark, o.seconds / 2, 0, None, clock)
        t.install()
        ops ++= wl.measure(spark, o.seconds / 2, 1, Some(t), clock)
        t.uninstall()
        val traced = ops.filter(_.phase == 1).toSeq
        layers = t.layers(wl, traced)
        spans = t.spans(wl, traced)
    }
    log(f"window ${clock.now - window}%.2f s, ${ops.size} ops")
    val retained = retainedHeapMb()
    val storeBuilds = (Stores.list(s"$dir/tmp") -- stores0).size
    if (o.trace)
      layers = layers ++ Kernels.nsPerRow(spark, o.docs) +
        ("ops.store_builds" -> storeBuilds.toDouble)
    val checks = wl.finish()
    val rss = peakRssMb()
    spark.stop()

    val json = Json.obj(
      "workload" -> Json.str(o.workload),
      "setup_s" -> Json.num(setup),
      "peak_rss_mb" -> Json.num(rss),
      "retained_heap_mb" -> Json.num(retained),
      "store_builds" -> Json.num(storeBuilds),
      "cpus" -> Json.num(cpus),
      "ops" -> Json.arr(ops.toSeq.map(_.json)),
      "checks" -> checks,
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
    Files.writeString(Paths.get(o.work, "result.json"), json + "\n")
    if (o.trace)
      Files.writeString(Paths.get(o.work, "spans.json"),
        Json.arr(spans.map(_.json)) + "\n")
  }
}

/** One operation: a statement file (ingest) or a query execution (mixes).
  * Times are seconds on the run's clock; `due` is when the op was scheduled
  * (open loop) or started (closed loop). */
final case class Op(name: String, due: Double, end: Double, ok: Boolean, phase: Int,
                    error: String = "") {
  def json: String = Json.obj(
    "name" -> Json.str(name), "due" -> Json.num(due), "end" -> Json.num(end),
    "ok" -> (if (ok) "true" else "false"), "phase" -> Json.num(phase),
    "error" -> Json.str(error))
}

/** The run's clock: monotonic seconds since the window opened, convertible
  * from the wall-clock milliseconds Spark stamps on its events. */
final case class Clock(nano0: Long = System.nanoTime(), wall0: Long = System.currentTimeMillis()) {
  def now: Double = (System.nanoTime() - nano0) / 1e9
  def ofWall(ms: Long): Double = (ms - wall0) / 1e3
}

trait Workload {
  /** Build-once state a deployment creates before serving (timed). */
  def setup(spark: SparkSession, dir: String): Unit
  /** Untimed warm-up at the measured scale. */
  def warm(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double, phase: Int,
              tracer: Option[Tracer], clock: Clock): Seq[Op]
  /** After the window: facts the output checks need, as a JSON object. */
  def finish(): String
}

/** Build-once store directories: the keyed children of the `graft_`
  * prefixed roots under a tmpdir. */
object Stores {
  def list(tmp: String): Set[String] = {
    val root = new java.io.File(tmp)
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      .flatMap(d => Option(d.listFiles()).toSeq.flatten.map(_.getPath))
      .toSet
  }
}

/** Minimal JSON writer (values are pre-rendered strings). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
