package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The pipeline benchmark's JVM side: runs one workload against the
  * engine's public entry points, checks its outputs and prints one
  * `PERFBENCH_RECORD {json}` line. `perfbench/run.py` builds this, runs it
  * in a fresh directory and turns the record into the result line.
  *
  * Usage: perfbench.Main --workload streams|dashboard|ingest|admission --seed N
  *   --seconds S --trace 0|1 --base DIR --cores N [--scale full|tiny]
  *   [--event-time ordered|random]
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, base: String = "", cores: Int = 1, scale: String = "full",
      eventTime: String = "ordered")

  @annotation.tailrec
  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: r => parse(r, a.copy(workload = v))
    case "--seed" :: v :: r => parse(r, a.copy(seed = v.toLong))
    case "--seconds" :: v :: r => parse(r, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: r => parse(r, a.copy(trace = v == "1"))
    case "--base" :: v :: r => parse(r, a.copy(base = v))
    case "--cores" :: v :: r => parse(r, a.copy(cores = v.toInt))
    case "--scale" :: v :: r => parse(r, a.copy(scale = v))
    case "--event-time" :: v :: r => parse(r, a.copy(eventTime = v))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val w: Workload = a.workload match {
      case "ingest"    => new StreamWorkload(a, "ingest", w => Seq(new IngestPath(w)))
      case "admission" => new StreamWorkload(a, "admission", w => Seq(new AdmissionPath(w)))
      case "streams"   => new StreamWorkload(a, "streams",
        w => Seq(new IngestPath(w), new AdmissionPath(w)))
      case "dashboard" => new DashboardWorkload(a)
      case other       => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val rec = Json.obj(w.run(t0))
    println("PERFBENCH_RECORD " + rec)
    System.out.flush()
    Harness.stop()
    sys.exit(0)
  }
}

/** The record as JSON, written by Jackson. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Nested maps and sequences with an unmeasured (NaN) value as null,
    * which `run.py` reports as a metric that was not measured. */
  private def clean(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => null
    case m: collection.Map[_, _] => m.map { case (k, x) => k.toString -> clean(x) }
    case s: Iterable[_] => s.map(clean)
    case o => o
  }

  def obj(m: Seq[(String, Any)]): String = mapper.writeValueAsString(clean(m.toMap))
}

/** Session lifecycle, shared by every workload. */
object Harness {
  private var current: Option[SparkSession] = None

  /** A fresh `local[cores]` session whose working state stays under
    * `base`; stops the previous one first. Engine-wide caches keyed by
    * table path are cleared so the new session starts cold. */
  def session(base: String, cores: Int, tracer: Option[Tracer]): SparkSession = {
    stop()
    graft.Tables.invalidateCaches()
    val spark = graft.Session.builder(cores.toString)
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("spark.local.dir", s"$base/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$base/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer.foreach(_.install(spark))
    current = Some(spark)
    spark
  }

  def stop(): Unit = {
    current.foreach(_.stop())
    current = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** One timed operation: wall seconds, process CPU seconds (every JVM
  * thread: driver, local executors, GC, JIT), success. */
final case class Op(name: String, s: Double, cpuS: Double, ok: Boolean)

/** Per-pass measurements: timed operations, output checks and counts. */
final class Pass(val label: String, val cores: Int, val traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val batchS = mutable.ArrayBuffer.empty[Double]
  val firstS = mutable.ArrayBuffer.empty[Double]
  val laterS = mutable.ArrayBuffer.empty[Double]
  var heapLiveMb = Double.NaN
  val windows = mutable.ArrayBuffer.empty[(Long, Long)] // successful ops, epoch ms
  val counts = mutable.LinkedHashMap.empty[String, Double]
  var records = 0L
  var drainS = 0.0
  var rounds = 0

  def op[A](name: String)(f: => A): Option[A] = {
    val t0 = System.nanoTime()
    val c0 = Stats.cpuNanos()
    val w0 = System.currentTimeMillis()
    def done(ok: Boolean) =
      ops += Op(name, (System.nanoTime() - t0) / 1e9, (Stats.cpuNanos() - c0) / 1e9, ok)
    try {
      val r = f
      done(ok = true)
      windows += ((w0, System.currentTimeMillis()))
      Some(r)
    } catch {
      case e: Throwable =>
        Console.err.println(s"[perfbench] $name failed: $e")
        e.printStackTrace()
        done(ok = false)
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    if (!ok) Console.err.println(s"[perfbench] check failed: $name $d")
    checks += ((name, ok, d))
  }

  def times(prefix: String): Seq[Double] =
    ops.collect { case o if o.ok && o.name.startsWith(prefix) => o.s }.toSeq
  def attempted: Int = ops.size + checks.size + batchS.size
  def failed: Int = ops.count(!_.ok) + checks.count(!_._2)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile of `xs` with at least ten samples beyond it:
    * (value, percentile, samples). Below eleven samples, the maximum. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, Double.NaN, 0)
    else if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val st = Files.walk(src)
    try st.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally st.close()
  }

  /** `f` over every element at once, one thread each, for independent
    * Spark jobs (set-up writes, output checks) whose cost is mostly
    * driver-side planning and code generation. The threads are made here,
    * so they inherit the caller's Spark local properties and no
    * microbatch's. */
  def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, xs.size))
    try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      .map(_.get())
    finally pool.shutdown()
  }

  /** Heap still reachable after a full collection: what caches, pins
    * and memos keep alive once the measured pass ends. */
  def heapLiveMb(): Double = {
    val rt = Runtime.getRuntime
    // the context cleaner frees blocks of collected RDDs and broadcasts
    // asynchronously after a collection; collect again once it has run
    System.gc()
    Thread.sleep(250)
    System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos(): Long = os.getProcessCpuTime

  def peakRssMb(): Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status").getLines().toList
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
  }
}

/** One workload: one timed set-up, then measured rounds until the time
  * budget is spent. In a traced run the measured pass is traced; one
  * untraced round at `local[N]` follows it for the tracing overhead, and
  * one at `local[1]` as the single-thread baseline. */
abstract class Workload(val a: Main.Args) {
  val tiny: Boolean = a.scale == "tiny"
  val tracer = new Tracer
  var spark: SparkSession = _
  var setupS: Double = Double.NaN
  val setupParts = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def name: String

  /** Prepare the inputs under [[setupDir]]; time parts with [[part]]. */
  def setup(): Unit

  /** One measured round; round `r` writes its outputs under `dir`. */
  def round(p: Pass, r: Int, dir: String): Unit

  /** End-to-end metrics of a pass (unit, value). */
  def metrics(p: Pass): Seq[(String, String, Double)]

  /** The pass's headline speed, higher is better, for speed-up and
    * tracing-overhead ratios. */
  def speed(p: Pass): Double

  def part[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = tracer.span(label)(f)
    setupParts(label) = setupParts.getOrElse(label, 0.0) + (System.nanoTime() - t0) / 1e9
    r
  }

  def addBytes(key: String, n: Long): Unit =
    info(key) = info.get(key).collect { case b: Long => b }.getOrElse(0L) + n

  def newSession(cores: Int, traced: Boolean): Unit =
    spark = Harness.session(a.base, cores, if (traced) Some(tracer) else None)

  def setupDir = s"${a.base}/setup"

  private def pass(label: String, cores: Int, traced: Boolean, budget: Double,
      first: Boolean): Pass = {
    val p = new Pass(label, cores, traced)
    if (!first) newSession(cores, traced)
    val start = System.nanoTime()
    var r = 0
    tracer.span(s"$name.$label") {
      while (r == 0 || (System.nanoTime() - start) / 1e9 < budget) {
        val dir = s"${a.base}/$label-round-$r"
        Files.createDirectories(Paths.get(dir))
        round(p, r, dir)
        r += 1
      }
    }
    p.rounds = r
    p.heapLiveMb = Stats.heapLiveMb()
    p
  }

  def run(processStartMs: Long): Seq[(String, Any)] = {
    val s0 = System.nanoTime()
    newSession(a.cores, a.trace)
    info("session_start_s") = (System.nanoTime() - s0) / 1e9
    Files.createDirectories(Paths.get(setupDir))
    tracer.span(s"$name.setup")(setup())
    // set-up runs from process start: JVM, session and inputs
    setupS = (System.currentTimeMillis() - processStartMs) / 1e3
    val main = pass("main", a.cores, a.trace, a.seconds, first = true)
    val e2e = metrics(main) :+ (("setup_s", "s", setupS)) :+
      (("heap_live_mb", "MB", main.heapLiveMb))
    info("peak_rss_mb") = Stats.peakRssMb()
    val out = mutable.ArrayBuffer.empty[(String, Any)]
    out += "workload" -> name
    out += "seed" -> a.seed
    out += "cores" -> a.cores
    out += "scale" -> a.scale
    out ++= info
    out += "rounds" -> main.rounds
    out += "setup_parts_s" -> setupParts
    var passes = Seq(main)
    if (a.trace) {
      tracer.drain(spark.sparkContext)
      val untraced = pass("untraced", a.cores, traced = false, 0.0, first = false)
      val single = pass("single", 1, traced = false, 0.0, first = false)
      passes = Seq(main, untraced, single)
      val layers = new Layers(this, main, untraced, single)
      out += "per_layer" -> layers.metrics.map { case (k, u, v) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap
      out += "trace" -> layers.detail
      out += "speed" -> Map("traced" -> speed(main), "untraced" -> speed(untraced),
        "single_core" -> speed(single))
    }
    out += "end_to_end" -> e2e.map { case (k, u, v) => k -> Map("value" -> v, "unit" -> u) }
      .toMap
    out += "checks" -> passes.flatMap(_.checks).map { case (n, ok, d) =>
      Map("name" -> n, "ok" -> ok, "detail" -> d) }
    out += "counts" -> main.counts.toMap
    out += "attempted" -> passes.map(_.attempted).sum
    out += "failed" -> passes.map(_.failed).sum
    out += "ops" -> main.ops.map(o => Map("op" -> o.name, "s" -> o.s, "cpu_s" -> o.cpuS, "ok" -> o.ok))
    out.toSeq
  }
}
