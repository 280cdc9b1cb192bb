package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see perfbench/run.py). */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean, sfDir: String,
    work: Path, out: Path, traceOut: Path, benchDir: Path, cpus: Int, sabotage: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      workload = req("workload"), seed = req("seed").toLong, seconds = req("seconds").toDouble,
      trace = m.get("trace").contains("1"), sfDir = req("sf"), work = Paths.get(req("work")),
      out = Paths.get(req("out")), traceOut = Paths.get(req("trace-out")),
      benchDir = Paths.get(req("bench-dir")), cpus = req("cpus").toInt,
      sabotage = m.get("sabotage"))
  }
}

/** One timed iteration of a workload: its input records, the requests
  * the stub received and the records dead-lettered. `counts` holds its
  * layer numbers (traced iterations only).
  */
final case class Iter(
    records: Long, calls: Long, dead: Long, wallS: Double, cpuS: Double, traced: Boolean,
    counts: Map[String, Double])

/** Shared state of a run. */
final class Ctx(val args: Args, val tracer: Tracer) {
  val probe = new SparkProbe
  var spark: SparkSession = _
  private var attached = false

  def startSession(): SparkSession = {
    spark = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    attached = false
    spark
  }

  def stopSession(): Unit = if (spark != null) {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Exception => () }
    spark.stop(); spark = null
  }

  /** attach or detach the Spark listeners; untraced work runs without */
  def listen(on: Boolean): Unit = if (on != attached) {
    if (on) { spark.sparkContext.addSparkListener(probe); spark.listenerManager.register(probe) }
    else { spark.sparkContext.removeSparkListener(probe); spark.listenerManager.unregister(probe) }
    attached = on
  }

  /** run `f` with Spark's job group set to a span id, so that the jobs
    * it starts can be parented to that span */
  def jobGroup[A](span: Int, name: String)(f: => A): A = {
    spark.sparkContext.setJobGroup(span.toString, name)
    try f finally spark.sparkContext.clearJobGroup()
  }

  /** wait until the listeners have seen every event posted so far */
  def drain(): Unit = if (attached) org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)

  def dir(name: String): Path = {
    val d = args.work.resolve(name)
    Harness.deleteRecursively(d)
    Files.createDirectories(d)
  }
}

trait Workload {
  /** everything before the first timed operation */
  def setup(): Unit
  /** one timed unit of work; `span` is its trace span id */
  def iteration(traced: Boolean, span: Int): Iter
  /** (requests the stub received, records dead-lettered) in the
    * iteration just run; read after it is timed */
  def tally(): (Long, Long)
  /** layer numbers of a traced iteration, computed after it is timed;
    * may add spans under the iteration's span */
  def analyse(span: Int, fromMs: Double, toMs: Double): Map[String, Double]
  /** untimed work between iterations (cleaning output directories) */
  def prepare(): Unit = ()
  /** output checks, after the timed region; returns (attempted, failures) */
  def check(): (Long, Seq[String])
  /** per-layer metrics from the traced iterations and the layer probes */
  def layers(traced: Seq[Iter]): Map[String, Double]
  def close(): Unit
}

object Harness {
  private val mapper = new ObjectMapper()

  /** per-key medians over iterations, for keys starting with `prefix` */
  def medians(iters: Seq[Iter], prefix: String): Map[String, Double] = {
    val keys = iters.flatMap(_.counts.keySet).filter(_.startsWith(prefix)).toSet
    keys.map(k => k -> median(iters.map(_.counts.getOrElse(k, 0.0)))).toMap
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** nearest-rank percentile, q in [0, 1] */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      val all = try walk.iterator().asScala.toVector finally walk.close()
      all.reverse.foreach(p => Files.deleteIfExists(p))
    }

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** peak resident set of this process, from /proc */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status"), UTF_8).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val tracer = new Tracer(s"${a.workload}-seed${a.seed}-${System.currentTimeMillis()}")
    val ctx = new Ctx(a, tracer)
    val wl: Workload = a.workload match {
      case "enrich_wire" => new EnrichWire(ctx)
      case "enrich_retry_cache" => new EnrichRetryCache(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val runSpan = tracer.nextId()
    val runStart = System.nanoTime()
    var exit = 1
    try {
      // set-up is what one invocation pays: from this JVM's start,
      // cold, to the first timed operation
      tracer.span(runSpan, "setup", "setup")(_ => wl.setup())
      val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      System.err.println(f"[perfbench] set-up: $setupS%.2f s")

      // the timed region; a traced run alternates plain and traced
      // iterations, so the difference is the tracing overhead
      val iters = mutable.ArrayBuffer.empty[Iter]
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      def need(traced: Boolean) = !iters.exists(_.traced == traced)
      while (elapsed < a.seconds || need(false) || (a.trace && need(true))) {
        val traced = a.trace && iters.size % 2 == 1
        wl.prepare()
        System.gc()
        ctx.listen(traced)
        val id = tracer.nextId()
        val c0 = processCpuS()
        val w0 = System.nanoTime()
        val r = wl.iteration(traced, id)
        val w1 = System.nanoTime()
        val cpu = processCpuS() - c0
        tracer.add(Span(id, runSpan, "iteration", s"iteration ${iters.size}", tracer.msOf(w0), tracer.msOf(w1)))
        ctx.drain()
        val (calls, dead) = wl.tally()
        val counts = if (traced) wl.analyse(id, tracer.msOf(w0), tracer.msOf(w1)) else Map.empty[String, Double]
        val it = r.copy(calls = calls, dead = dead, wallS = (w1 - w0) / 1e9, cpuS = cpu, traced = traced,
          counts = counts)
        iters += it
        System.err.println(f"[perfbench] iteration ${iters.size}: ${it.wallS}%.3f s${if (traced) " (traced)" else ""}")
      }
      val rssMb = peakRssMb()
      ctx.listen(false)
      val plain = iters.filterNot(_.traced).toSeq
      val traced = iters.filter(_.traced).toSeq

      // the layer probes run before the checks: a probe may add failures
      val layerMetrics = if (a.trace) wl.layers(traced) else Map.empty[String, Double]
      val (attempted, failures) = wl.check()
      failures.take(20).foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))

      val wallS = median(plain.map(_.wallS))
      val metrics: Map[String, Double] =
        if (!a.trace) Map(
          "setup_s" -> setupS,
          "wall_s" -> wallS,
          "records_per_s" -> median(plain.map(i => i.records / i.wallS)),
          "calls_per_record" -> median(plain.map(i => i.calls.toDouble / i.records)),
          "ok_share" -> median(plain.map(i => 1.0 - i.dead.toDouble / i.records)))
        else {
          val tracedWall = median(traced.map(_.wallS))
          layerMetrics ++ Map(
            "cpu_s" -> median(traced.map(_.cpuS)),
            "peak_rss_mb" -> rssMb,
            "trace.overhead_s" -> (tracedWall - wallS),
            "trace.overhead_share" -> (if (wallS > 0) (tracedWall - wallS) / wallS else 0.0))
        }
      val runEnd = System.nanoTime()
      tracer.add(Span(runSpan, 0, "run", s"run ${tracer.runId}", tracer.msOf(runStart), tracer.msOf(runEnd)))
      if (a.trace) writeTrace(a, tracer, metrics)

      val result = new java.util.LinkedHashMap[String, Any]()
      result.put("correct", failures.isEmpty)
      result.put("attempted", attempted)
      result.put("failed", failures.size.toLong)
      result.put("metrics", new java.util.TreeMap[String, Double](metrics.asJava))
      result.put("iterations", iters.map(i => java.util.Map.of(
        "wall_s", i.wallS, "cpu_s", i.cpuS, "records", i.records, "calls", i.calls, "dead", i.dead,
        "traced", i.traced)).asJava)
      Files.writeString(a.out, mapper.writeValueAsString(result))
      exit = 0
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] run failed: $e")
      e.printStackTrace()
    } finally {
      try wl.close() finally ctx.stopSession()
    }
    System.exit(exit)
  }

  private def writeTrace(a: Args, tracer: Tracer, metrics: Map[String, Double]): Unit = {
    val spans = tracer.all
    val self = tracer.selfMs
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
    val root = new java.util.LinkedHashMap[String, Any]()
    root.put("run_id", tracer.runId)
    root.put("workload", a.workload)
    root.put("seed", a.seed)
    root.put("layer_self_ms", new java.util.TreeMap[String, Double](byLayer.asJava))
    root.put("metrics", new java.util.TreeMap[String, Double](metrics.asJava))
    root.put("spans", spans.map { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("layer", s.layer); m.put("name", s.name)
      m.put("start_ms", s.startMs); m.put("end_ms", s.endMs); m.put("self_ms", self(s.id))
      m
    }.asJava)
    Files.createDirectories(a.traceOut.getParent)
    Files.writeString(a.traceOut, mapper.writeValueAsString(root))
  }
}
