package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs and a params
  * file, then launches `perfbench.Main <params.json> <result.json>`.
  *
  * One driver thread submits one call at a time (a closed loop with a
  * single client) on a `local[cores]` session. The untraced run repeats
  * whole passes of the workload until `seconds` have been measured and
  * reports the end-to-end metrics; the traced run makes exactly one pass
  * with the listener attached and reports the per-layer metrics.
  */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val params = mapper.readValue(new File(args(0)), classOf[java.util.Map[String, Object]])
      .asScala.toMap
    def str(k: String) = params(k).toString
    val workloadName = str("workload")
    val seconds = str("seconds").toDouble
    val traced = str("trace") == "1"
    val cores = str("cores").toInt
    val host0 = Host.snapshot()
    // set-up is timed once, from JVM start: a cold start is what a user of
    // the engine waits for
    val (spark, setupS) = Session.setup(cores, host0)

    val attempts = new AtomicLong(0L)
    val inDir = str("in"); val outDir = str("out")
    def days = Days(inDir, str("symbols").toInt,
      params("tallies").asInstanceOf[java.util.List[java.util.Map[String, Object]]]
        .asScala.toSeq.map(_.asScala.toMap))
    val workload: Workload = workloadName match {
      case "pipeline_daily" => new PipelineDaily(spark, days, outDir, attempts)
      case "stream_daily"   => new StreamDaily(spark, days, outDir)
      case "analytics_mix"  => new AnalyticsMix(spark, inDir,
        params("queries").asInstanceOf[java.util.List[String]].asScala.toSeq, outDir)
      case other => sys.error(s"unknown workload $other")
    }

    val tracer = if (!traced) None else {
      val harness = Seq("Main.scala", "Workloads.scala", "Trace.scala", "Layers.scala")
      val t = new Tracer(Tracer.moduleMap(new File(str("graft_src")), harness))
      spark.sparkContext.addSparkListener(t)
      spark.streams.addListener(t.streamListener)
      Some(t)
    }

    val heap = new HeapWatch
    val runner = new Runner(spark, workload, tracer, heap, cores)
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val mismatches = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var more = true
    while (more) {
      val r = runner.pass(passes.size, workloadName)
      passes += r
      // a traced run makes one pass; its checks run after the listeners
      // are gone, so their jobs are not counted
      tracer.foreach { t =>
        org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t)
        spark.streams.removeListener(t.streamListener)
      }
      val bad = check(workload, r)
      bad.foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
      mismatches ++= bad
      val measured = passes.map(_.wallS).sum
      more = !traced && r.failures.isEmpty && measured < seconds &&
        (System.nanoTime() - t0) / 1e9 < 5 * seconds
    }
    // a traced pass keeps its outputs until the storage metrics are read
    val layer = tracer.map(t => Layers.report(spark, t, workload, passes.head, attempts.get, cores))
    layer.foreach(_.collect { case ("trace.unattributed_jobs", n, _) if n > 0 =>
      mismatches += s"${n.toLong} Spark jobs could not be assigned a span and a module" })
    passes.indices.foreach(workload.cleanup)
    mismatches ++= (if (passes.exists(_.failures.nonEmpty)) Nil else workload.finish())

    val failures = passes.flatMap(_.failures)
    val attempted = passes.map(_.attempted).sum
    val okUnits = passes.flatMap(_.unitS)
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) Double.NaN else {
        val s = xs.sorted; val n = s.size
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
      }
    val full = passes.filter(_.failures.isEmpty)
    val metrics: Seq[(String, Double, String)] = layer.getOrElse(Seq(
      ("setup_s", setupS, "s"),
      ("unit_p50_s", median(okUnits.toSeq), "s"),
      ("cpu_s", median(full.map(_.cpuS).toSeq), "s"),
      ("peak_live_heap_mb", heap.peakMb, "MB")))
    val host = Host.describe(spark, host0, Host.snapshot())
    spark.stop()

    val result = new java.util.LinkedHashMap[String, Object]()
    result.put("correct", java.lang.Boolean.valueOf(mismatches.isEmpty && failures.isEmpty))
    result.put("attempted", java.lang.Long.valueOf(attempted.toLong))
    result.put("failed", java.lang.Long.valueOf(failures.size.toLong))
    val m = new java.util.LinkedHashMap[String, Object]()
    metrics.foreach { case (k, v, u) =>
      val e = new java.util.LinkedHashMap[String, Object]()
      e.put("value", java.lang.Double.valueOf(v)); e.put("unit", u); m.put(k, e)
    }
    result.put("metrics", m)
    result.put("passes", java.lang.Integer.valueOf(passes.size))
    result.put("pass_s", passes.map(p => Double.box(p.wallS)).asJava)
    result.put("units", java.lang.Integer.valueOf(okUnits.size))
    result.put("unit_s", okUnits.map(Double.box).asJava)
    result.put("failures", failures.asJava)
    result.put("mismatches", mismatches.asJava)
    result.put("host", host.asJava)
    // per call: wall seconds of every run, and (traced) the jobs it issued
    val perCall = new java.util.LinkedHashMap[String, Object]()
    passes.flatMap(_.callS).groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, v) =>
      perCall.put(k, v.map(x => Double.box(x._2)).asJava)
    }
    result.put("call_s", perCall)
    workload match {
      case mix: AnalyticsMix =>
        val c = new java.util.LinkedHashMap[String, Object]()
        mix.counts.foreach { case (q, ns) => c.put(q, Long.box(ns.head)) }
        result.put("row_counts", c)
      case _ =>
    }
    tracer.foreach { t =>
      val byCall = new java.util.LinkedHashMap[String, Object]()
      val names = t.spans.filter(_.kind == "call").map(s => s.id -> s.name).toMap
      t.jobs.values.asScala.toSeq.groupBy(j => names.getOrElse(j.span, "?")).toSeq.sortBy(_._1)
        .foreach { case (k, js) => byCall.put(k, Long.box(js.size.toLong)) }
      result.put("call_jobs", byCall)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), result)
  }

  private def check(w: Workload, r: PassResult): Seq[String] =
    if (r.failures.nonEmpty || r.done == 0) Nil
    else try w.check(r.pass, r.done).map(m => s"pass ${r.pass}: $m")
    catch { case e: Throwable => Seq(s"pass ${r.pass}: check failed: ${e.getMessage}") }
}

object Session {
  /** The session every workload runs on: the settings of the engine's
    * driver mains (UTC, no UI, ANSI off, one shuffle partition per core),
    * and 2 MB execution memory pages. Spark's default page here is 32 MB,
    * so the heap after a collection jumped by whole pages with the number
    * of tasks that happened to hold one, and `peak_live_heap_mb` split
    * into two clusters 50 MB apart. */
  def build(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.buffer.pageSize", "2m")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Builds the session, registers GraftFunctions and runs one warm query.
    * Returns the session and the seconds since the JVM started, without
    * the hypervisor's steal time (as for a unit). */
  def setup(cores: Int, host0: Host.Snap): (SparkSession, Double) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = build(cores)
    graft.functions.GraftFunctions.register(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()
    val s = (System.currentTimeMillis() - jvmStart) / 1000.0 -
      Host.stolen(host0.steal, graft.util.HostMetrics.stealSec(), cores)
    (spark, s)
  }
}

/** The largest heap still in use right after a garbage collection, over
  * the collections that end inside a `during` block. Notifications arrive
  * after the collection, so collections are matched by their end time. */
final class HeapWatch {
  private val runtime = ManagementFactory.getRuntimeMXBean
  // (end of the collection in ms since JVM start, heap bytes in use after it)
  private val afterGc = new ConcurrentLinkedQueue[(Long, Long)]()
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Object): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo
        val used = gc.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        afterGc.add((gc.getEndTime, used))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def during[A](f: => A): A = {
    val t0 = runtime.getUptime
    try f finally windows += ((t0, runtime.getUptime))
  }

  /** NaN when no collection ended inside a `during` block. */
  def peakMb: Double = {
    val in = afterGc.asScala.collect {
      case (t, bytes) if windows.exists { case (s, e) => t >= s && t <= e } => bytes
    }
    if (in.isEmpty) Double.NaN else in.max / 1048576.0
  }
}

/** The outcome of one pass. Failed units are named and kept out of every
  * timing; a failure ends the pass. */
final case class PassResult(pass: Int, attempted: Int, failures: Seq[String],
    unitS: Seq[Double], wallS: Double, cpuS: Double, done: Int,
    callS: Seq[(String, Double)])

final class Runner(spark: SparkSession, w: Workload, tracer: Option[Tracer], heap: HeapWatch,
    cores: Int) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def pass(p: Int, workloadName: String): PassResult = {
    val top = tracer.map(_.open(spark, workloadName, "workload", 0))
    val unitS = mutable.ArrayBuffer.empty[Double]
    val callS = mutable.ArrayBuffer.empty[(String, Double)]
    var wallS = 0.0
    var cpuNs = 0L
    var failure: Option[String] = None
    var attempted = 0
    for (u <- w.units(p) if failure.isEmpty) {
      attempted += 1
      try {
        u.prepare()
        // young collections leave the old generation's garbage in place, so
        // without a full one between units the after-collection heap would
        // grow with the garbage of every earlier unit
        System.gc()
        val span = tracer.map(_.open(spark, u.name, "unit", top.get.id))
        val c0 = os.getProcessCpuTime
        val st0 = graft.util.HostMetrics.stealSec()
        val t0 = System.nanoTime()
        heap.during(u.calls.foreach { c =>
          val cs = tracer.map(_.open(spark, c.name, "call", span.get.id))
          val ct0 = System.nanoTime()
          try c.run() finally cs.foreach(tracer.get.close(spark, _))
          callS += ((c.name, (System.nanoTime() - ct0) / 1e9))
        })
        // a unit's latency leaves out the time the hypervisor ran other
        // guests instead of this one: steal seconds summed over all cores,
        // divided by the cores the unit could use
        val wall = (System.nanoTime() - t0) / 1e9
        unitS += wall - Host.stolen(st0, graft.util.HostMetrics.stealSec(), cores)
        wallS += wall
        cpuNs += os.getProcessCpuTime - c0
        span.foreach(tracer.get.close(spark, _))
      } catch {
        case e: Throwable =>
          val msg = s"$workloadName pass $p unit ${u.name}: ${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[perfbench] FAILED $msg")
          failure = Some(msg)
      }
    }
    top.foreach(tracer.get.close(spark, _))
    PassResult(p, attempted, failure.toSeq, unitS.toSeq, wallS, cpuNs / 1e9, unitS.size,
      callS.toSeq)
  }
}

object Host {
  /** Wall seconds the hypervisor ran other guests instead of this one
    * between two steal readings, per core (0 when steal is unreadable). */
  def stolen(st0: Double, st1: Double, cores: Int): Double =
    if (st0 < 0 || st1 < 0) 0.0 else math.max(0.0, st1 - st0) / cores

  final case class Snap(ms: Long, steal: Double, load: Double)
  def snapshot(): Snap =
    Snap(System.currentTimeMillis(), graft.util.HostMetrics.stealSec(),
      graft.util.HostMetrics.loadAvg())

  def describe(spark: SparkSession, a: Snap, b: Snap): Map[String, Object] = Map(
    "nproc" -> Int.box(Runtime.getRuntime.availableProcessors()),
    "master" -> spark.sparkContext.master,
    "java" -> System.getProperty("java.runtime.version"),
    "spark" -> spark.version,
    "driver_heap_mb" -> Long.box(Runtime.getRuntime.maxMemory() / 1048576L),
    "load_avg_start" -> Double.box(a.load),
    "load_avg_end" -> Double.box(b.load),
    "steal_s" -> Double.box(if (a.steal < 0 || b.steal < 0) -1.0 else b.steal - a.steal),
    "run_s" -> Double.box((b.ms - a.ms) / 1000.0))
}
