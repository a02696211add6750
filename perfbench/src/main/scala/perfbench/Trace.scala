package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: workload → unit → call. Only call spans own Spark jobs. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startMs: Long, var endMs: Long = -1L)

/** The traced run's recorder.
  *
  * The harness opens a span around each call it makes into the engine and
  * sets the span id as a Spark local property, which Spark copies onto every
  * job the call submits (also from AQE pool threads and from the stream
  * threads the call starts). The listener assigns each job to that span and
  * to the engine module whose source file submitted it. The source file is
  * the call site Spark records: for a job inside a SQL execution, the first
  * frame outside Spark of the execution's call stack (the job itself may be
  * submitted from a pool thread); otherwise the job's result stage's call
  * site. Files map to their package directory under `graft/`; the harness's
  * own files and the top-level `SparkEntry` glue count as `action`. A job a
  * streaming query submits inside a micro-batch counts as `streaming`: the
  * stream stamps its own call site on every job it runs.
  */
final class Tracer(moduleOf: Map[String, String]) extends SparkListener {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val nextSpan = new AtomicInteger(0)
  private val listenerNanos = new AtomicLong(0L)

  final class JobRec(val id: Int, val span: Int, val module: String,
      val site: String, val startMs: Long) {
    var endMs: Long = -1L
    var tasks = 0L; var cpuNs = 0L; var shuffleBytes = 0L
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execSite = new ConcurrentHashMap[Long, String]()

  // Spark-wide task totals
  val stages = new AtomicLong(0L)
  val tasks = new AtomicLong(0L)
  val failedTasks = new AtomicLong(0L)
  val cpuNs = new AtomicLong(0L)
  val runMs = new AtomicLong(0L)
  val gcMs = new AtomicLong(0L)
  val shuffleRead = new AtomicLong(0L)
  val shuffleWrite = new AtomicLong(0L)
  val shuffleRecords = new AtomicLong(0L)
  val spill = new AtomicLong(0L)
  val inputBytes = new AtomicLong(0L)
  val outputBytes = new AtomicLong(0L)

  // streaming progress
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  def open(spark: SparkSession, name: String, kind: String, parent: Int): Span = {
    val s = Span(nextSpan.incrementAndGet(), parent, name, kind, System.currentTimeMillis())
    spans.synchronized(spans += s)
    if (kind == "call") {
      spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
    }
    s
  }

  def close(spark: SparkSession, s: Span): Unit = {
    s.endMs = System.currentTimeMillis()
    if (s.kind == "call") {
      spark.sparkContext.setLocalProperty(SpanKey, null)
    }
  }

  private def timed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally listenerNanos.addAndGet(System.nanoTime() - t0)
  }

  def listenerSeconds: Double = listenerNanos.get() / 1e9

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execSite.put(s.executionId, siteOfStack(s.details))
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    def prop(k: String): Option[String] = props.flatMap(p => Option(p.getProperty(k)))
    val span = prop(SpanKey).map(_.toInt).getOrElse(-1)
    val site = prop("spark.sql.execution.id").map(_.toLong)
      .flatMap(id => Option(execSite.get(id)))
      .getOrElse {
        val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
        result.map(r => siteOfStack(r.details)).getOrElse("")
      }
    val module =
      if (prop("sql.streaming.queryId").isDefined) "streaming"
      else moduleOf.getOrElse(site, Unattributed)
    e.stageInfos.foreach(si => stageJob.put(si.stageId, e.jobId))
    jobs.put(e.jobId, new JobRec(e.jobId, span, module, site, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stages.incrementAndGet()
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    tasks.incrementAndGet()
    if (e.taskInfo != null && e.taskInfo.failed) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    val job = Option(jobs.get(stageJob.getOrDefault(e.stageId, -1)))
    job.foreach(j => j.synchronized { j.tasks += 1 })
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      job.foreach(j => j.synchronized {
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
      })
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val state = p.stateOperators.toSeq
      progress.add(Progress(p.runId.toString, p.batchId, d.getOrElse("triggerExecution", 0L),
        d.getOrElse("addBatch", 0L), d.getOrElse("queryPlanning", 0L),
        d.getOrElse("walCommit", 0L), state.map(_.numRowsTotal).sum,
        state.map(_.memoryUsedBytes).sum))
      ()
    }
  }

  /** Jobs that could not be given both a call span and a module. */
  def unattributed: Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(j => j.span < 0 || j.module == Unattributed)
}

object Tracer {
  final case class Progress(run: String, batch: Long, triggerMs: Long,
      addBatchMs: Long, planningMs: Long, walMs: Long, stateRows: Long,
      stateBytes: Long)
  val SpanKey = "perfbench.span"
  val Unattributed = "?"
  val Modules = Seq("run", "sources", "operators", "sinks", "streaming", "x", "util", "action")

  private val Frame = """\(([A-Za-z0-9_$]+\.(?:scala|java)):\d+\)""".r
  private val Short = """ at ([A-Za-z0-9_$]+\.(?:scala|java)):\d+""".r

  /** The source file of the first frame outside Spark in a call-site long
    * form (its first line is the last Spark method, the rest are frames
    * from the caller inward-out), or of a short form `op at File.scala:N`. */
  def siteOfStack(details: String): String = {
    if (details == null) return ""
    val lines = details.split("\n").toSeq
    lines.drop(1).iterator.flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))
      .nextOption()
      .orElse(lines.headOption.flatMap(l => Short.findFirstMatchIn(l).map(_.group(1))))
      .getOrElse("")
  }

  /** File name → module, from the engine's source tree: a file in
    * `graft/<dir>/` belongs to `<dir>`; the files at the top of `graft/`
    * (the query registry and its mains) and the harness count as `action`. */
  def moduleMap(graftSrc: File, harnessFiles: Seq[String]): Map[String, String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val root = graftSrc.getCanonicalFile.toPath
    val engine = walk(graftSrc).filter(_.getName.endsWith(".scala")).map { f =>
      val rel = root.relativize(f.getCanonicalFile.toPath)
      f.getName -> (if (rel.getNameCount > 1) rel.getName(0).toString else "action")
    }
    (engine ++ harnessFiles.map(_ -> "action")).toMap
  }
}
