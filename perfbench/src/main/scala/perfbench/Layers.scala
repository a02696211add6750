package perfbench

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The traced run's per-layer metrics, computed from the tracer's spans
  * and jobs, the streaming progress events, and the sinks' files on disk. */
object Layers {
  val Steps = Seq("ingest_prices", "daily_bars", "movers_report")

  /** Total length of the union of [start, end] intervals, in seconds. */
  def busy(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.filter { case (s, e) => e >= s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total / 1000.0
  }

  def report(spark: SparkSession, t: Tracer, w: Workload, pass: PassResult,
      attempts: Long, cores: Int): Seq[(String, Double, String)] = {
    val jobs = t.jobs.values.asScala.toSeq
    val out = Seq.newBuilder[(String, Double, String)]
    def put(name: String, v: Double, unit: String): Unit = out += ((name, v, unit))

    Tracer.Modules.foreach { m =>
      val js = jobs.filter(_.module == m)
      put(s"$m.jobs", js.size, "count")
      put(s"$m.tasks", js.map(_.tasks).sum.toDouble, "count")
      put(s"$m.busy_s", busy(js.map(j => (j.startMs, j.endMs))), "s")
      put(s"$m.task_cpu_s", js.map(_.cpuNs).sum / 1e9, "s")
      put(s"$m.shuffle_bytes", js.map(_.shuffleBytes).sum.toDouble, "bytes")
    }
    put("spark.jobs", jobs.size, "count")
    put("spark.stages", t.stages.get.toDouble, "count")
    put("spark.tasks", t.tasks.get.toDouble, "count")
    put("spark.task_cpu_s", t.cpuNs.get / 1e9, "s")
    put("spark.task_run_s", t.runMs.get / 1000.0, "s")
    put("spark.gc_s", t.gcMs.get / 1000.0, "s")
    put("spark.shuffle_read_bytes", t.shuffleRead.get.toDouble, "bytes")
    put("spark.shuffle_write_bytes", t.shuffleWrite.get.toDouble, "bytes")
    put("spark.shuffle_records", t.shuffleRecords.get.toDouble, "count")
    put("spark.spill_bytes", t.spill.get.toDouble, "bytes")
    put("spark.input_bytes", t.inputBytes.get.toDouble, "bytes")
    put("spark.output_bytes", t.outputBytes.get.toDouble, "bytes")
    put("spark.failed_tasks", t.failedTasks.get.toDouble, "count")
    put("spark.core_util", t.runMs.get / 1000.0 / (pass.wallS * cores), "ratio")

    // driver time inside call spans during which none of their jobs ran
    val calls = t.spans.filter(_.kind == "call")
    val gap = calls.map { s =>
      val own = jobs.filter(_.span == s.id)
        .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      (s.endMs - s.startMs) / 1000.0 - busy(own)
    }.sum
    put("driver.gap_s", gap, "s")
    Steps.foreach { st =>
      put(s"step.${st}_s", calls.filter(_.name == st).map(s => (s.endMs - s.startMs) / 1000.0).sum, "s")
    }
    put("run.steps", calls.count(s => Steps.contains(s.name)).toDouble, "count")
    put("run.attempts", attempts.toDouble, "count")

    // storage, read from disk
    val files = w.sinkDirs(pass.pass).flatMap(Fsx.files)
    def inLog(f: java.nio.file.Path) = f.iterator().asScala.exists(_.toString == "_graft_log")
    val logFiles = files.filter(inLog)
    val dataFiles = files.filter { f =>
      val n = f.getFileName.toString
      !inLog(f) && !n.startsWith(".") && !n.startsWith("_")
    }
    val bytes = files.map(Files.size).sum
    put("sinks.commits", logFiles.count(_.getFileName.toString.matches("\\d+\\.json")).toDouble, "count")
    put("sinks.data_files", dataFiles.size.toDouble, "count")
    put("sinks.log_files", logFiles.size.toDouble, "count")
    put("sinks.bytes_on_disk", bytes.toDouble, "bytes")
    val inBytes = w.inputBytes(pass.done)
    put("sinks.bytes_per_input_byte", if (inBytes > 0) bytes.toDouble / inBytes else 0.0, "ratio")
    put("operators.rejected_rows", w.rejectedRows(pass.pass, pass.done).toDouble, "count")

    // streaming progress
    val prog = t.progress.asScala.toSeq
    val batches = prog.map(p => (p.run, p.batch)).distinct
    val trig = prog.map(_.triggerMs.toDouble).sorted
    put("streaming.batches", batches.size.toDouble, "count")
    put("streaming.batch_p50_ms", if (trig.isEmpty) 0.0 else trig(trig.size / 2), "ms")
    put("streaming.add_batch_ms", prog.map(_.addBatchMs).sum.toDouble, "ms")
    put("streaming.planning_ms", prog.map(_.planningMs).sum.toDouble, "ms")
    put("streaming.wal_ms", prog.map(_.walMs).sum.toDouble, "ms")
    val last = prog.groupBy(_.run).values.map(_.maxBy(_.batch)).toSeq
    put("streaming.state_rows", last.map(_.stateRows).sum.toDouble, "count")
    put("streaming.state_bytes", last.map(_.stateBytes).sum.toDouble, "bytes")

    val lost = t.unattributed
    lost.take(20).foreach(j => System.err.println(
      s"[perfbench] unattributed job ${j.id}: span=${j.span} site='${j.site}'"))
    put("trace.unattributed_jobs", lost.size.toDouble, "count")
    put("trace.pass_s", pass.wallS, "s")
    put("trace.listener_s", t.listenerSeconds, "s")
    out.result()
  }
}
