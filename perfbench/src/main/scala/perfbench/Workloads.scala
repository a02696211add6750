package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.JobConfig
import graft.run.{Orchestrator, PipelineRunner, PipelineStep}
import graft.sources.VersionedParquet

/** One engine call the harness times and traces. */
final case class Call(name: String, run: () => Unit)

/** One unit of a workload: untimed preparation, then the timed calls. */
final case class UnitOfWork(name: String, prepare: () => Unit, calls: Seq[Call])

/** A workload is a fixed sequence of units (one pass); the harness repeats
  * passes. Each pass starts from fresh output directories, so every pass
  * does the same work. */
trait Workload {
  def units(pass: Int): Seq[UnitOfWork]
  /** Output mismatches after `done` units of `pass` completed. */
  def check(pass: Int, done: Int): Seq[String]
  /** Directories the pass's sinks wrote, for the storage metrics. */
  def sinkDirs(pass: Int): Seq[Path]
  /** Raw input bytes the first `done` units read. */
  def inputBytes(done: Int): Long
  /** Rows the pass's validations turned away (error sink or dropped). */
  def rejectedRows(pass: Int, done: Int): Long
  /** Root of the workload's outputs; each pass writes under `p<pass>`. */
  def out: String
  def outDir(pass: Int): String = s"$out/p$pass"
  def cleanup(pass: Int): Unit = Fsx.delete(Paths.get(outDir(pass)))
  /** Called once after the timed passes; returns mismatches. */
  def finish(): Seq[String] = Nil
}

object Fsx {
  import graft.util.Fs.walk
  def delete(p: Path): Unit =
    walk(p).sortBy(_.toString)(Ordering[String].reverse).foreach(Files.deleteIfExists(_))
  def files(p: Path): Seq[Path] = walk(p).filter(Files.isRegularFile(_))
}

/** Day-by-day tick data, shared by the two daily workloads. */
final case class Days(inDir: String, symbols: Int, tallies: Seq[Map[String, Any]]) {
  def day(i: Int): String = tallies(i)("day").toString
  private def n(i: Int, k: String): Long = tallies(i)(k).toString.toLong
  def rows(done: Int): Long = (0 until done).map(n(_, "rows")).sum
  def nulls(done: Int): Long = (0 until done).map(n(_, "nulls")).sum
  def dups(done: Int): Long = (0 until done).map(n(_, "dups")).sum
  def bytes(done: Int): Long =
    (0 until done).flatMap(i => Fsx.files(Paths.get(inDir, day(i)))).map(Files.size).sum
}

object Sql {
  /** OHLC/VWAP per symbol and day — the transform step of `daily_bars`,
    * reused verbatim by the plain-Spark reference the check compares to. */
  def bars(from: String, where: String): String =
    s"""SELECT symbol, trade_date,
       |  CAST(min_by(price, trade_ts) AS DECIMAL(12,4)) AS open,
       |  CAST(max(price) AS DECIMAL(12,4)) AS high,
       |  CAST(min(price) AS DECIMAL(12,4)) AS low,
       |  CAST(max_by(price, trade_ts) AS DECIMAL(12,4)) AS close,
       |  CAST(sum(volume) AS BIGINT) AS volume,
       |  CAST(sum(price * volume) / sum(volume) AS DECIMAL(18,6)) AS vwap,
       |  CAST(count(*) AS BIGINT) AS ticks
       |FROM $from $where GROUP BY symbol, trade_date""".stripMargin

  val typed =
    "SELECT symbol, CAST(trade_ts AS TIMESTAMP) AS trade_ts, " +
      "CAST(price AS DECIMAL(12,4)) AS price, CAST(volume AS BIGINT) AS volume, " +
      "CAST(CAST(trade_ts AS TIMESTAMP) AS DATE) AS trade_date FROM ticks_raw"

  def movers(day: String): String =
    s"""WITH r AS (SELECT symbol, trade_date, close,
       |    LAG(close) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev_close,
       |    CAST(AVG(volume) OVER (PARTITION BY symbol ORDER BY trade_date
       |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS avg_vol5
       |  FROM bars),
       |m AS (SELECT *, CAST((close - prev_close) / prev_close AS DECIMAL(12,6)) AS ret
       |  FROM r WHERE trade_date = DATE'$day'),
       |k AS (SELECT *, RANK() OVER (ORDER BY ret DESC NULLS LAST, symbol) AS up_rank,
       |  RANK() OVER (ORDER BY ret ASC NULLS LAST, symbol) AS down_rank FROM m)
       |SELECT * FROM k WHERE up_rank <= 10 OR down_rank <= 10""".stripMargin

  /** Rows that differ between two frames of the same columns, both ways. */
  def diff(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.toSeq.map(col)
    val bb = b.select(cols: _*)
    a.exceptAll(bb).count() + bb.exceptAll(a).count()
  }

  val junk = "[^\\x20-\\x7E\\t\\n\\r]"
}

/** What the two day-by-day workloads share: output paths, the mismatch
  * list of a check, and the rejected-row and input-byte counts. */
abstract class Daily(spark: SparkSession, days: Days, val out: String) extends Workload {
  protected def p(pass: Int, leaf: String) = s"${outDir(pass)}/$leaf"

  protected final class Expect {
    private val bad = Seq.newBuilder[String]
    def apply(what: String, got: Long, want: Long): Unit =
      if (got != want) bad += s"$what: got $got, expected $want"
    def result: Seq[String] = bad.result()
  }

  def inputBytes(done: Int): Long = days.bytes(done)
  def rejectedRows(pass: Int, done: Int): Long =
    days.rows(done) - spark.read.parquet(p(pass, "ticks")).count()
}

/** The reference's scheduled DAG, one trading day per unit: ingest the day's
  * CSV feed with validation and error routing, compute daily bars into a
  * versioned table plus an SCD2 symbol dimension, and write a movers report. */
final class PipelineDaily(spark: SparkSession, days: Days, out: String,
    attempts: java.util.concurrent.atomic.AtomicLong) extends Daily(spark, days, out) {

  // counts every attempt the runner makes, retries included
  private val runner = new PipelineRunner(spark) {
    override protected def runAttempt(cfg: JobConfig, token: Option[String]): Unit = {
      attempts.incrementAndGet()
      super.runAttempt(cfg, token)
    }
  }


  private def ingest(pass: Int, d: String) = JobConfig.parse(
    s"""{"jobName": "ingest_prices", "tempPath": "${p(pass, "tmp")}",
       |"duplicateRunCheck": true, "thresholdLimit": "5%",
       |"preExecution": {"junkCharacterRemoval": true},
       |"inputs": [{"dataFrameName": "ticks_raw", "format": "csv",
       |  "path": "${days.inDir}/$d/ticks.csv", "header": true,
       |  "options": {"inferSchema": "false"}}],
       |"validations": [
       |  {"type": "nullValueCheck", "dataFrameName": "ticks_raw", "primaryKeys": ["symbol", "trade_ts"]},
       |  {"type": "duplicateRecordCheck", "dataFrameName": "ticks_raw",
       |   "primaryKeys": ["symbol", "trade_ts"], "orderByCols": ["trade_ts"]}],
       |"transformations": [{"functionName": "typed", "outputDFName": "ticks",
       |  "sqlQuery": "${Sql.typed}"}],
       |"sinks": [{"dataFrameName": "ticks", "format": "parquet", "path": "${p(pass, "ticks")}",
       |  "savemode": "append", "partitionBy": ["trade_date"], "reconciliation": true}],
       |"errorSink": {"dataFrameName": "errors", "format": "parquet",
       |  "path": "${p(pass, "errors")}", "savemode": "append"}}""".stripMargin)

  private def bars(pass: Int, d: String) = JobConfig.parse(
    s"""{"jobName": "daily_bars",
       |"inputs": [{"dataFrameName": "ticks", "format": "parquet", "path": "${p(pass, "ticks")}"}],
       |"transformations": [
       |  {"functionName": "bars", "outputDFName": "bars", "countValidation": 1,
       |   "sqlQuery": "${Sql.bars("ticks", s"WHERE trade_date = DATE'$d'").replace("\n", " ")}"},
       |  {"functionName": "snapshot", "outputDFName": "symbol_snap",
       |   "sqlQuery": "SELECT symbol, close AS last_close FROM bars"}],
       |"sinks": [
       |  {"dataFrameName": "bars", "format": "deltalake", "path": "${p(pass, "bars")}",
       |   "savemode": "append", "reconciliation": true},
       |  {"dataFrameName": "symbol_snap", "loadType": "scdType2Insert", "format": "parquet",
       |   "path": "${p(pass, "symbol_dim")}", "scdKeys": ["symbol"], "scdTrackedCols": ["last_close"],
       |   "options": {"scdBuckets": "4", "scdVersioned": "true"}}]}""".stripMargin)

  private def movers(pass: Int, d: String) = JobConfig.parse(
    s"""{"jobName": "movers_report",
       |"inputs": [{"dataFrameName": "bars", "format": "deltalake", "path": "${p(pass, "bars")}"}],
       |"transformations": [{"functionName": "movers", "outputDFName": "movers",
       |  "sqlQuery": "${Sql.movers(d).replace("\n", " ")}"}],
       |"sinks": [{"dataFrameName": "movers", "format": "csv", "path": "${p(pass, s"reports/$d")}",
       |  "savemode": "overwrite", "singleFile": true, "options": {"header": "true"}}]}""".stripMargin)

  def units(pass: Int): Seq[UnitOfWork] = days.tallies.indices.map { i =>
    val d = days.day(i)
    val steps = Seq(PipelineStep("ingest_prices", ingest(pass, d)),
      PipelineStep("daily_bars", bars(pass, d)), PipelineStep("movers_report", movers(pass, d)))
    UnitOfWork(d, () => (), steps.map(s => Call(s.name, () => runner.run(Seq(s)))))
  }

  def check(pass: Int, done: Int): Seq[String] = {
    val expect = new Expect
    expect("error rows", spark.read.parquet(p(pass, "errors")).count(),
      days.nulls(done) + days.dups(done))
    expect("ticks rows", spark.read.parquet(p(pass, "ticks")).count(),
      days.rows(done) - days.nulls(done) - days.dups(done))
    // plain Spark over the raw feed: strip junk, drop null keys and exact
    // duplicates, then the same bars SQL
    val raw = spark.read.option("header", "true").option("inferSchema", "false")
      .csv((0 until done).map(i => s"${days.inDir}/${days.day(i)}/ticks.csv"): _*)
      .withColumn("symbol", regexp_replace(col("symbol"), Sql.junk, ""))
      .where(col("symbol").isNotNull && col("trade_ts").isNotNull)
      .distinct()
    raw.createOrReplaceTempView("ticks_raw")
    spark.sql(Sql.typed).createOrReplaceTempView("ref_ticks")
    val ref = spark.sql(Sql.bars("ref_ticks", ""))
    val got = VersionedParquet.read(spark, p(pass, "bars"))
    expect("bars rows", got.count(), ref.count())
    expect("bars rows differing from the reference", Sql.diff(ref, got), 0)
    expect("symbol_dim versions", VersionedParquet.versions(p(pass, "symbol_dim")).size, done)
    expect("symbol_dim current rows",
      VersionedParquet.read(spark, p(pass, "symbol_dim")).where(col("is_current")).count(),
      days.symbols)
    val last = days.day(done - 1)
    expect(s"movers report rows for $last",
      spark.read.option("header", "true").csv(p(pass, s"reports/$last")).count(),
      if (done == 1) 10 else 20)
    expect.result
  }

  def sinkDirs(pass: Int): Seq[Path] =
    Seq("ticks", "errors", "bars", "symbol_dim", "reports").map(l => Paths.get(p(pass, l)))
}

/** The same days arriving as parquet files; once per day a streaming job
  * (AvailableNow) on one persistent checkpoint filters null keys, drops
  * duplicates within the watermark, appends ticks and merges the day's
  * symbol snapshots into a versioned SCD2 dimension. */
final class StreamDaily(spark: SparkSession, days: Days, out: String)
    extends Daily(spark, days, out) {
  private val orchestrator = new Orchestrator(spark)

  private def job(pass: Int) = JobConfig.parse(
    s"""{"jobName": "stream_ticks", "mode": "streaming", "tempPath": "${p(pass, "tmp")}",
       |"inputs": [{"dataFrameName": "ticks", "format": "parquet", "path": "${p(pass, "landing")}",
       |  "options": {"maxFilesPerTrigger": "1"},
       |  "watermarkColumn": "trade_ts", "watermarkDelay": "10 minutes"}],
       |"validations": [
       |  {"type": "nullValueCheck", "dataFrameName": "ticks", "primaryKeys": ["symbol", "trade_ts"]},
       |  {"type": "duplicateRecordCheck", "dataFrameName": "ticks", "primaryKeys": ["symbol", "trade_ts"]}],
       |"transformations": [
       |  {"functionName": "typed", "outputDFName": "ticks_out",
       |   "sqlQuery": "SELECT symbol, trade_ts, price, volume, CAST(trade_ts AS DATE) AS trade_date FROM ticks"},
       |  {"functionName": "snapshot", "outputDFName": "snapshots",
       |   "sqlQuery": "SELECT symbol, sector, price AS day_open FROM ticks WHERE seq = 0"}],
       |"sinks": [
       |  {"dataFrameName": "ticks_out", "format": "parquet", "path": "${p(pass, "ticks")}",
       |   "partitionBy": ["trade_date"]},
       |  {"dataFrameName": "snapshots", "loadType": "scdType2Insert", "format": "parquet",
       |   "path": "${p(pass, "symbol_dim")}", "scdKeys": ["symbol"], "scdTrackedCols": ["day_open"],
       |   "options": {"scdBuckets": "4", "scdVersioned": "true"}}],
       |"errorSink": {"dataFrameName": "errors", "format": "parquet", "path": "${p(pass, "errors")}"}}
       |""".stripMargin)

  def units(pass: Int): Seq[UnitOfWork] = {
    val cfg = job(pass)
    days.tallies.indices.map { i =>
      val d = days.day(i)
      // The day's files land before the timed call, one after another in
      // event-time order. The file source orders a batch's files by
      // modification time only, so files landing within the same
      // millisecond could be read out of order, and the watermark would
      // then drop the earlier file's rows as late.
      val land = () => {
        val dest = Paths.get(p(pass, "landing"))
        Files.createDirectories(dest)
        val t0 = System.currentTimeMillis()
        Fsx.files(Paths.get(days.inDir, d)).sortBy(_.toString).zipWithIndex.foreach { case (f, k) =>
          val to = dest.resolve(s"$d-${f.getFileName}")
          Files.copy(f, to, StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(to, java.nio.file.attribute.FileTime.fromMillis(t0 + 1000L * k))
        }
      }
      UnitOfWork(d, land, Seq(Call("stream_ticks", () => { orchestrator.run(cfg); () })))
    }
  }

  def check(pass: Int, done: Int): Seq[String] = {
    val expect = new Expect
    expect("error rows", spark.read.parquet(p(pass, "errors")).count(), days.nulls(done))
    val got = spark.read.parquet(p(pass, "ticks"))
    expect("ticks rows", got.count(), days.rows(done) - days.nulls(done) - days.dups(done))
    val ref = spark.read.parquet((0 until done).map(i => s"${days.inDir}/${days.day(i)}"): _*)
      .where(col("symbol").isNotNull).distinct()
      .selectExpr("symbol", "trade_ts", "price", "volume", "CAST(trade_ts AS DATE) AS trade_date")
    expect("ticks rows differing from the reference", Sql.diff(ref, got), 0)
    expect("symbol_dim versions", VersionedParquet.versions(p(pass, "symbol_dim")).size, done)
    expect("symbol_dim current rows",
      VersionedParquet.read(spark, p(pass, "symbol_dim")).where(col("is_current")).count(),
      days.symbols)
    expect.result
  }

  def sinkDirs(pass: Int): Seq[Path] =
    Seq("ticks", "errors", "symbol_dim").map(l => Paths.get(p(pass, l)))
}

/** A fixed list of registry queries, each built and counted, with the SQL
  * cache and persisted blocks cleared between queries. When a run makes more
  * than one pass, a query's row count must repeat in every pass; the runner
  * then compares it with the row count of the query's DuckDB oracle. */
final class AnalyticsMix(spark: SparkSession, fixtures: String, queries: Seq[String],
    val out: String) extends Workload {
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Set[Long]]

  def units(pass: Int): Seq[UnitOfWork] = queries.map { q =>
    UnitOfWork(q, () => (), Seq(Call(q, () => {
      val n = graft.SparkEntry.queries(q)(spark, fixtures).count()
      counts(q) = counts.getOrElse(q, Set.empty) + n
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    })))
  }

  def check(pass: Int, done: Int): Seq[String] =
    counts.toSeq.collect {
      case (q, ns) if ns.size > 1 => s"$q: row count differs between passes: ${ns.toSeq.sorted}"
    }

  /** The oracle SQL of the mix's queries, for the runner's DuckDB check. */
  override def finish(): Seq[String] = {
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    val missing = queries.filterNot(oracle.contains).map(q => s"$q: no oracle SQL")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(oracle.asJava))
    missing
  }

  def sinkDirs(pass: Int): Seq[Path] = Nil
  def inputBytes(done: Int): Long = Fsx.files(Paths.get(fixtures)).map(Files.size).sum
  def rejectedRows(pass: Int, done: Int): Long = 0L
}
