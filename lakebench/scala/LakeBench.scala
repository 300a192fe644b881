// Lakehouse benchmark harness: runs one workload in this JVM, times the
// program's public entry points from outside, and writes result.json (and,
// when traced, trace.json) into the work directory. lakebench/run.py builds
// and launches it; see lakebench/README.md.
package org.apache.spark.lakebench {
  // LiveListenerBus.waitUntilEmpty is private[spark]: the traced run drains
  // the bus after each operation so its jobs and plans are attributed to it.
  object Bus {
    def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package lakebench {

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished span: name, start/end in ns since the run's origin, parent
  * span id (-1 for none) and the operation it belongs to. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

/** Counts the traced run gathers per operation from Spark's listener buses.
  * Delivery is asynchronous; `Tracer.take` drains the bus first. */
final class Collector extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, phase: String,
      var tasks: Int = 0, var cpuNs: Long = 0L, var shuffleBytes: Long = 0L)
  private val stageJob = mutable.Map.empty[Int, Job]
  val jobs = mutable.ArrayBuffer.empty[Job]
  val plans = mutable.ArrayBuffer.empty[QueryExecution]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty("lakebench.phase")))
      .getOrElse("action")
    val j = Job(e.jobId, e.time, e.time, phase)
    jobs += j
    e.stageIds.foreach(stageJob(_) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plans += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { plans += qe }

  def take(): (Seq[Job], Seq[QueryExecution]) = synchronized {
    val r = (jobs.toList, plans.toList)
    jobs.clear(); plans.clear(); stageJob.clear()
    r
  }
}

/** Per-round accumulation of named values; a run reports, per name, the
  * median over its rounds. */
final class Rounds {
  private val done = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
  private var cur = mutable.Map.empty[String, Double]
  def add(name: String, v: Double): Unit = cur(name) = cur.getOrElse(name, 0.0) + v
  def set(name: String, v: Double): Unit = cur(name) = v
  def max(name: String, v: Double): Unit = cur(name) = math.max(cur.getOrElse(name, v), v)
  def endRound(): Unit = { done += cur; cur = mutable.Map.empty }
  def names: Seq[String] = done.flatMap(_.keys).distinct.sorted.toSeq
  def median(name: String): Double = Stats.median(done.map(_.getOrElse(name, 0.0)).toSeq)
}

object Stats {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Times each operation from outside the program. Untraced, it reads only
  * the wall clock and process CPU time. Traced, it also drains Spark's
  * listener buses after the operation and records spans for the statement,
  * its planning phases and its jobs, plus per-layer counts. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val origin = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  val rounds = new Rounds
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextOp = 0
  private val collector = new Collector
  if (traced) {
    spark.sparkContext.addSparkListener(collector)
    spark.listenerManager.register(collector)
  }
  var timing = false // true inside the timed region
  val opLog = mutable.ArrayBuffer.empty[Seq[Any]] // name, wall ms, cpu ms of each timed op
  var untimedNs = 0L // spent on checks inside the timed region

  def untimed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally untimedNs += System.nanoTime() - t0
  }

  def cpuNs: Long = os.getProcessCpuTime
  private def msToNs(ms: Long): Long = (ms - originMs) * 1000000L

  /** Runs `build` then `action` as one operation of statement kind `kind`
    * in layer `layer`; returns the action's result and the wall ms of both.
    * Jobs launched inside `build` count as `jobs_before_action`. */
  def op[D, R](layer: String, kind: String, name: String)(build: => D)(action: D => R): (R, Double) = {
    val sc = spark.sparkContext
    val id = nextOp; nextOp += 1
    if (traced) {
      take() // anything left over belongs to no timed operation
      sc.setLocalProperty("lakebench.phase", "build")
    }
    val c0 = cpuNs
    val t0 = System.nanoTime()
    val d = build
    if (traced) sc.setLocalProperty("lakebench.phase", "action")
    val tA = System.nanoTime()
    val r = action(d)
    val t1 = System.nanoTime()
    val c1 = cpuNs
    val ms = (t1 - t0) / 1e6
    if (timing) {
      val (w, c) = (ms / 1000, (c1 - c0) / 1e9)
      if (slot < best.size) best(slot) = (math.min(best(slot)._1, w), math.min(best(slot)._2, c))
      else best += ((w, c))
      slot += 1
      opLog += Seq(s"$layer:$kind:$name", ms, (c1 - c0) / 1e6)
    }
    if (traced) {
      sc.setLocalProperty("lakebench.phase", null)
      val (jobs, qes) = take()
      val outer = d match {
        case df: DataFrame => Seq(df.queryExecution)
        case _ => Seq.empty
      }
      val all = (qes ++ outer.filterNot(o => qes.exists(_ eq o)))
      val sid = spans.size
      spans += Span(sid, s"$layer:$kind:$name", t0 - origin, t1 - origin, -1, id)
      spans += Span(spans.size, "build", t0 - origin, tA - origin, sid, id)
      val phaseMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      all.foreach { qe =>
        qe.tracker.phases.foreach { case (ph, s) =>
          phaseMs(ph) += (s.endTimeMs - s.startTimeMs).toDouble
          spans += Span(spans.size, s"phase:$ph", msToNs(s.startTimeMs), msToNs(s.endTimeMs), sid, id)
        }
      }
      jobs.foreach { j =>
        spans += Span(spans.size, s"job:${j.id}", msToNs(j.startMs), msToNs(j.endMs), sid, id)
      }
      if (timing) {
        if (layer == "sql") {
          rounds.add(s"sql.$kind.parse_ms", phaseMs("parsing"))
          rounds.add(s"sql.$kind.analyze_ms", phaseMs("analysis"))
          rounds.add(s"sql.$kind.optimize_ms", phaseMs("optimization"))
          rounds.add(s"sql.$kind.plan_ms", phaseMs("planning"))
        }
        val e = if (layer == "sql") s"exec.$kind" else s"exec.$layer"
        rounds.add(s"$e.jobs", jobs.size)
        rounds.add(s"$e.jobs_before_action", jobs.count(_.phase == "build"))
        rounds.add(s"$e.tasks", jobs.map(_.tasks).sum)
        rounds.add(s"$e.task_cpu_ms", jobs.map(_.cpuNs).sum / 1e6)
        rounds.add(s"$e.shuffle_bytes", jobs.map(_.shuffleBytes).sum.toDouble)
        rounds.add(s"$e.wall_ms", jobs.map(j => j.endMs - j.startMs).sum.toDouble)
        rounds.max("jvm.heap_after_gc_peak_mb", heapAfterGcMb)
        lastJobs = jobs
        lastPlanMs = phaseMs("analysis") + phaseMs("optimization") + phaseMs("planning")
        lastBuildMs = (tA - t0) / 1e6
        lastExecMs = (t1 - tA) / 1e6
      }
    }
    (r, ms)
  }
  /** A round may run the same operations in several passes. Each operation
    * counts once in `round_s` and `cpu_s`, at the least over its passes, so
    * that a host stall during one pass does not reach the round's figures. */
  private val best = mutable.ArrayBuffer.empty[(Double, Double)]
  private var slot = 0
  def newPass(): Unit = slot = 0
  def endRound(): Unit = {
    rounds.set("round_s", best.map(_._1).sum)
    rounds.set("cpu_s", best.map(_._2).sum)
    best.clear()
    slot = 0
    rounds.endRound()
  }

  // details of the last traced operation, for layer-specific metrics
  var lastJobs: Seq[Collector#Job] = Seq.empty
  var lastPlanMs = 0.0
  var lastBuildMs = 0.0
  var lastExecMs = 0.0

  private def take(): (Seq[Collector#Job], Seq[QueryExecution]) = {
    org.apache.spark.lakebench.Bus.drain(spark.sparkContext)
    collector.take()
  }

  /** Total collection ms, and heap in use after the latest collection of
    * each heap pool; the traced run samples the latter after every op. */
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  def gcMs: Long = { var s = 0L; gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime)); s }
  def heapAfterGcMb: Double = {
    var s = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
        s += p.getCollectionUsage.getUsed
    }
    s / 1048576.0
  }

  def writeTrace(path: String): Unit = {
    val rows = spans.map(s => Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
      "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op))
    // self time: a span minus the part of it its children cover
    val kids = spans.groupBy(_.parent)
    val self = spans.filter(_.parent < 0).map { s =>
      val cs = kids.getOrElse(s.id, Seq.empty).filter(_.name.startsWith("job:"))
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))).filter(x => x._2 > x._1)
        .sortBy(_._1)
      var covered = 0L; var hi = Long.MinValue
      cs.foreach { case (a, b) =>
        val lo = math.max(a, hi)
        if (b > lo) covered += b - lo
        hi = math.max(hi, b)
      }
      s.name -> (s.end - s.start - covered) / 1e6
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    LakeBench.writeJson(path, Map("spans" -> rows, "self_ms_outside_jobs" -> self))
  }
}

object LakeBench {
  val Cat = "lake"
  val Ns = "finance"
  val Cols = "account, txn_date, txn_id, merchant, amount, category, last_updated"
  val CsvSchema = "account STRING, txn_date DATE, txn_id STRING, merchant STRING, " +
    "amount DOUBLE, category STRING, last_updated TIMESTAMP"
  val HashExpr = s"cast(sum(cast(xxhash64($Cols) AS decimal(38,0))) AS string)"
  val CentsExpr = "cast(sum(cast(cast(cast(amount AS decimal(18,2)) * 100 AS bigint) AS decimal(38,0))) AS bigint)"

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def writeJson(path: String, v: Any): Unit =
    Files.write(Paths.get(path), mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(v))
  def readJson(path: String): Map[String, Any] =
    mapper.readValue(new File(path), classOf[Map[String, Any]])

  /** `<workload> <workDir> <seconds> <trace 0|1>` runs one workload. */
  def main(args: Array[String]): Unit = {
    val Array(workload, work, seconds, trace) = args
    val spark = session(work, workload)
    run(spark, workload, work, seconds.toDouble, trace == "1")
    spark.stop()
  }

  def session(work: String, name: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"lakebench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config(s"spark.sql.catalog.$Cat", "graft.table.catalog.GraftSparkCatalog")
      .config(s"spark.sql.catalog.$Cat.warehouse", s"$work/warehouse")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Ends set-up by waiting, at most 5 s, until the JIT compiler has been
    * idle for 300 ms, so that compilations queued by set-up do not spend
    * CPU inside the timed round. */
  def settleJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = jit.getTotalCompilationTime
    var idleSince = System.nanoTime()
    while (System.nanoTime() - idleSince < 300000000L && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; idleSince = System.nanoTime() }
    }
  }

  def run(spark: SparkSession, workload: String, work: String, seconds: Double,
      traced: Boolean): Unit = {
    val tr = new Tracer(spark, traced)
    val out = mutable.LinkedHashMap.empty[String, Any]
    val checks = mutable.LinkedHashMap.empty[String, Any]
    val w: Workload = workload match {
      case "daily_cycle" => new DailyCycle(spark, tr, work)
      case "corpus_operators" => new CorpusOperators(spark, tr, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvm = ManagementFactory.getRuntimeMXBean
    println(s"lakebench: spark ready ${jvm.getUptime} ms")
    w.setup()
    // set-up: from the JVM's start, through SparkSession start, to the end
    // of the workload's own set-up; the JIT settle below is in neither figure
    val setupS = (System.currentTimeMillis() - jvm.getStartTime) / 1000.0
    println(s"lakebench: setup done ${jvm.getUptime} ms")
    settleJit()
    // timed region: whole rounds of the same operations until `seconds` pass
    tr.timing = true
    val gc0 = tr.gcMs
    val t0 = System.nanoTime()
    var round = 0
    while (round == 0 || (System.nanoTime() - t0 - tr.untimedNs) / 1e9 < seconds) {
      val g = tr.gcMs
      w.round(round, if (round == 0) Some(checks) else None)
      tr.rounds.set("jvm.gc_ms", (tr.gcMs - g).toDouble)
      tr.rounds.max("jvm.heap_after_gc_peak_mb", tr.heapAfterGcMb)
      tr.endRound()
      round += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    tr.timing = false
    out("rounds") = round
    out("timed_s") = timedS
    out("gc_ms_total") = tr.gcMs - gc0
    out("attempted") = w.attempted
    out("failed") = 0 // a statement that throws ends the run instead
    out("metrics") = Map(
      "setup_s" -> setupS,
      "cpu_s" -> tr.rounds.median("cpu_s"),
      "round_s" -> tr.rounds.median("round_s"))
    if (tr.traced) {
      out("layers") = tr.rounds.names.map(n => n -> tr.rounds.median(n)).toMap
      tr.writeTrace(s"$work/trace.json")
    }
    out("checks") = checks
    out("ops") = tr.opLog
    writeJson(s"$work/result.json", out)
  }
}

/** A workload: untimed set-up, then rounds of identical operations. */
trait Workload {
  var attempted = 0L
  def setup(): Unit
  def round(i: Int, checks: Option[mutable.Map[String, Any]]): Unit
}

/** The reference daily job and the queries over its versions. Each round
  * builds a fresh merge-on-read table through the daily cycle, with one WAP
  * batch per day, runs the README queries against every branch and latest,
  * then runs the reference maintenance CALLs. */
final class DailyCycle(spark: SparkSession, tr: Tracer, work: String) extends Workload {
  import LakeBench._
  val spec = readJson(s"$work/input/spec.json")
  val days = spec("days").asInstanceOf[Int]
  val lookups = spec("lookups").asInstanceOf[Seq[String]]
  val branches = (1 to days).map(d => s"day$d")
  val lastDay = java.time.LocalDate.of(2024, 3, 1).plusDays(days - 1)
  val catalog = spark.sessionState.catalogManager.catalog(Cat).asInstanceOf[TableCatalog]

  def sql(kind: String, text: String, layer: String = "sql"): (Array[Row], Double) = {
    attempted += 1
    tr.op(layer, kind, text.takeWhile(_ != '(').take(40))(spark.sql(text))(_.collect())
  }

  def create(t: String): Unit = spark.sql(
    s"""CREATE TABLE $Cat.$Ns.$t (
          account STRING, txn_date DATE, txn_id STRING, merchant STRING,
          amount DOUBLE, category STRING, last_updated TIMESTAMP)
        USING parquet PARTITIONED BY (txn_date)
        TBLPROPERTIES (
          'write.wap.enabled' = 'true',
          'write.delete.mode' = 'copy-on-write',
          'write.update.mode' = 'merge-on-read',
          'write.merge.mode' = 'merge-on-read',
          'write.delete.format.default' = 'avro',
          'write.parquet.compression-codec' = 'zstd',
          'comment' = 'Transaction Table')""")

  def location(t: String): String =
    s"${spark.conf.get(s"spark.sql.catalog.$Cat.warehouse")}/$Ns/$t"
  def dirBytes(path: String): (Long, Long) = {
    val f = new File(path)
    if (!f.exists) (0L, 0L)
    else {
      var b = 0L; var n = 0L
      Files.walk(f.toPath).forEach { p =>
        if (Files.isRegularFile(p)) { b += Files.size(p); n += 1 }
      }
      (b, n)
    }
  }

  /** One day of the reference job: stage the CSV drop, MERGE it on txn_id,
    * pin the day as a branch, drop the stage. */
  def ingestDay(t: String, d: Int): Unit = {
    val fq = s"$Cat.$Ns.$t"
    val stage = s"$Cat.$Ns.${t}_stage"
    sql("stage", s"CREATE OR REPLACE TABLE $stage USING parquet AS SELECT * FROM $fq LIMIT 0")
    sql("stage", s"""CREATE OR REPLACE TEMPORARY VIEW drop_batch ($CsvSchema) USING csv
                     OPTIONS (path '$work/input/days/day$d.csv', header 'true')""")
    sql("stage", s"INSERT INTO $stage ($Cols) SELECT $Cols FROM drop_batch")
    sql("merge",
      s"""MERGE INTO $fq AS target USING $stage AS src
          ON target.txn_id = src.txn_id
          WHEN MATCHED THEN UPDATE SET target.amount = src.amount,
            target.category = src.category, target.last_updated = src.last_updated,
            target.txn_date = src.txn_date
          WHEN NOT MATCHED THEN INSERT *""")
    sql("branch", s"ALTER TABLE $fq CREATE OR REPLACE BRANCH `day$d`")
    sql("stage", s"DROP TABLE $stage")
  }

  private def asOf(ref: String): String = if (ref == "main") "" else s" VERSION AS OF '$ref'"

  /** Untimed: row count and order-independent content hash of one ref. */
  def countHash(t: String, ref: String): Seq[Any] = tr.untimed {
    val r = spark.sql(s"SELECT count(*), $HashExpr FROM $Cat.$Ns.$t${asOf(ref)}").head()
    Seq(r.getLong(0), Option(r.getString(1)).getOrElse("0"))
  }

  /** Untimed: what the DuckDB replay is compared against, for one ref. One
    * ROLLUP query gives per-account counts, amount cents and hashes, and an
    * independently aggregated total row that the per-account rows must sum to. */
  def state(t: String, ref: String): Map[String, Any] = tr.untimed {
    val rows = spark.sql(s"""SELECT account, grouping(account), count(*), $CentsExpr, $HashExpr
        FROM $Cat.$Ns.$t${asOf(ref)} GROUP BY ROLLUP(account)""").collect()
    val (total, accts) = rows.partition(_.getByte(1) == 1)
    val sumOf = accts.map(_.getLong(2)).sum
    Map("count" -> total.head.getLong(2), "cents" -> total.head.getLong(3),
      "hash" -> total.head.getString(4),
      "accounts" -> accts.map(r => r.getString(0) -> r.getLong(2)).toMap,
      "accounts_sum_ok" -> (sumOf == total.head.getLong(2) &&
        accts.map(r => BigInt(r.getString(4))).sum == BigInt(total.head.getString(4))))
  }

  def render(r: Row): Seq[String] = Seq(r.getString(0), r.getDate(1).toString, r.getString(2),
    r.getString(3), f"${r.getDouble(4)}%.2f", r.getString(5),
    r.getTimestamp(6).toString.stripSuffix(".0"))

  def refs(t: String): Seq[String] = tr.untimed {
    spark.sql(s"SELECT name FROM $Cat.$Ns.$t.refs").collect().map(_.getString(0)).toSeq.sorted
  }

  // no warm-up: the reference job runs once a day in a fresh JVM, so the
  // timed round pays class loading and code generation as that job does
  def setup(): Unit = ()

  /** The WAP cycle: stage the batch on branch `wap`, audit it for nulls,
    * then fast-forward main or discard the branch. */
  def wap(t: String, d: Int, checks: Option[mutable.Map[String, Any]]): Unit = {
    val fq = s"$Cat.$Ns.$t"
    sql("wap", "SET spark.graft.wap.branch=wap")
    sql("wap", s"""CREATE OR REPLACE TEMPORARY VIEW wap_batch ($CsvSchema) USING csv
                   OPTIONS (path '$work/input/wap/day$d.csv', header 'true')""")
    sql("wap", s"INSERT INTO $fq ($Cols) SELECT $Cols FROM wap_batch")
    val (audit, _) = sql("wap", s"""SELECT count(*) FROM $fq WHERE account IS NULL
        OR txn_date IS NULL OR txn_id IS NULL OR merchant IS NULL OR amount IS NULL
        OR category IS NULL OR last_updated IS NULL""")
    sql("wap", "RESET spark.graft.wap.branch")
    val publish = audit.head.getLong(0) == 0
    if (publish) sql("wap", s"CALL $Cat.system.fast_forward('$Ns.$t', 'main', 'wap')")
    sql("wap", s"ALTER TABLE $fq DROP BRANCH wap")
    checks.foreach { c =>
      c(s"wap_day$d") = Map("published" -> publish, "main_after" -> countHash(t, "main"),
        "batch" -> tr.untimed {
          val b = spark.sql(s"SELECT count(*), $HashExpr FROM wap_batch").head()
          Seq(b.getLong(0), b.getString(1))
        })
    }
  }

  def round(i: Int, checks: Option[mutable.Map[String, Any]]): Unit = {
    val t = s"activity_r$i"
    create(t)
    val loc = location(t)
    (1 to days).foreach { d =>
      val (b0, f0) = if (tr.traced) dirBytes(loc) else (0L, 0L)
      ingestDay(t, d)
      wap(t, d, checks)
      if (tr.traced) {
        val (b1, f1) = dirBytes(loc)
        tr.rounds.add("table.bytes_written_per_day", (b1 - b0).toDouble / days)
        tr.rounds.add("table.files_written_per_day", (f1 - f0).toDouble / days)
        val m = graft.table.GraftTable.load(spark, loc).meta
        val s = m.currentSnapshot
        tr.rounds.set("table.snapshots", m.snapshots.size.toDouble)
        tr.rounds.set("table.data_files", s.map(_.files.size).getOrElse(0).toDouble)
        tr.rounds.set("table.delete_files", s.map(_.deleteFiles.size).getOrElse(0).toDouble)
      }
    }
    if (tr.traced) {
      val live = spark.sql(s"SELECT count(*) FROM $Cat.$Ns.$t").head().getLong(0)
      tr.rounds.set("table.stored_bytes_per_row", dirBytes(loc)._1.toDouble / live)
    }
    checks.foreach(_("observed") = (branches :+ "main").map(b => b -> state(t, b)).toMap)
    reads(t, checks)
    val (bm0, _) = if (tr.traced) dirBytes(loc) else (0L, 0L)
    val fqs = s"'$Ns.$t'"
    def call(p: String, text: String): Unit = {
      val (_, m) = sql("call", text)
      if (tr.traced) tr.rounds.add(s"catalog.call.${p}_ms", m)
    }
    call("remove_orphan_files",
      s"CALL $Cat.system.remove_orphan_files(table => $fqs, dry_run => true)")
    call("rewrite_data_files", s"CALL $Cat.system.rewrite_data_files(table => $fqs, " +
      "strategy => 'sort', sort_order => 'account ASC NULLS LAST, txn_id DESC NULLS FIRST')")
    // branches are checked after the whole maintenance sequence below
    checks.foreach(_("post_rewrite") = Map("main" -> countHash(t, "main")))
    call("rewrite_manifests", s"CALL $Cat.system.rewrite_manifests($fqs)")
    call("expire_snapshots", s"CALL $Cat.system.expire_snapshots(table => $fqs, retain_last => 3)")
    call("drop_branch", s"ALTER TABLE $Cat.$Ns.$t DROP BRANCH day1")
    if (tr.traced) tr.rounds.add("table.bytes_rewritten", (dirBytes(loc)._1 - bm0).max(0L).toDouble)
    checks.foreach(_("post_maintenance") = refs(t).map(b => b -> countHash(t, b)).toMap)
    tr.untimed(spark.sql(s"DROP TABLE $Cat.$Ns.$t"))
  }

  private def q(kind: String, text: String): Array[Row] = sql(kind, text)._1

  /** The README queries: snapshot resolution and delete application do the
    * work, with no commit among them. */
  def reads(t: String, checks: Option[mutable.Map[String, Any]]): Unit = {
    val fq = s"$Cat.$Ns.$t"
    val counts = branches.map(b =>
      b -> q("select", s"SELECT count(*) FROM $fq VERSION AS OF '$b'").head.getLong(0))
    val looks = for (id <- lookups; ref <- branches :+ "main") yield
      (ref, q("select", s"SELECT $Cols FROM $fq${asOf(ref)} WHERE txn_id = '$id'").map(render))
    val byAcct = q("select",
      s"SELECT account, count(*) AS activity_count FROM $fq GROUP BY account ORDER BY account")
    val byDate = q("select", s"""SELECT txn_date, count(*) AS n, $CentsExpr AS cents FROM $fq
        WHERE txn_date >= DATE '${lastDay.minusDays(2)}' GROUP BY txn_date ORDER BY txn_date""")
    Seq("history", "snapshots", "manifests", "files").foreach { m =>
      q("metadata", s"SELECT * FROM $fq.$m")
    }
    if (tr.traced) tracedReadLayers(t)
    checks.foreach { c =>
      c("timed_counts") = counts.toMap
      c("timed_accounts") = byAcct.map(r => r.getString(0) -> r.getLong(1)).toMap
      c("timed_recent_dates") = byDate.map(r => Seq(r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
      c("timed_lookups") = looks.groupBy(_._1).map { case (r, v) => r -> v.flatMap(_._2) }
    }
  }

  /** Table- and catalog-layer costs that the read statements hide. */
  private def tracedReadLayers(t: String): Unit = {
    val ident = Identifier.of(Array(Ns), t)
    val loadMs = (1 to 5).map { _ =>
      tr.op("catalog", "load_table", t)(())(_ => catalog.loadTable(ident))._2
    }
    tr.rounds.set("catalog.load_table_ms", Stats.median(loadMs))
    val metaMs = (1 to 5).map { _ =>
      tr.op("table", "meta", t)(())(_ => graft.table.GraftTable.load(spark, location(t)).meta)._2
    }
    tr.rounds.set("table.meta_ms", Stats.median(metaMs))
    val gt = graft.table.GraftTable.load(spark, location(t))
    var jobs = 0
    val buildMs = branches.map { b =>
      val (_, ms) = tr.op("table", "as_of_build", b)(gt.asOf(b))(identity)
      jobs += tr.lastJobs.size
      ms
    }
    tr.rounds.set("table.as_of_build_ms", buildMs.sum)
    tr.rounds.set("table.as_of_build_jobs", jobs.toDouble)
    val df = spark.sql(s"SELECT account, count(*) FROM $Cat.$Ns.$t GROUP BY account")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    tr.rounds.set("table.read_anti_joins", "LeftAnti".r.findAllMatchIn(plan).size.toDouble)
  }
}

/** Operator path: a fixed list of SparkEntry queries over the generated
  * corpus. A round builds and collects each query in two passes; the first
  * is cold, and the per-layer metrics come from it. */
final class CorpusOperators(spark: SparkSession, tr: Tracer, work: String) extends Workload {
  import LakeBench._
  val dir = s"$work/input/corpus"
  val names: Seq[String] = readJson(s"$work/input/spec.json")("queries").asInstanceOf[Seq[String]]
  val Named = Set("e_triangles", "s_hybrid_rrf", "x_perplexity", "d_tfidf_cosine")
  def family(q: String): String = q.take(2) match {
    case "d_" => "dedup"
    case "s_" => "similarity"
    case "x_" => "text"
    case _ => "events"
  }

  def setup(): Unit =
    writeJson(s"$work/oracle_sql.json", names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)

  def round(i: Int, checks: Option[mutable.Map[String, Any]]): Unit = {
    pass(checks, first = true)
    tr.newPass()
    pass(None, first = false)
  }

  private def pass(checks: Option[mutable.Map[String, Any]], first: Boolean): Unit = {
    names.foreach { n =>
      attempted += 1
      val fn = graft.SparkEntry.queries(n)
      val (rows, _) = tr.op("ops", family(n), n)(fn(spark, dir))(df => (df.schema, df.collect()))
      if (tr.traced && first) {
        val f = s"ops.${family(n)}"
        tr.rounds.add(s"$f.build_ms", tr.lastBuildMs)
        tr.rounds.add(s"$f.build_jobs", tr.lastJobs.count(_.phase == "build").toDouble)
        tr.rounds.add(s"$f.plan_ms", tr.lastPlanMs)
        tr.rounds.add(s"$f.exec_ms", tr.lastExecMs)
        tr.rounds.add(s"$f.tasks", tr.lastJobs.map(_.tasks).sum.toDouble)
        tr.rounds.add(s"$f.shuffle_bytes", tr.lastJobs.map(_.shuffleBytes).sum.toDouble)
        if (Named(n)) tr.rounds.set(s"ops.q.$n.exec_ms", tr.lastExecMs)
      }
      checks.foreach { c =>
        val (schema, data) = rows
        spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
          .coalesce(1).write.parquet(s"$work/out/$n")
        c(s"rows_$n") = data.length
      }
    }
  }
}

}
