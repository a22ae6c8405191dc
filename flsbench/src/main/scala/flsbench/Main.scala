package flsbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of a workload's plan, as written by the runner
  * (`plan.tsv`, one tab-separated line per operation).
  *
  * @param twin        set on a parquet control: the fls op it mirrors
  * @param spark       the timed statement; for `query` ops its collected
  *                    result is what gets checked
  * @param sparkCheck  run untimed after the op; when set, ITS result is
  *                    the one checked (DML ops check the table state)
  * @param duckPre     DuckDB statements the runner replays before the check
  * @param duckCheck   the DuckDB query whose result must match */
final case class Op(kind: String, name: String, pass: Int, rows: Long, twin: String,
    spark: String, sparkCheck: String, duckPre: String, duckCheck: String)

final case class Done(op: Op, pass: Int, phase: String, ms: Double, ok: Boolean, error: String)

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, cpus: Int)

object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv("cpus").toInt)
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("flsbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val report =
      try new Runner(spark, a).run()
      finally spark.stop()
    Files.write(Paths.get(a.work, "report.json"), Json(report).getBytes(StandardCharsets.UTF_8))
  }

  def readPlan(path: String): Seq[Op] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val f = line.split("\t", -1)
        Op(f(0), f(1), f(2).toInt, f(3).toLong, f(4), f(5), f(6), f(7), f(8))
      }
}

/** Drives one run: set-up (three times, for a median), one checked
  * pass, a warm-up, then the closed loop for about `seconds`. A traced
  * run adds the layer probes and splits the loop into an untraced and a
  * traced half. */
final class Runner(spark: SparkSession, a: Args) {
  private val work = a.work
  private val w: Workload = a.workload match {
    case "scan_full" => new ScanWorkload(spark, work, a.seed, selective = false)
    case "scan_selective" => new ScanWorkload(spark, work, a.seed, selective = true)
    case "ingest" => new IngestWorkload(spark, work)
    case "query_mix" => new MixWorkload(spark, work, a.seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  private val plan = Main.readPlan(s"$work/plan.tsv")
  private val done = ArrayBuffer.empty[Done]
  private val checks = ArrayBuffer.empty[Map[String, Any]]
  private val firstDigest = scala.collection.mutable.Map.empty[String, String]
  private val checkedPlans = ArrayBuffer.empty[DataFrame]
  private var nextPass = 1
  /** Seconds of untimed passes between the checked pass and the
    * measurement, so the timed passes run JIT-compiled code. */
  private val Warmup = 8.0

  private val t0 = System.nanoTime()
  private def phase(name: String): Unit =
    println(f"[flsbench] ${(System.nanoTime() - t0) / 1e9}%.2fs $name")

  def run(): Map[String, Any] = {
    phase(s"session up, JVM uptime ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}s")
    val setupS = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      Trace("writer", s"setup$i")(w.setup())
      (System.nanoTime() - t0) / 1e9
    }
    w.registerViews()
    phase("set-up x3 done")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    Trace.enabled = a.trace
    val footers0 = graft.fls.FlsFooters.footerReadCount
    w.passOps(plan, 0).foreach(op => execute(op, 0, "check"))
    Probes.drain(spark)
    val checkCounts = counters.snapshot ++ Map(
      "scan.footer_reads" -> (graft.fls.FlsFooters.footerReadCount - footers0).toDouble) ++
      Probes.scanCounts(checkedPlans.toSeq, w.rowGroupsOf)
    Trace.enabled = false
    phase("checked pass done")
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else {
        Trace.enabled = true
        Trace.request = "probes"
        val m = checkCounts ++ new Probes(spark, work).all(w)
        Trace.enabled = false
        m
      }
    phase("probes done")
    warmUp()
    phase("warm-up done")
    val gc0 = gcMs
    // as many whole passes as the last warm-up pass says fit in `seconds`,
    // so the number of measured passes does not hinge on noise
    val passes = math.min(1000, math.max(1, math.round(a.seconds / lastPassS).toInt))
    if (a.trace) {
      loop(math.max(1, passes / 2), "untraced")
      Trace.enabled = true
      loop(math.max(1, passes / 2), "traced")
      Trace.enabled = false
    } else loop(passes, "timed")
    val gc = gcMs - gc0
    phase("loop done")
    if (a.trace) Trace.write(Paths.get(work, "trace_spans.jsonl"))
    val traced = if (!a.trace) Map.empty[String, Double]
      else layers ++ Map("jvm.gc_ms" -> gc) ++
        Trace.selfMs.map { case (l, ms) => s"trace.self_ms.$l" -> ms }
    Map(
      "workload" -> a.workload, "seed" -> a.seed,
      "setup_write_s" -> setupS,
      "bytes_vs_parquet" -> w.bytesVsParquet,
      "peak_rss_mb" -> Probes.peakRssMb,
      "gc_ms" -> gc,
      "ops" -> done.map(d => Map("name" -> d.op.name, "kind" -> d.op.kind, "twin" -> d.op.twin,
        "pass" -> d.pass, "phase" -> d.phase, "ms" -> d.ms, "rows" -> d.op.rows, "ok" -> d.ok,
        "error" -> d.error)),
      "checks" -> checks,
      "layers" -> traced,
      "host" -> Map("cpus" -> a.cpus, "master" -> spark.sparkContext.master,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576))
  }

  private var lastPassS = 1.0

  /** Untimed passes until `Warmup` seconds have gone by (at least one). */
  private def warmUp(): Unit = {
    val t0 = System.nanoTime()
    do lastPassS = pass("warmup") while ((System.nanoTime() - t0) / 1e9 < Warmup)
  }

  /** Closed loop: `n` whole passes, one client. */
  private def loop(n: Int, phase: String): Unit = for (_ <- 1 to n) pass(phase)

  /** Runs the next pass; returns its wall time in seconds. */
  private def pass(phase: String): Double = {
    val t0 = System.nanoTime()
    w.passOps(plan, nextPass).foreach(op => execute(op, nextPass, phase))
    nextPass += 1
    (System.nanoTime() - t0) / 1e9
  }

  private def execute(op: Op, pass: Int, phase: String): Unit = {
    Trace.request = s"$phase:$pass:${op.name}"
    var df: DataFrame = null
    var rows: Array[org.apache.spark.sql.Row] = null
    val t0 = System.nanoTime()
    val error =
      try {
        Trace("query", op.name) {
          df = w.execute(op)
          if (df != null) rows = df.collect()
        }
        null
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
    val ms = (System.nanoTime() - t0) / 1e6
    val checkError =
      if (error != null) error
      else try { if (check(op, df, rows, phase)) null else "result differs from its first run" }
      catch { case e: Throwable => s"check: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
    done += Done(op, pass, phase, ms, checkError == null, checkError)
  }

  /** Checks an executed op. The first result of each distinct op (and,
    * for DML, the table state after each cycle) goes to the runner for
    * the DuckDB comparison; repeats must match that first result exactly. */
  private def check(op: Op, df: DataFrame, rows: Array[org.apache.spark.sql.Row],
      phase: String): Boolean = {
    if (df == null && op.sparkCheck.isEmpty) {
      // a DML op checked with its cycle: the runner only replays it
      checks += Map("name" -> op.name, "pre" -> op.duckPre, "sql" -> "")
      return true
    }
    val (checkDf, checkRows) =
      if (op.sparkCheck.nonEmpty) { val c = spark.sql(op.sparkCheck); (c, c.collect()) }
      else (df, rows)
    if (phase == "check") checkedPlans += checkDf
    val res = Canon(checkDf.columns, checkRows)
    val stateful = op.sparkCheck.nonEmpty
    firstDigest.get(op.name) match {
      case Some(d) if !stateful => d == res.digest
      case _ =>
        firstDigest(op.name) = res.digest
        checks += Map("name" -> op.name, "pre" -> op.duckPre, "sql" -> w.oracleSql(op),
          "cols" -> res.cols, "rows" -> res.rows)
        true
    }
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum
}
