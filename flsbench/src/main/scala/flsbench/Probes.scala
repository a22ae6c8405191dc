package flsbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.SupportsPushDownFilters
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.fls.{ByteWriter, Codecs, Encoder, FlsFileReader, FlsMaintenance, FlsManifest, Format}
import graft.fls.connector.FlsDataSource

object Probes {
  def timeMs(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  def probeDir(work: String): String = s"$work/tables/probe"

  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftutil.ListenerBusDrain.drain(spark.sparkContext, 30000)

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  /** Encoding families reported by the codec probe. */
  val encNames: Map[Int, String] = {
    import Format.Enc._
    Map(PLAIN -> "plain", FFOR -> "ffor", DICT -> "dict", RLE -> "rle", ALP -> "alp",
      ALP_RD -> "alp_rd", FSST -> "fsst", FSST12 -> "fsst", FSST_DICT -> "fsst",
      FSST12_DICT -> "fsst")
  }

  /** The fls scan nodes of executed plans: their SQL metrics, split
    * counts and the row groups of the tables they read. */
  def scanCounts(plans: Seq[DataFrame], rowGroupsOf: String => Long): Map[String, Double] = {
    val scans = ArrayBuffer.empty[BatchScanExec]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case b: BatchScanExec if b.metrics.contains("rowGroupsRead") => scans += b
      case other => (other.children ++ other.subqueries).foreach(walk)
    }
    plans.foreach(df => walk(df.queryExecution.executedPlan))
    def metric(n: String) = scans.map(b => b.metrics.get(n).map(_.value).getOrElse(0L)).sum.toDouble
    val read = metric("rowGroupsRead")
    val total = scans.map(b => rowGroupsOf(b.table.name())).sum.toDouble
    Map("scan.row_groups_read" -> read, "scan.row_groups_total" -> total,
      "scan.prune_ratio" -> (if (total > 0) 1 - read / total else 0.0),
      "scan.splits" -> scans.map(_.inputPartitions.size).sum.toDouble,
      "scan.rows_filtered" -> metric("flsRowsFiltered"))
  }
}

/** One encoded column segment as read from a file: `n` values. */
final case class Seg(bytes: Array[Byte], enc: Int, ct: Format.ColumnType, n: Int)

/** The benchmark's own calls into each layer, over the workload's main
  * fls table. Each call runs inside a trace span named after its layer. */
final class Probes(spark: SparkSession, work: String) {
  private val conf = spark.sessionState.newHadoopConf()

  def all(w: Workload): Map[String, Double] =
    codec(w.mainDir) ++ reader(w.mainDir) ++ writer(w.mainDir) ++
      table(w.mainDir, w.manifestDir) ++ scanPlan(Probes.probeDir(work))

  private def flsFiles(dir: String): Seq[File] =
    Dirs.dataFiles(dir).filter(_.getName.endsWith(".fls"))

  /** ns/value of `Codecs.decode` per encoding family (best of three
    * rounds over up to 2M values each), stored bytes per value, the
    * footer-open time of `FlsFileReader`, and `Encoder.encodeColumn`
    * ns/value over the decoded columns. */
  private def codec(dir: String): Map[String, Double] = {
    val segs = Probes.encNames.values.toSeq.distinct.map(_ -> ArrayBuffer.empty[Seg]).toMap
    val openUs = ArrayBuffer.empty[Double]
    val cap = 2L << 20
    for (f <- flsFiles(dir)) {
      val t0 = System.nanoTime()
      val r = Trace("file", "FlsFileReader.open")(new FlsFileReader(new Path(f.getPath), conf))
      openUs += (System.nanoTime() - t0) / 1e3
      try {
        for (rg <- r.table.rowGroups; (seg, c) <- rg.segments.zipWithIndex;
             name <- Probes.encNames.get(seg.encoding) if segs(name).map(_.n.toLong).sum < cap)
          segs(name) += Seg(Trace("file", "readSegmentBytes")(r.readSegmentBytes(seg)),
            seg.encoding, r.table.columns(c).colType, rg.nTuples)
      } finally r.close()
    }
    val decode = segs.collect { case (name, ss) if ss.nonEmpty =>
      val values = ss.map(_.n.toLong).sum
      val best = (1 to 3).map { _ =>
        Trace("codec", s"decode.$name") {
          val t0 = System.nanoTime()
          ss.foreach(s => Codecs.decode(s.bytes, s.enc, s.ct))
          System.nanoTime() - t0
        }
      }.min
      Seq(s"codec.decode_ns_per_value.$name" -> best.toDouble / values,
        s"codec.bytes_per_value.$name" -> ss.map(_.bytes.length.toLong).sum.toDouble / values)
    }.flatten.toMap
    val cols = segs.values.flatten.map(s => Codecs.decode(s.bytes, s.enc, s.ct)).toSeq
    val encodeNs = (1 to 3).map { _ =>
      Trace("codec", "encodeColumn") {
        val t0 = System.nanoTime()
        cols.foreach(c => Encoder.encodeColumn(c, new ByteWriter()))
        System.nanoTime() - t0
      }
    }.min
    decode ++ Map(
      "codec.encode_ns_per_value" -> encodeNs.toDouble / math.max(cols.map(_.n.toLong).sum, 1L),
      "file.footer_open_us" -> Stats.median(openUs.toSeq))
  }

  private def scanOf(dir: String, filters: Array[Filter]) = {
    val opts = new CaseInsensitiveStringMap(Map("path" -> dir).asJava)
    val ds = new FlsDataSource
    val table = ds.getTable(ds.inferSchema(opts), Array.empty[Transform], opts.asCaseSensitiveMap())
    val sb = table.asInstanceOf[SupportsRead].newScanBuilder(opts)
    if (filters.nonEmpty) sb.asInstanceOf[SupportsPushDownFilters].pushFilters(filters)
    sb.build().toBatch
  }

  /** Rows and bytes per second through `FlsPartitionReader` over every
    * planned partition of the table, no Catalyst (best of two). */
  private def reader(dir: String): Map[String, Double] = {
    val bytes = Dirs.bytes(dir).toDouble
    val runs = (1 to 2).map { _ =>
      Trace("reader", "createColumnarReader") {
        val batch = scanOf(dir, Array.empty)
        val factory = batch.createReaderFactory()
        var rows = 0L
        val t0 = System.nanoTime()
        for (p <- batch.planInputPartitions()) {
          val r = factory.createColumnarReader(p)
          try while (r.next()) rows += r.get().numRows() finally r.close()
        }
        (rows, (System.nanoTime() - t0) / 1e9)
      }
    }
    val (rows, s) = runs.minBy(_._2)
    Map("reader.rows_per_s" -> rows / s, "reader.bytes_per_s" -> bytes / s)
  }

  /** pushFilters → build → planInputPartitions of a point lookup on the
    * clustered manifest table the table probe leaves behind (manifest
    * read, footers, zone-map pruning, split packing); warm median of ten. */
  private def scanPlan(dir: String): Map[String, Double] = {
    val keys = spark.read.format("fls").load(dir).selectExpr("min(l_orderkey)", "max(l_orderkey)").head()
    val filters: Array[Filter] = Array(EqualTo("l_orderkey", (keys.getLong(0) + keys.getLong(1)) / 2))
    val ms = (1 to 10).map(_ => Probes.timeMs(Trace("scan", "plan")(scanOf(dir, filters).planInputPartitions())))
    Map("scan.plan_ms" -> Stats.median(ms))
  }

  /** One fls write of the main table's rows from a cached frame. */
  private def writer(dir: String): Map[String, Double] = {
    val out = s"$work/tables/writer_probe"
    Dirs.rm(out)
    val df = spark.read.format("fls").load(dir).cache()
    val rows = df.count()
    val ms = Trace("writer", "write")(Probes.timeMs(df.write.format("fls").mode("overwrite").save(out)))
    df.unpersist()
    Map("writer.rows_per_s" -> rows / (ms / 1e3), "writer.bytes_written" -> Dirs.bytes(out).toDouble,
      "writer.files" -> flsFiles(out).size.toDouble)
  }

  /** A small clustered manifest table built from the main table's rows,
    * then three appends, three DELETEs and three MERGEs, each one CAS
    * commit, and a compaction. Rewrite amplification: bytes of the files
    * each DELETE/MERGE wrote over the bytes of the rows it changed. */
  private def table(dir: String, manifestDir: String): Map[String, Double] = {
    val probe = Probes.probeDir(work)
    spark.sql("DROP TABLE IF EXISTS bench_probe")
    Dirs.rm(probe)
    val ordered = spark.read.format("fls").load(dir).orderBy("l_orderkey", "l_linenumber")
    Trace("writer", "probe_table") {
      ordered.limit(16384).write.format("fls").option("commit_mode", "manifest")
        .option("cluster_by", "l_orderkey").option("row_group_size", "1024")
        .option("row_groups_per_file", "2").mode("overwrite").save(probe)
    }
    ordered.offset(16384).limit(3 * 1024).createOrReplaceTempView("bench_probe_extra")
    spark.sql(s"CREATE TABLE bench_probe USING fls OPTIONS (commit_mode 'manifest') " +
      s"LOCATION '$probe'")
    val keys = spark.table("bench_probe").select("l_orderkey").distinct()
      .orderBy("l_orderkey").collect().map(_.getLong(0))
    val fs = new Path(probe).getFileSystem(conf)
    def entries = FlsManifest.read(fs, new Path(probe)).getOrElse(Seq.empty)
    def rowCount = spark.table("bench_probe").count()
    val times = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    var rewritten = 0L
    var bytesRewritten = 0L
    var rowsChanged = 0L
    def commit(kind: String, sql: String, changed: => Long): Unit = {
      val before = entries
      val n0 = rowCount
      val ms = Trace("table", s"commit.$kind")(Probes.timeMs(spark.sql(sql)))
      times.getOrElseUpdate(kind, ArrayBuffer.empty) += ms
      if (kind != "append") {
        val after = entries
        val old = before.map(_.rel).toSet
        rewritten += before.count(e => !after.exists(_.rel == e.rel))
        bytesRewritten += after.filterNot(e => old(e.rel)).map(_.length).sum
        rowsChanged += (if (kind == "delete") n0 - rowCount else changed)
      }
    }
    for (i <- 0 until 3) {
      commit("append", "INSERT INTO bench_probe SELECT * FROM bench_probe_extra " +
        s"ORDER BY l_orderkey, l_linenumber LIMIT 1024 OFFSET ${i * 1024}", 0)
      val lo = keys(keys.length * (2 * i + 1) / 8)
      commit("delete", s"DELETE FROM bench_probe WHERE l_orderkey >= $lo AND l_orderkey < ${lo + 8}", 0)
      val mlo = keys(keys.length * (2 * i + 2) / 8)
      val src = s"SELECT * FROM bench_probe WHERE l_orderkey >= $mlo AND l_orderkey < ${mlo + 32}"
      val nSrc = spark.sql(src).count()
      commit("merge", s"MERGE INTO bench_probe t USING ($src) s " +
        "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
        "WHEN MATCHED THEN UPDATE SET t.l_quantity = s.l_quantity + 1", nSrc)
    }
    val rowBytes = Dirs.bytes(probe).toDouble / math.max(rowCount, 1L)
    val compactMs = Trace("table", "FlsMaintenance.compact")(
      Probes.timeMs(FlsMaintenance.compact(spark, probe)))
    val mfs = new Path(manifestDir).getFileSystem(conf)
    val manifestMs = (1 to 10).map(_ => Probes.timeMs(
      Trace("table", "FlsManifest.read")(FlsManifest.read(mfs, new Path(manifestDir)))))
    spark.sql("DROP TABLE IF EXISTS bench_probe")
    times.map { case (k, ms) => s"table.commit_ms.$k" -> Stats.median(ms.toSeq) }.toMap ++ Map(
      "table.files_rewritten" -> rewritten.toDouble,
      "table.rewrite_amplification" -> bytesRewritten / math.max(rowsChanged * rowBytes, 1.0),
      "table.manifest_read_ms" -> Stats.median(manifestMs), "table.compact_ms" -> compactMs)
  }
}
