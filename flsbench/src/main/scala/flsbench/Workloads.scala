package flsbench

import java.io.File

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** What the runner needs from a workload. Every workload keeps one
  * lineitem-shaped fls table (`mainDir`) that the layer probes read. */
trait Workload {
  def setup(): Unit
  def registerViews(): Unit
  def passOps(plan: Seq[Op], pass: Int): Seq[Op]
  /** Runs the timed part of an op; a returned frame is collected too. */
  def execute(op: Op): DataFrame
  def oracleSql(op: Op): String = op.duckCheck
  def bytesVsParquet: Double
  def mainDir: String
  def manifestDir: String
  /** Row groups of the fls table a scan node reads, by table name. */
  def rowGroupsOf(tableName: String): Long = Dirs.rowGroups(tableName.stripPrefix("fls:"))
}

object Workload {
  /** A pass in seeded random order. Each op keeps its parquet twins next
    * to it, and which of the two runs first alternates from pass to pass. */
  def shuffled(plan: Seq[Op], seed: Long, pass: Int): Seq[Op] = {
    val groups = plan.filter(_.twin.isEmpty).map(op => op +: plan.filter(_.twin == op.name))
    val order = if (pass == 0) groups else new Random(seed * 1000003L + pass).shuffle(groups)
    order.flatMap(g => if (pass % 2 == 1) g.reverse else g)
  }
}

object Dirs {
  /** Four files by load-batch id; rows keep their generated order inside
    * each file, so the id runs (and every other column stays shuffled). */
  def byLoad(df: DataFrame): DataFrame = df.repartitionByRange(4, col("l_loadid"))

  def rm(dir: String): Unit = {
    def go(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(dir))
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  /** Data files of a table directory: fls files (plus footer sidecars)
    * or parquet files; no manifests, checksums or markers. */
  def dataFiles(dir: String): Seq[File] =
    walk(new File(dir)).filter { f =>
      val n = f.getName
      !n.startsWith(".") && (n.endsWith(".fls") || n.endsWith(".fls.footer") || n.endsWith(".parquet"))
    }.sortBy(_.getPath)

  def bytes(dir: String): Long = dataFiles(dir).map(_.length).sum

  private val rgCache = scala.collection.mutable.Map.empty[String, Long]

  def rowGroups(dir: String): Long = rgCache.synchronized {
    rgCache.getOrElseUpdate(dir, {
      val conf = new org.apache.hadoop.conf.Configuration()
      dataFiles(dir).filter(_.getName.endsWith(".fls")).map { f =>
        val r = new graft.fls.FlsFileReader(new Path(f.getPath), conf)
        try r.table.rowGroups.length.toLong finally r.close()
      }.sum
    })
  }
}

/** `scan_full` and `scan_selective`: SQL from the plan over a `lineitem`
  * view. Full scans read a shuffled plain table; selective lookups read
  * a `cluster_by l_orderkey` manifest table of ~1024-row row groups. */
final class ScanWorkload(spark: SparkSession, work: String, seed: Long, selective: Boolean)
    extends Workload {
  private val raw = s"$work/raw/lineitem.parquet"
  val mainDir = s"$work/tables/lineitem_fls"
  def manifestDir: String = if (selective) mainDir else Probes.probeDir(work)

  def setup(): Unit = {
    Dirs.rm(mainDir)
    val src = spark.read.parquet(raw)
    if (selective)
      src.write.format("fls")
        .option("commit_mode", "manifest")
        .option("cluster_by", "l_orderkey")
        .option("row_group_size", "1024")
        .option("row_groups_per_file", "4")
        .mode("overwrite").save(mainDir)
    else Dirs.byLoad(src).write.format("fls").mode("overwrite").save(mainDir)
  }

  /** `lineitem` is the fls table, `lineitem_pq` its parquet twin: the
    * generated input, four files like the fls table has. */
  def registerViews(): Unit = {
    spark.read.format("fls").load(mainDir).createOrReplaceTempView("lineitem")
    spark.read.parquet(raw).createOrReplaceTempView("lineitem_pq")
  }

  def passOps(plan: Seq[Op], pass: Int): Seq[Op] = Workload.shuffled(plan, seed, pass)

  def execute(op: Op): DataFrame = spark.sql(op.spark)

  def bytesVsParquet: Double = Dirs.bytes(mainDir).toDouble / Dirs.bytes(raw)
}

/** `ingest`: bulk writes of a lineitem slice, then cycles of small
  * appends with a DELETE and a MERGE into a manifest table. */
final class IngestWorkload(spark: SparkSession, work: String) extends Workload {
  private val tableDir = s"$work/tables/ingest"
  val mainDir = s"$work/tables/bulk_fls"
  def manifestDir: String = tableDir

  private val columns = "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
    "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ, " +
    "l_shipmode STRING, l_comment STRING"
  private val names = columns.split(", ").map(_.split(" ")(0)).mkString(", ")

  private val pqDir = s"$work/tables/ingest_pq"
  private val bulkPq = s"$work/tables/bulk_pq"

  /** The manifest table and its parquet twin, both holding the base rows. */
  def setup(): Unit = {
    for ((t, dir, using) <- Seq(("ingest", tableDir, "fls OPTIONS (commit_mode 'manifest')"),
        ("ingest_pq", pqDir, "parquet"))) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Dirs.rm(dir)
      spark.sql(s"CREATE TABLE $t ($columns) USING $using LOCATION '$dir'")
      spark.sql(s"INSERT INTO $t SELECT $names FROM parquet.`$work/raw/ingest_base.parquet`")
    }
  }

  def registerViews(): Unit = {
    for (v <- Seq("batches", "upserts", "bulk_src"))
      spark.read.parquet(s"$work/raw/$v.parquet").createOrReplaceTempView(v)
  }

  def passOps(plan: Seq[Op], pass: Int): Seq[Op] = plan.filter(_.pass == pass)

  def execute(op: Op): DataFrame = {
    if (op.kind == "bulk") {
      val rows = spark.table("bulk_src").repartition(4).write.mode("overwrite")
      if (op.twin.isEmpty) {
        rows.format("fls").save(mainDir)
        spark.read.format("fls").load(mainDir).createOrReplaceTempView("bulk")
      } else {
        rows.parquet(bulkPq)
        spark.read.parquet(bulkPq).createOrReplaceTempView("bulk_pq")
      }
    } else spark.sql(op.spark)
    null
  }

  def bytesVsParquet: Double = Dirs.bytes(mainDir).toDouble / Dirs.bytes(s"$work/raw/bulk_src.parquet")
}

/** `query_mix`: named queries of the engine's suite over the generated
  * star schema. The two fls queries run over this run's own fls copy
  * of lineitem, so nothing is read or cached outside the work tree; their
  * parquet twins (q01, q02) are the same queries over the parquet input. */
final class MixWorkload(spark: SparkSession, work: String, seed: Long) extends Workload {
  private val raw = s"$work/raw"
  val mainDir = s"$work/tables/lineitem_fls"
  def manifestDir: String = Probes.probeDir(work)
  private var fls: DataFrame = _

  def setup(): Unit = {
    Dirs.rm(mainDir)
    Dirs.byLoad(spark.read.parquet(s"$raw/lineitem.parquet"))
      .write.format("fls").mode("overwrite").save(mainDir)
  }

  def registerViews(): Unit = fls = spark.read.format("fls").load(mainDir)

  def passOps(plan: Seq[Op], pass: Int): Seq[Op] = Workload.shuffled(plan, seed, pass)

  def execute(op: Op): DataFrame = op.name match {
    case "q15_fls_tpch_q1" => graft.queries.Relational.q01From(fls)
    case "q16_fls_filter_prune" => graft.queries.Relational.q02From(fls)
    case name => graft.SparkEntry.queries(name)(spark, raw)
  }

  override def oracleSql(op: Op): String = graft.SparkEntry.oracleSql(op.name)

  def bytesVsParquet: Double = Dirs.bytes(mainDir).toDouble / Dirs.bytes(s"$raw/lineitem.parquet")
}
