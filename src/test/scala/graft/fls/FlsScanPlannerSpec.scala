package graft.fls

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.fls.connector.{FlsDataSource, FlsInputPartition, FlsOffset, FlsScanBuilder}

/** Batch and micro-batch reads plan through one planner
  * (`FlsScanPlanner`): for the same files and the same pushed filters
  * they must produce the same row-group chunks — same files, same
  * `file_row_number` starts, same delete vectors, same equality
  * residuals. */
class FlsScanPlannerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("fls-planner-spec").toString
  private val cat = "fls_planner_spec"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("fls-planner-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config(s"spark.sql.catalog.$cat", "graft.fls.connector.FlsCatalog")
      .config(s"spark.sql.catalog.$cat.path", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Hive-partitioned on `p` (a/b/c), one file per partition, id-sorted
    * so each 1024-row group covers a disjoint id range; a merge-on-read
    * DELETE puts a delete vector on partition a's file only. */
  private lazy val dir: String = {
    val tbl = s"$cat.db.t"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('commit_mode'='manifest','delete_mode'='merge-on-read'," +
      "'row_group_size'='1024')")
    spark.range(0, 12288)
      .selectExpr("id", "CASE WHEN id < 4096 THEN 'a' WHEN id < 8192 THEN 'b' ELSE 'c' END AS p")
      .repartition(1).sortWithinPartitions("id").writeTo(tbl).append()
    spark.sql(s"DELETE FROM $tbl WHERE id IN (3, 2500)")
    s"$tmp/warehouse/db/t"
  }

  /** (rowStarts, dv, eq) per planned file. */
  private type Chunks = Map[String, (Seq[Long], Option[String], Seq[String])]

  private def chunks(parts: Array[org.apache.spark.sql.connector.read.InputPartition]): Chunks =
    parts.toSeq.flatMap(_.asInstanceOf[FlsInputPartition].chunks.toSeq)
      .groupBy(_.file).map { case (f, cs) =>
        f -> (cs.flatMap(_.rowStarts.toSeq).sorted, cs.head.dv, cs.head.eq)
      }

  /** The batch and the micro-batch plan of ONE scan (same files, same
    * pushed and consumed filters). */
  private def plans(filters: Filter*): (Chunks, Chunks) = {
    val opts = new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
    val b = new FlsScanBuilder(new FlsDataSource().inferSchema(opts), opts)
    b.pushFilters(filters.toArray)
    val scan = b.build()
    val stream = scan.toMicroBatchStream(
      Files.createTempDirectory("fls-planner-ckpt").toString)
    val end = stream.latestOffset()
    (chunks(scan.toBatch.planInputPartitions()),
      chunks(stream.planInputPartitions(FlsOffset(-1L), end)))
  }

  test("no filter: every row group of every file, the DV on one file") {
    val (batch, stream) = plans()
    assert(batch == stream)
    assert(batch.size == 3)
    assert(batch.values.forall(_._1 == Seq(0L, 1024L, 2048L, 3072L)), batch.toString)
    assert(batch.values.count(_._2.isDefined) == 1, "one file carries the DV")
  }

  test("zone-map-prunable range: the same surviving row groups") {
    val (batch, stream) = plans(GreaterThanOrEqual("id", 2400L), LessThan("id", 4400L))
    assert(batch == stream)
    // a's groups from 2048 on, b's first group; c prunes entirely
    assert(batch.values.map(_._1).toSet == Set(Seq(2048L, 3072L), Seq(0L)), batch.toString)
    assert(batch.values.exists(_._2.isDefined), "the DV rides with a's groups")
  }

  test("partition-column equality: the same single partition") {
    val (batch, stream) = plans(EqualTo("p", "b"))
    assert(batch == stream)
    assert(batch.size == 1 && batch.keys.head.contains("p=b"), batch.toString)
    assert(batch.values.head._1 == Seq(0L, 1024L, 2048L, 3072L))
  }
}
