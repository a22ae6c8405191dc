package graft.fls

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.write.LogicalWriteInfo
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.fls.connector._

/** What an fls job ships to each task: reader and writer factories carry
  * a broadcast handle to the job's Hadoop configuration, never a copy of
  * it. A session conf Java-serializes to ~110 KB and decodes slowly, so a
  * factory that embeds one makes every task pay for it; each factory here
  * must serialize to a few KB. */
class FlsTaskShippingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("fls-shipping-spec").toString
  private val Limit = 16 * 1024

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("fls-shipping-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** A two-version manifest table of 4096 longs in 1024-row groups. */
  private lazy val dir: String = {
    val d = s"$tmp/t"
    for (part <- 0 until 2)
      spark.range(part * 2048L, (part + 1) * 2048L, 1, 1).selectExpr("id AS v")
        .write.format("fls").mode("append").option("commit_mode", "manifest")
        .option("row_group_size", "1024").save(d)
    d
  }

  private def scan(extra: (String, String)*): Scan = {
    val opts = new CaseInsensitiveStringMap((Map("path" -> dir) ++ extra).asJava)
    val ds = new FlsDataSource
    val table = ds.getTable(ds.inferSchema(opts), Array.empty[Transform], opts.asCaseSensitiveMap())
    table.asInstanceOf[SupportsRead].newScanBuilder(opts).build()
  }

  private def serialize(o: AnyRef): java.nio.ByteBuffer =
    new JavaSerializer(spark.sparkContext.getConf).newInstance().serialize(o)

  private def assertSmall(what: String, o: AnyRef): Unit = {
    val n = serialize(o).remaining()
    assert(n < Limit, s"$what serializes to $n bytes (limit $Limit): does it embed a Hadoop conf?")
  }

  test("batch reader factory ships a conf handle, and its round-trip copy still reads") {
    val s = scan()
    val factory = s.toBatch.createReaderFactory()
    assertSmall("FlsScan reader factory", factory)
    val copy = new JavaSerializer(spark.sparkContext.getConf).newInstance()
      .deserialize[PartitionReaderFactory](serialize(factory))
    var sum = 0L
    for (p <- s.toBatch.planInputPartitions()) {
      val r = copy.createColumnarReader(p)
      try while (r.next()) {
        val b = r.get()
        (0 until b.numRows()).foreach(i => sum += b.column(0).getLong(i))
      } finally r.close()
    }
    assert(sum == 4095L * 4096 / 2)
  }

  test("micro-batch reader factory ships a conf handle") {
    val stream = scan().toMicroBatchStream(s"$tmp/ckpt-read")
    assertSmall("FlsMicroBatchStream reader factory", stream.createReaderFactory())
  }

  test("change-feed reader factories (batch and stream) ship a conf handle") {
    val cdf = scan("cdf_from_version" -> "earliest")
    assertSmall("FlsCdfScan reader factory", cdf.toBatch.createReaderFactory())
    assertSmall("FlsCdfMicroBatchStream reader factory",
      cdf.toMicroBatchStream(s"$tmp/ckpt-cdf").createReaderFactory())
  }

  test("batch writer factory ships a conf handle") {
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(java.util.Map.of("path", s"$tmp/w"))
      override def queryId(): String = "shipping-spec"
      override def schema(): StructType =
        StructType(Seq(StructField("v", LongType, nullable = false)))
    }
    val factory = new FlsBatchWrite(info, doTruncate = false).createBatchWriterFactory(null)
    assertSmall("FlsBatchWrite writer factory", factory)
  }
}
