package graft.fls

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.fls.connector.{FlsDataSource, FlsScanBuilder}

/** Array-aware zone maps: LIST segments carry min/max ELEMENT-COUNT
  * stats, surfaced through the virtual `<col>_size` column
  * (`array_size=<col>` reader option). Spark cannot push `size(col)`
  * predicates to a source, but a filter on `v_size` is an ordinary
  * column filter — it pushes, and the element-count footer stats prune
  * row groups without touching data. */
class FlsArraySizeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("fls-array-size-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** 8192 rows, array length = id / 1024 (sorted) → 8 row groups of
    * 1024 with single-valued count bounds 0..7. */
  private lazy val varDir: String = {
    val dir = Files.createTempDirectory("fls-asize-var").toString
    spark.range(0, 8192).toDF("id")
      .selectExpr("id",
        "array_repeat(CAST(id AS FLOAT), CAST(id DIV 1024 AS INT)) AS v")
      .orderBy("id").coalesce(1)
      .write.format("fls").option("row_group_size", 1024).mode("overwrite").save(dir)
    dir
  }

  private def planned(dir: String, filters: org.apache.spark.sql.sources.Filter*): Int = {
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", dir, "array_size", "v"))
    val schema = new FlsDataSource().inferSchema(opts)
    val b = new FlsScanBuilder(schema, opts)
    b.pushFilters(filters.toArray)
    // pin one row group per split so the count measures PRUNING
    spark.conf.set("spark.sql.files.openCostInBytes", "134217728")
    try b.build().toBatch.planInputPartitions().length
    finally spark.conf.unset("spark.sql.files.openCostInBytes")
  }

  test("virtual <col>_size values equal size(col)") {
    val got = spark.read.format("fls").option("array_size", "v").load(varDir)
      .select(col("id"), col("v_size"), size(col("v")).cast("long").as("real"))
      .collect()
    assert(got.length == 8192)
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"row ${r.getLong(0)}: v_size != size(v)")
      assert(r.getLong(1) == r.getLong(0) / 1024)
    }
  }

  test("element-count stats prune row groups on v_size filters (footer-only)") {
    import org.apache.spark.sql.sources._
    assert(planned(varDir) == 8)
    assert(planned(varDir, EqualTo("v_size", 3L)) == 1)
    assert(planned(varDir, GreaterThanOrEqual("v_size", 6L)) == 2)
    assert(planned(varDir, LessThan("v_size", 2L)) == 2)
    assert(planned(varDir, In("v_size", Array(0L, 7L))) == 2)
    assert(planned(varDir, EqualTo("v_size", 99L)) == 0,
      "an impossible size must prune everything")
    assert(planned(varDir, IsNull("v_size")) == 0, "sizes are never null")
  }

  test("degenerate screening on a fixed-width corpus prunes to zero") {
    val dir = Files.createTempDirectory("fls-asize-fixed").toString
    spark.range(0, 4096).toDF("id")
      .selectExpr("id", "transform(sequence(1, 64), j -> CAST(id + j AS FLOAT)) AS v")
      .coalesce(1)
      .write.format("fls").option("row_group_size", 1024).mode("overwrite").save(dir)
    import org.apache.spark.sql.sources._
    // every row group's count bounds are exactly [64, 64]
    assert(planned(dir, EqualTo("v_size", 64L)) == 4)
    assert(planned(dir, LessThan("v_size", 64L)) == 0)
    assert(planned(dir, GreaterThan("v_size", 64L)) == 0)
  }

  test("end-to-end filter on v_size returns exactly the matching rows") {
    val got = spark.read.format("fls").option("array_size", "v").load(varDir)
      .filter(col("v_size") === 5L)
      .agg(count(lit(1)), min("id"), max("id")).collect()(0)
    assert(got.getLong(0) == 1024)
    assert(got.getLong(1) == 5 * 1024 && got.getLong(2) == 6 * 1024 - 1)
  }

  test("a streaming read honours array_size like the batch read") {
    def rows(df: DataFrame): Seq[(Long, Long)] =
      df.select("id", "v_size").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val batch = spark.read.format("fls").option("array_size", "v").load(varDir)
    def stream(q: DataFrame => DataFrame): Seq[(Long, Long)] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val s = q(spark.readStream.format("fls").schema(batch.schema)
        .option("array_size", "v").load(varDir))
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) => rows(b).foreach(got.add) }
        .option("checkpointLocation",
          Files.createTempDirectory("fls-asize-ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      s.awaitTermination()
      import scala.jdk.CollectionConverters._
      got.iterator().asScala.toSeq.sorted
    }
    assert(stream(identity) == rows(batch))
    assert(stream(_.where("v_size = 3")).length == 1024)
  }

  test("footer round-trips element-count stats") {
    val conf = spark.sessionState.newHadoopConf()
    val file = FlsFile.listDataFiles(new org.apache.hadoop.fs.Path(varDir), conf).head
    val r = new FlsFileReader(file, conf)
    try {
      val vIdx = r.table.columns.indexWhere(_.name == "v")
      r.table.rowGroups.zipWithIndex.foreach { case (rg, i) =>
        val s = rg.segments(vIdx)
        assert(s.elemCountStats, s"row group $i lost its element-count stats")
        assert(s.minLong == i.toLong && s.maxLong == i.toLong,
          s"row group $i bounds (${s.minLong}, ${s.maxLong}), expected ($i, $i)")
        assert(!s.hasStats, "LIST segments must not claim numeric value stats")
      }
    } finally r.close()
  }
}
