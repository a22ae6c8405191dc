package graft.fls

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side planning: the footer cache (parallel reads, mtime
  * invalidation) and the union_by_name guards that keep metadata
  * shortcuts (MIN/MAX pushdown, TopN pruning, CBO stats) from comparing
  * physical stats across files that store a column at different scales. */
class FlsPlanningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("fls-plan").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("fls-planning-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("footer cache: second scan of an unchanged table re-reads no footers") {
    val dir = s"$tmp/cache"
    spark.range(0, 64 * 1024).selectExpr("id AS v").repartition(64)
      .write.format("fls").mode("overwrite").save(dir)
    FlsFooters.clear()
    assert(spark.read.format("fls").load(dir).count() == 64 * 1024)
    val after1 = FlsFooters.cachedCount
    assert(after1 >= 64, s"expected >=64 cached footers, got $after1")
    assert(spark.read.format("fls").load(dir).agg(sum("v")).collect()(0).getLong(0) ==
      (64L * 1024 - 1) * (64L * 1024) / 2)
    assert(FlsFooters.cachedCount == after1, "unchanged files must stay cached, not re-enter")
  }

  test("footer cache: LRU eviction keeps recently-used entries on overflow") {
    val conf = spark.sessionState.newHadoopConf()
    val dirA = s"$tmp/lru_a"
    val dirB = s"$tmp/lru_b"
    spark.range(0, 600).selectExpr("id AS v").repartition(6)
      .write.format("fls").mode("overwrite").save(dirA)
    spark.range(0, 800).selectExpr("id AS v").repartition(8)
      .write.format("fls").mode("overwrite").save(dirB)
    val saved = FlsFooters.MaxEntries
    try {
      FlsFooters.clear()
      FlsFooters.MaxEntries = 10
      FlsFooters.list(Seq(dirA), conf) // 6 cached
      FlsFooters.list(Seq(dirA), conf) // refresh access order
      val bEntries = FlsFooters.list(Seq(dirB), conf) // 14 > 10: evict 4 coldest
      assert(FlsFooters.cachedCount == 10,
        s"expected LRU trim to 10 entries, got ${FlsFooters.cachedCount}")
      // the just-read table must fully survive — a clear-all evict would
      // have dumped it and forced a re-read on the next planning pass
      val bPaths = bEntries.map(_.file.toString).toSet
      assert(bPaths.subsetOf(FlsFooters.cachedKeys),
        "hot (just-accessed) footers must survive eviction")
    } finally {
      FlsFooters.MaxEntries = saved
      FlsFooters.clear()
    }
  }

  test("footer cache: footer read failures surface the original cause") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new java.io.File(s"$tmp/bad_footer")
    dir.mkdirs()
    val bad = new java.io.File(dir, "junk.fls")
    java.nio.file.Files.write(bad.toPath, "not an fls file at all".getBytes)
    val e = intercept[Exception] {
      FlsFooters.list(Seq(dir.toString), conf)
    }
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException],
      s"cause must be unwrapped, got ${e.getClass}")
  }

  test("footer cache: rewritten files invalidate via (mtime, length)") {
    val dir = s"$tmp/invalidate"
    spark.range(0, 100).selectExpr("id AS v")
      .write.format("fls").mode("overwrite").save(dir)
    assert(spark.read.format("fls").load(dir).count() == 100)
    // overwrite with different contents — cache must not serve stale descriptors
    spark.range(1000, 1250).selectExpr("id AS v")
      .write.format("fls").mode("overwrite").save(dir)
    val back = spark.read.format("fls").load(dir)
    assert(back.count() == 250)
    assert(back.agg(min("v"), max("v")).collect()(0).toSeq == Seq(1000L, 1249L))
  }

  private def mixedScaleDirs(): (String, String) = {
    val d1 = s"$tmp/scale_a"
    val d2 = s"$tmp/scale_b"
    // same column name, DIFFERENT decimal scale per file: physical
    // (unscaled) stats are incomparable across the two
    spark.range(0, 50).selectExpr("id", "CAST(id + 0.25 AS DECIMAL(10,2)) AS v")
      .write.format("fls").mode("overwrite").save(d1)
    spark.range(50, 100).selectExpr("id", "CAST(id + 0.1234 AS DECIMAL(12,4)) AS v")
      .write.format("fls").mode("overwrite").save(d2)
    (d1, d2)
  }

  test("MIN/MAX aggregate over mixed-scale decimal union falls back and stays exact") {
    val (d1, d2) = mixedScaleDirs()
    val df = spark.read.format("fls").option("union_by_name", "true").load(d1, d2)
    val r = df.agg(min("v"), max("v")).collect()(0)
    // raw unscaled comparison would pick file-2 values for BOTH ends
    // (25..9925 at scale 2 vs 501234..991234 at scale 4)
    assert(r.getDecimal(0).compareTo(new java.math.BigDecimal("0.25")) == 0, s"min=${r.getDecimal(0)}")
    assert(r.getDecimal(1).compareTo(new java.math.BigDecimal("99.1234")) == 0, s"max=${r.getDecimal(1)}")
  }

  test("ORDER BY ... LIMIT over mixed-scale decimal union prunes nothing unsound") {
    val (d1, d2) = mixedScaleDirs()
    val df = spark.read.format("fls").option("union_by_name", "true").load(d1, d2)
    val top = df.orderBy(desc("v")).limit(3).select("id").collect().map(_.getLong(0)).toSeq
    assert(top == Seq(99L, 98L, 97L), s"got $top")
    val bottom = df.orderBy(asc("v")).limit(3).select("id").collect().map(_.getLong(0)).toSeq
    assert(bottom == Seq(0L, 1L, 2L), s"got $bottom")
  }

  test("uniform-scale MIN/MAX still answers from metadata (pushdown preserved)") {
    val dir = s"$tmp/uniform"
    spark.range(0, 1000).selectExpr("CAST(id + 0.5 AS DECIMAL(10,2)) AS v")
      .write.format("fls").mode("overwrite").save(dir)
    val df = spark.read.format("fls").load(dir)
    val plan = df.agg(min("v"), max("v")).queryExecution.executedPlan.toString
    assert(plan.contains("metadata-aggregate"), s"pushdown lost:\n$plan")
    val r = df.agg(min("v"), max("v")).collect()(0)
    assert(r.getDecimal(0).compareTo(new java.math.BigDecimal("0.50")) == 0)
    assert(r.getDecimal(1).compareTo(new java.math.BigDecimal("999.50")) == 0)
  }

  test("string MIN/MAX answers from metadata when byte stats are exact") {
    val dir = s"$tmp/str_agg"
    spark.range(0, 5000)
      .selectExpr("id", "concat('k', lpad(CAST(id AS STRING), 6, '0')) AS k")
      .repartition(3)
      .write.format("fls").mode("overwrite").save(dir)
    val df = spark.read.format("fls").load(dir)
    val q = df.agg(min("k"), max("k"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("metadata-aggregate"), s"string MIN/MAX pushdown lost:\n$plan")
    val r = q.collect()(0)
    assert(r.getString(0) == "k000000" && r.getString(1) == "k004999", r.toString)
  }

  test("string MIN/MAX falls back when stats are truncated (values > 16 bytes)") {
    val dir = s"$tmp/str_agg_long"
    spark.range(0, 500)
      .selectExpr("id", "concat('long-prefix-value-', lpad(CAST(id AS STRING), 6, '0')) AS k")
      .write.format("fls").mode("overwrite").save(dir)
    val df = spark.read.format("fls").load(dir)
    val q = df.agg(min("k"), max("k"))
    assert(!q.queryExecution.executedPlan.toString.contains("metadata-aggregate"),
      "truncated byte stats must NOT answer aggregates")
    val r = q.collect()(0)
    assert(r.getString(0) == "long-prefix-value-000000" &&
      r.getString(1) == "long-prefix-value-000499")
  }

  test("separate-footer mode round-trips; sidecar renamed by the commit protocol") {
    val dir = s"$tmp/sidecar"
    val df = spark.range(0, 5000)
      .selectExpr("id", "CAST(id % 7 AS DOUBLE) AS d", "concat('s', id % 11) AS s")
    df.repartition(3).write.format("fls").mode("overwrite")
      .option("inline_footer", "false").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    val dataFiles = files.filter(_.endsWith(".fls"))
    val sidecars = files.filter(_.endsWith(".fls.footer"))
    assert(dataFiles.nonEmpty && sidecars.length == dataFiles.length,
      s"one sidecar per data file expected: ${files.toSeq}")
    assert(sidecars.toSeq == dataFiles.map(_ + ".footer").toSeq)
    val back = spark.read.format("fls").load(dir)
    assert(back.count() == 5000)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
    // overwrite in inline mode: sidecars of the old job must be swept
    spark.range(0, 10).selectExpr("id", "CAST(0 AS DOUBLE) AS d", "'x' AS s")
      .write.format("fls").mode("overwrite").save(dir)
    val after = new java.io.File(dir).listFiles().map(_.getName)
    assert(!after.exists(_.endsWith(".fls.footer")), s"stale sidecars: ${after.toSeq}")
    assert(spark.read.format("fls").load(dir).count() == 10)
  }

  test("string_dictionary read option serves identical results through the dict vector") {
    val dir = s"$tmp/strdict"
    val rng = new scala.util.Random(13)
    // low-cardinality wide strings (DICT), high-cardinality (FSST/PLAIN),
    // empty strings, unicode — all through the dictionary-vector path
    val vals = Seq("the quick brown fox", "", "日本語テキスト", "zzz", "mid-size-value")
    val df = spark.range(0, 20000).selectExpr("id")
      .withColumn("lowcard", element_at(
        typedLit(vals), (col("id") % vals.length + 1).cast("int")))
      .withColumn("highcard", concat(lit("u-"), col("id"), lit("-"),
        (col("id") * 2654435761L % 1000003L)))
    df.repartition(2).write.format("fls").mode("overwrite").save(dir)
    val eager = spark.read.format("fls").load(dir)
    val dict = spark.read.format("fls").option("string_dictionary", "true").load(dir)
    assert(dict.exceptAll(eager).count() == 0 && eager.exceptAll(dict).count() == 0)
    val g1 = dict.groupBy("lowcard").count().orderBy("lowcard").collect().toSeq
    val g2 = eager.groupBy("lowcard").count().orderBy("lowcard").collect().toSeq
    assert(g1 == g2)
    assert(dict.filter(col("lowcard") === "zzz").count() === 4000)
  }

  test("MCC EQUAL: duplicate columns store a reference, read back through the dependency") {
    val dir = s"$tmp/mcc"
    val df = spark.range(0, 8000)
      .selectExpr("id", "id AS id_dup", "CAST(id % 13 AS DOUBLE) AS d",
        "concat('v', id % 23) AS s", "concat('v', id % 23) AS s_dup",
        "CAST(id % 13 AS DOUBLE) AS d_dup", "id AS id_dup2")
    df.coalesce(1).write.format("fls").mode("overwrite").save(dir)
    // footer: every *_dup column must be an EQUAL segment pointing at
    // its source, and the file must be much smaller than without MCC
    val conf = spark.sessionState.newHadoopConf()
    val file = FlsFile.listDataFiles(new org.apache.hadoop.fs.Path(dir), conf).head
    val r = new FlsFileReader(file, conf)
    try {
      val names = r.table.columns.map(_.name)
      val encs = r.table.rowGroups.head.segments.map(_.encoding)
      Seq("id_dup", "s_dup", "d_dup", "id_dup2").foreach { c =>
        val i = names.indexOf(c)
        assert(encs(i) == Format.Enc.EQUAL, s"$c: expected EQUAL, got ${encs(i)}")
      }
      // numeric EQUAL segments keep the duplicated content's stats
      // (strings are stats-less by design, like their direct encodings)
      Seq("id_dup", "id_dup2", "d_dup").foreach { c =>
        val i = names.indexOf(c)
        assert(r.table.rowGroups.head.segments(i).hasStats, s"$c should keep stats")
      }
      assert(encs(names.indexOf("id")) != Format.Enc.EQUAL)
      // decodeSegment resolves the reference
      val idCol = r.decodeSegment(0, names.indexOf("id")).asInstanceOf[LongData].v
      val dupCol = r.decodeSegment(0, names.indexOf("id_dup")).asInstanceOf[LongData].v
      assert(idCol.sameElements(dupCol))
    } finally r.close()
    // full round-trip equality
    val back = spark.read.format("fls").load(dir)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
    // projecting ONLY a dup column reads through the dependency
    assert(spark.read.format("fls").load(dir).select("s_dup")
      .distinct().count() == 23)
    // zone-map pruning on a dup column still works (stats are copied)
    assert(spark.read.format("fls").load(dir)
      .filter(col("id_dup") === 7777L).count() == 1)
  }

  test("scan progress metrics report row groups and rows actually read") {
    import graft.fls.connector._
    val dir = s"$tmp/metrics"
    spark.range(0, 3000).selectExpr("id AS v")
      .coalesce(1).write.format("fls").mode("overwrite")
      .option("row_group_size", "1024").save(dir)
    val conf = spark.sessionState.newHadoopConf()
    val file = FlsFile.listDataFiles(new org.apache.hadoop.fs.Path(dir), conf).head
    val r = new FlsFileReader(file, conf)
    val (table, cols) = try (r.table, r.table.columns) finally r.close()
    assert(table.rowGroups.length == 3)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val reader = new FlsPartitionReader(
      FlsInputPartition.single(file.toString, table.rowGroups.head, cols, 0L, 0), schema, conf)
    assert(reader.currentMetricsValues().map(m => (m.name(), m.value())).toSeq ==
      Seq(("rowGroupsRead", 0L), ("flsRowsRead", 0L), ("flsRowsFiltered", 0L)))
    var rows = 0L
    while (reader.next()) rows += reader.get().numRows()
    assert(rows == 1024)
    val after = reader.currentMetricsValues().map(m => (m.name(), m.value())).toMap
    assert(after == Map("rowGroupsRead" -> 1L, "flsRowsRead" -> 1024L,
      "flsRowsFiltered" -> 0L), after.toString)
    // scan-level metric declarations match what tasks report
    val scan = new FlsScan(schema, schema, Array.empty,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir)))
    assert(scan.supportedCustomMetrics().map(_.name()).toSeq ==
      Seq("rowGroupsRead", "flsRowsRead", "flsRowsFiltered", "rowGroupsTotal", "rowGroupsPruned"))
  }

  test("driver metrics: pruned + read = total row groups, pruned = 0 without a filter") {
    val dir = s"$tmp/pruned"
    // one file of 8 id-sorted 1024-row groups, each a disjoint id range
    spark.range(0, 8192, 1, 1).selectExpr("id AS v")
      .write.format("fls").mode("overwrite").option("row_group_size", "1024").save(dir)
    def counts(cond: Option[String]): (Long, Long, Long, Long) = {
      val base = spark.read.format("fls").load(dir)
      val df = cond.fold(base)(base.filter)
      val rows = df.collect().length.toLong
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      def m(n: String) = scan.metrics(n).value
      (rows, m("rowGroupsTotal"), m("rowGroupsPruned"), m("rowGroupsRead"))
    }
    val (all, total, pruned0, read0) = counts(None)
    assert(all == 8192 && total == 8 && pruned0 == 0 && read0 == 8, (total, pruned0, read0))
    // v in [1500, 2600) touches groups [1024, 2048) and [2048, 3072) only
    val (some, total1, pruned1, read1) = counts(Some("v >= 1500 AND v < 2600"))
    assert(some == 1100 && total1 == 8)
    assert(pruned1 == 6 && pruned1 + read1 == total1, (total1, pruned1, read1))
  }

  test("string zone maps prune row groups for equality, range, and prefix filters") {
    import org.apache.spark.sql.sources._
    import graft.fls.connector._
    val dir = s"$tmp/strzm"
    // 4 row groups, string key sorted so each group covers a disjoint range
    spark.range(0, 4096)
      .selectExpr("id", "concat('k', lpad(CAST(id AS STRING), 6, '0')) AS k")
      .coalesce(1).sortWithinPartitions("k")
      .write.format("fls").mode("overwrite").option("row_group_size", "1024").save(dir)
    def plan(fs: Filter*): Int = {
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir))
      val schema = new FlsDataSource().inferSchema(opts)
      val b = new FlsScanBuilder(schema, opts)
      b.pushFilters(fs.toArray)
      b.build().toBatch.planInputPartitions().length
    }
    assert(plan() == 4)
    assert(plan(EqualTo("k", "k000100")) == 1)
    assert(plan(EqualTo("k", "zzz")) == 0)
    assert(plan(GreaterThan("k", "k003071")) == 1)
    assert(plan(LessThanOrEqual("k", "k001023")) == 1)
    assert(plan(StringStartsWith("k", "k000")) == 1)
    assert(plan(StringStartsWith("k", "x")) == 0)
    // results stay exact through the pruned scan
    val got = spark.read.format("fls").load(dir)
      .filter(col("k") >= "k000100" && col("k") < "k000200").count()
    assert(got == 100)
  }

  test("transpose writer option round-trips and keeps zone-map pruning exact") {
    val dir = s"$tmp/transpose"
    val df = spark.range(0, 70000)
      .selectExpr("id", "CAST(id AS DOUBLE) / 7 AS d", "concat('s', id % 9) AS s")
    df.coalesce(1).write.format("fls").mode("overwrite")
      .option("transpose", "true").save(dir)
    val conf = spark.sessionState.newHadoopConf()
    val file = FlsFile.listDataFiles(new org.apache.hadoop.fs.Path(dir), conf).head
    val r = new FlsFileReader(file, conf)
    try {
      val encs = r.table.rowGroups.head.segments.map(_.encoding)
      val names = r.table.columns.map(_.name)
      assert(encs(names.indexOf("id")) == Format.Enc.TRANSPOSED)
      assert(encs(names.indexOf("d")) == Format.Enc.TRANSPOSED)
      assert(encs(names.indexOf("s")) != Format.Enc.TRANSPOSED) // strings never transpose
    } finally r.close()
    val back = spark.read.format("fls").load(dir)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
    assert(back.filter(col("id") === 69999L).select("d").collect()(0).getDouble(0)
      == 69999.0 / 7)
  }

  test("empty write leaves a readable schema-only file") {
    val dir = s"$tmp/empty"
    val df = spark.range(0, 100).selectExpr("id", "CAST(id AS DOUBLE) AS d")
      .filter(col("id") < 0) // empty, schema preserved
    df.write.format("fls").mode("overwrite").save(dir)
    val back = spark.read.format("fls").load(dir)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("id", "d"))
    // aggregates over the empty table: COUNT pushes down to 0 from
    // metadata; MIN falls back and yields NULL
    val r = back.agg(count(lit(1)), min("id")).collect()(0)
    assert(r.getLong(0) == 0L && r.isNullAt(1))
    // overwriting the empty result with real data still works
    spark.range(5, 8).selectExpr("id", "CAST(id AS DOUBLE) AS d")
      .write.format("fls").mode("overwrite").save(dir)
    assert(spark.read.format("fls").load(dir).count() == 3)
  }

  test("schema evolution: appended files with a new column read via union_by_name") {
    val dir = s"$tmp/evolve"
    spark.range(0, 50).selectExpr("id")
      .write.format("fls").mode("overwrite").save(dir)
    spark.range(50, 100).selectExpr("id", "id * 2 AS score")
      .write.format("fls").mode("append").save(dir)
    val back = spark.read.format("fls").option("union_by_name", "true").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "score"))
    assert(back.schema("score").nullable, "column absent from old files must be nullable")
    assert(back.count() == 100)
    val r = back.agg(count(col("score")), sum("score")).collect()(0)
    assert(r.getLong(0) == 50 && r.getLong(1) == (50L until 100L).map(_ * 2).sum)
  }

  test("aggregate over a column absent from one file falls back, no runtime failure") {
    val d1 = s"$tmp/missing_a"
    val d2 = s"$tmp/missing_b"
    spark.range(0, 50).selectExpr("id", "id * 10 AS v")
      .write.format("fls").mode("overwrite").save(d1)
    spark.range(50, 100).selectExpr("id")
      .write.format("fls").mode("overwrite").save(d2)
    val df = spark.read.format("fls").option("union_by_name", "true").load(d1, d2)
    val r = df.agg(min("v"), max("v"), count(lit(1))).collect()(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == 490L && r.getLong(2) == 100L)
  }
}
