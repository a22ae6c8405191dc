package graft.fls.connector

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructType}

import graft.fls._

/** Streaming offset = the id of the last discovered file batch. */
case class FlsOffset(batchId: Long) extends Offset {
  override def json(): String = batchId.toString
}

/** Micro-batch streaming source over an fls table directory — the
  * continuous-ingestion path a training-data pipeline needs (land
  * `.fls` files with any fls writer, tail them as a stream). The
  * reference has no streaming surface at all; this is Spark-native
  * machinery layered on the same scan internals as the batch path.
  *
  * Protocol (the same file-log idea as Spark's FileStreamSource):
  * `latestOffset` lists the table (manifest-aware — a manifest table
  * streams without any listing RPC), diffs against every file already
  * logged, and durably logs the new files as batch `n` under
  * `<checkpoint>/fls-batches/n` BEFORE returning offset `n` — so a
  * restarted query can replay any (start, end] range deterministically
  * from the log (exactly-once), even if discovery raced new files.
  * Stability: manifest tables only ever list published (immutable)
  * files; for rename-mode tables, files of a job whose staging tree is
  * still present are deferred to a later trigger, and a logged file
  * that a job rollback deleted anyway is skipped with a warning (its
  * data was never committed).
  *
  * Each logged file plans through the batch path's planner
  * ([[FlsScanPlanner]]): partition columns parsed from the path, pushed
  * filters applied as partition + zone-map pruning, row groups packed
  * into splits with their descriptors serialized in. */
class FlsMicroBatchStream(
    tableSchema: StructType,
    requiredSchema: StructType,
    filters: Array[Filter],
    consumedFilters: Array[Filter],
    options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
    checkpointLocation: String,
    /** Captured at construction (driver, planning thread) — the stream's
      * micro-batch thread must keep using the OWNING session's conf,
      * not whatever session is active on that thread. */
    session: org.apache.spark.sql.SparkSession =
      org.apache.spark.sql.SparkSession.active)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  /** Admission control: cap files per micro-batch so a 100k-file
    * backfill drains as bounded batches instead of one giant one
    * (0 = unlimited). Trigger.AvailableNow respects the cap too — it
    * freezes the file set at prepare time and loops batches until that
    * set is drained. */
  private val maxFilesPerTrigger = options.getInt("max_files_per_trigger", 0)
  private val readOptions = FlsReadOptions.parse(options)
  private var availableNowTarget: Set[String] = null

  private def hadoopConf: Configuration =
    session.sessionState.newHadoopConf()

  private val paths = FlsDataSource.parsePaths(options)
  private val logDir = new Path(checkpointLocation, "fls-batches")

  /** Every `log_compact_interval` committed batches the per-batch log
    * files ≤ the committed watermark collapse into one `<id>.compact`
    * file (Spark never replans a committed batch, so per-batch replay
    * granularity is only needed ABOVE the watermark) — without this,
    * restart latency and log-file count grow with every batch ever run.
    * At the same time, `seen` entries whose files are BOTH gone from
    * the table AND older than `log_expire_ms` age out, bounding driver
    * memory by (current table files + recent churn) instead of every
    * file ever ingested. Safe because fls writer file names are
    * attempt-unique — a deleted file's name cannot legitimately recur
    * (an external writer that reuses a deleted file's exact name within
    * the expire window is the documented exclusion). */
  private val compactInterval = options.getInt("log_compact_interval", 10)
  private val expireMs = options.getLong("log_expire_ms", 7L * 24 * 3600 * 1000)
  private val CompactSuffix = ".compact"

  /** path → first-seen ms, for every file in any logged batch; rebuilt
    * from the latest compact file + the per-batch logs above it at
    * construction, so restarts resume where the checkpoint left off. */
  private val seen = mutable.HashMap[String, Long]()
  private var lastBatch: Long = -1L
  private var lastCompact: Long = -1L
  locally {
    val fs = logDir.getFileSystem(hadoopConf)
    if (fs.exists(logDir)) {
      val (compacts, logs) = fs.listStatus(logDir).partition(
        _.getPath.getName.endsWith(CompactSuffix))
      compacts.foreach { st =>
        val n = st.getPath.getName.stripSuffix(CompactSuffix)
        scala.util.Try(n.toLong).toOption.foreach { id =>
          if (id > lastCompact) lastCompact = id
          if (id > lastBatch) lastBatch = id
          readCompact(st.getPath).foreach { case (p, ts) =>
            if (!seen.contains(p)) seen(p) = ts
          }
        }
      }
      logs.foreach { st =>
        scala.util.Try(st.getPath.getName.toLong).toOption.foreach { id =>
          val ts = st.getModificationTime
          readLog(id).foreach { l =>
            val p = parseLogLine(l)._1
            if (!seen.contains(p)) seen(p) = ts
          }
          if (id > lastBatch) lastBatch = id
        }
      }
    }
  }

  private def readCompact(p: Path): Seq[(String, Long)] =
    readLines(p).map { l =>
      val tab = l.indexOf('\t')
      (l.substring(tab + 1), l.substring(0, tab).toLong)
    }

  /** `<path>` (pre-DV logs and DV-less files), `<path>\t<dvAbs>`, or —
    * since equality deletes — `<path>\t<dvAbs | '-'>\t<eqJson>...`
    * (the `-` placeholder keeps field 2 unambiguous; predicate JSON is
    * tab-free by the manifest's own constraint). All three generations
    * parse: old logs never contain `-` or a third field. */
  private def parseLogLine(l: String): (String, Option[String], Seq[String]) = {
    val fields = l.split('\t')
    val dv = fields.lift(1).filter(_ != "-")
    (fields(0), dv, fields.drop(2).toSeq)
  }

  private def readLog(id: Long): Seq[String] = readLines(new Path(logDir, id.toString))

  private def readLines(p: Path): Seq[String] = {
    val fs = p.getFileSystem(hadoopConf)
    val st = fs.getFileStatus(p)
    val buf = new Array[Byte](st.getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, java.nio.charset.StandardCharsets.UTF_8)
      .split('\n').filter(_.nonEmpty).toSeq
  }

  private def writeLog(id: Long, files: Seq[String]): Unit = {
    val fs = logDir.getFileSystem(hadoopConf)
    val tmp = new Path(logDir, s".${id}.tmp")
    val out = fs.create(tmp, true)
    try out.write(files.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(logDir, id.toString)))
      throw new java.io.IOException(s"fls stream: cannot commit batch log $id")
  }

  override def initialOffset(): Offset = FlsOffset(-1L)

  override def deserializeOffset(json: String): Offset = FlsOffset(json.trim.toLong)

  /** All currently STABLE files: listed (manifest-aware), excluding
    * files of rename-mode jobs whose staging tree still exists — a file
    * is visible at its final name from TASK commit but deletable until
    * JOB commit (abort rollback, stale-attempt sweep), so it is
    * deferred to a later trigger instead of durably logged while it may
    * yet vanish. (Manifest tables never hit this: only published files
    * list at all.)
    *
    * Each file carries its DELETE-VECTOR pointer AS OF this listing
    * (absolute sidecar path, None = no deletes): the stream freezes the
    * DV at DISCOVERY, logs it with the file, and applies it at decode —
    * a file that lands already-vectored (INSERT then MOR DELETE between
    * triggers, or a stream starting over a DV'd table) must not
    * resurrect its deleted rows. The frozen pointer also keeps replays
    * deterministic across restarts. The inverse case is the documented
    * append-only limit (spec-locked in FlsStreamingSpec, same stance as
    * incremental reads' rewrite refusal): a DV attached AFTER a file
    * was logged never RETRACTS rows already emitted downstream — an
    * append-only stream has no retraction channel; pipelines needing
    * delete propagation re-snapshot or consume a change feed. */
  private def stableFiles(): Seq[(String, Option[String], Seq[String])] = {
    val conf = hadoopConf
    val current = paths.flatMap { p =>
      FlsFile.listDataWithStats(new Path(p), conf, None).map { case (st, stats) =>
        // one parse: DV pointer + the file's APPLICABLE equality-delete
        // residuals (planning-injected by the listing) — both freeze at
        // discovery like the DV, same determinism-and-no-retraction
        // contract: a predicate committed after a file was logged never
        // retracts already-emitted rows
        val (dv0, _, eq) = FlsFileStats.metaOf(stats.orNull)
        val dv = dv0.map(rel => new Path(st.getPath.getParent, rel).toString)
        (st.getPath.toString, dv, eq)
      }
    }
    val inFlight: Set[String] = paths.flatMap { p =>
      val td = new Path(new Path(p), FlsCommit.TempDirName)
      try {
        val fs = td.getFileSystem(conf)
        fs.listStatus(td).filter(_.isDirectory).map(_.getPath.getName).toSeq
      } catch { case _: java.io.FileNotFoundException => Nil }
    }.toSet
    current.filterNot { case (f, _, _) => inFlight.exists(w => f.contains(s"-$w-")) }
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger > 0) ReadLimit.maxFiles(maxFilesPerTrigger)
    else ReadLimit.allAvailable()

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowTarget = stableFiles().map(_._1).toSet
  }

  override def latestOffset(): Offset = latestOffset(null, ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val current = stableFiles()
    // AvailableNow drains the file set frozen at prepare time — files
    // landing mid-drain wait for the next query run
    val bounded =
      if (availableNowTarget != null)
        current.filter(f => availableNowTarget.contains(f._1))
      else current
    var fresh = bounded.filterNot(f => seen.contains(f._1)).sortBy(_._1)
    limit match {
      case m: ReadMaxFiles => fresh = fresh.take(m.maxFiles())
      case _ => ()
    }
    if (fresh.nonEmpty) {
      lastBatch += 1
      // log line: see parseLogLine — DV and equality residuals freeze
      // at discovery so replays stay deterministic
      writeLog(lastBatch, fresh.map { case (f, dv, eq) =>
        if (eq.isEmpty) dv.map(d => s"$f\t$d").getOrElse(f)
        else (Seq(f, dv.getOrElse("-")) ++ eq).mkString("\t")
      })
      val now = System.currentTimeMillis()
      fresh.foreach { case (f, _, _) => seen(f) = now }
    }
    FlsOffset(lastBatch)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FlsOffset].batchId
    val e = end.asInstanceOf[FlsOffset].batchId
    if (e <= s) return Array.empty
    val conf = hadoopConf
    val logged = ((s + 1) to e).flatMap(readLog).map(parseLogLine)
    val files = logged.map(_._1)
    // discovery-frozen DV (absolute sidecar path) and equality residuals
    val deletesOf = logged.map { case (f, dv, eq) => f -> (dv, eq) }.toMap
    val footers = FlsFooters.list(files, conf)
      .map(f => f.copy(table = graft.fls.Format.applyRenames(f.table, tableSchema)))
    if (footers.length != files.length) {
      // a logged file vanished: its writing job rolled back after we
      // listed it (rename-mode window) — its data was never committed,
      // so skipping it is correct; say so rather than fail the batch
      val present = footers.map(_.file.toString).toSet
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"fls stream: skipping rolled-back files: " +
          files.filterNot(present).mkString(", "))
    }
    val bases = paths.map { p =>
      val hp = new Path(p)
      hp.getFileSystem(conf).makeQualified(hp)
    }
    // partition-column types come from the TABLE schema (fixed at
    // stream start); values parse per file from its path
    val partTypes: Map[String, DataType] =
      tableSchema.fields.map(f => f.name -> f.dataType).toMap
    val planFiles = footers.map { entry =>
      val kvs = FlsPartitioning.valuesFor(bases, entry.file)
      val keys = kvs.map(_._1)
      val raw = kvs.map(_._2).toArray
      // CONSUMED partition filters have no residual FilterExec behind
      // them: the batch planner proved every file decides them, but a
      // file landing mid-stream may not — such a file cannot be
      // processed correctly at all, so fail loudly instead of emitting
      // unfiltered rows
      consumedFilters.foreach { f =>
        require(FlsPartitioning.evaluates(f, partTypes, keys, raw).isDefined,
          s"fls stream: file ${entry.file} cannot decide the consumed partition " +
            s"filter $f (layout changed mid-stream?) — restart the query or fix the layout")
      }
      val (dv, eq) = deletesOf.getOrElse(entry.file.toString, (None, Nil))
      FlsPlanFile(entry.file.toString, entry.table, keys, raw, dv, eq)
    }
    FlsSplitPacking.pack(FlsScanPlanner.plan(planFiles, filters, partTypes,
      readOptions.sizeVirtuals), session)
  }

  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new FlsReaderFactory(requiredSchema, FlsJobConf(session, hadoopConf), readOptions,
      rowFilters = filters) // executor-side selection vectors (FlsRowFilter)

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[FlsOffset].batchId
    if (e >= 0 && compactInterval > 0 && e - lastCompact >= compactInterval)
      compact(e)
  }

  /** Collapse batch logs ≤ the committed watermark `end` into one
    * `<end>.compact` file and age out dead `seen` entries. Crash-safe
    * at every prefix: the compact publishes by atomic rename BEFORE any
    * log is deleted, so a crash mid-compaction only leaves redundant
    * files the next compaction removes. */
  private def compact(end: Long): Unit = {
    val conf = hadoopConf
    val fs = logDir.getFileSystem(conf)
    val now = System.currentTimeMillis()
    // retention: every file still present in the table MUST stay (or it
    // would be re-ingested as fresh); entries of files no longer listed
    // stay only within the expire window (robustness to listing blips),
    // then age out. An unlistable table keeps everything — never trade
    // exactly-once for memory on an error.
    val listed: Set[String] =
      try paths.flatMap(p =>
        FlsFile.listDataStatuses(new Path(p), conf).map(_.getPath.toString)).toSet
      catch { case _: Throwable => null }
    val retained = seen.toSeq.filter { case (p, ts) =>
      listed == null || listed.contains(p) || now - ts < expireMs
    }
    val tmp = new Path(logDir, s".$end$CompactSuffix.tmp")
    val out = fs.create(tmp, true)
    try out.write(retained.map { case (p, ts) => s"$ts\t$p" }
      .mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(logDir, s"$end$CompactSuffix")))
      throw new java.io.IOException(s"fls stream: cannot publish compact log $end")
    // committed batches never replan — their per-batch logs (and any
    // superseded compact) can go
    fs.listStatus(logDir).foreach { st =>
      val n = st.getPath.getName
      val stale =
        scala.util.Try(n.toLong).toOption.exists(_ <= end) ||
          (n.endsWith(CompactSuffix) &&
            scala.util.Try(n.stripSuffix(CompactSuffix).toLong).toOption.exists(_ < end))
      if (stale) try fs.delete(st.getPath, false) catch { case _: Throwable => () }
    }
    lastCompact = end
    seen.clear()
    retained.foreach { case (p, ts) => seen(p) = ts }
  }

  override def stop(): Unit = ()
}
