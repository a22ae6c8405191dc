package graft.fls.connector

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.fls.{FlsDeleteVectors, FlsFileStats, FlsFooters, FlsManifest, Format}

/** Change-data-feed over a manifest table: every row INSERTED or
  * DELETED by the commits in `(fromVersion, toVersion]`, tagged with
  * `_change_type` ('insert' | 'delete', or 'update_preimage' |
  * 'update_postimage' for UPDATE commits and for the matched rows of
  * MERGE commits on `merge_cdc=true` tables) and `_commit_version` —
  * the Delta `table_changes` / Iceberg `changelog` shape, derived
  * from the manifest log plus the per-commit `#cdc` split metadata
  * merges record at commit (the reference is single-snapshot,
  * /root/reference/src/writer/fls_writer.cpp:332-347; the multi-version
  * layer is this repo's own).
  *
  * Semantics are PER-COMMIT: each version v in the range is diffed
  * against v-1 at FILE level, so a row deleted and re-inserted inside
  * the range appears twice (once per commit) — the standard CDF
  * contract. Commits stamped `dataChange=false` (compaction, the
  * legacy-upgrade identity commit) are SKIPPED: their file churn is not
  * row churn. Pre-tag versions (no `#op` line) are treated as data
  * changes conservatively.
  *
  * The feed is a NATIVE connector scan ([[FlsCdfTable]]) — one scan
  * node, no unions, no joins. Each commit contributes up to four
  * branch kinds, each a set of per-file chunks planned from manifest
  * metadata (no footer is opened for an untouched file, and nothing
  * row-sized ever passes through the driver):
  *   - files ADDED at v → their rows live at v ('insert');
  *   - files REMOVED at v → their rows live at v-1 ('delete') —
  *     copy-on-write DELETE/UPDATE/OVERWRITE emit churn for rewritten
  *     survivors too, exactly like Delta without DVs;
  *   - files whose DELETE VECTOR grew at v → the newly-deleted
  *     positions ('delete'), selected AT DECODE: the task reads the two
  *     sidecars and the sorted-set difference becomes the row group's
  *     base selection vector ([[FlsPartitionReader]] emit mode);
  *   - files whose delete vector SHRANK at v (rollback restoring rows)
  *     → the restored positions at v ('insert'), same emit-mode decode.
  *
  * Reachable three ways, all the same plan: this object's
  * [[FlsCdf.changes]], reader options
  * `spark.read.format("fls").option("cdf_from_version", v)`, and SQL
  * `SELECT * FROM cat.db.t.changes` (full retained range).
  *
  * The whole range must sit inside the table's manifest retention
  * window (the `retention_versions` table property,
  * [[graft.fls.FlsManifest.DefaultKeepVersions]] = 8 by default —
  * tables with slow CDF consumers raise it) — older diffs refuse
  * loudly, same stance as pinned and incremental reads. Removed files
  * remain readable within that window because vacuum only deletes
  * UNVOUCHED files and rollback/pinned reads keep retained versions'
  * files alive. */
object FlsCdf {
  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"
  /** EXCLUSIVE lower bound: the range is `(from, to]`, so
    * `cdf_from_version=N` serves the changes of versions N+1..to —
    * N is the consumer's CURSOR (the last version already processed),
    * which is how [[changes]] and the streaming source checkpoint
    * compose. NOTE the divergence from Delta, whose `startingVersion`
    * is INCLUSIVE — Delta users should reach for
    * [[StartingVersionOption]], the inclusive spelling. */
  val FromOption = "cdf_from_version"
  /** INCLUSIVE lower bound (Delta's `startingVersion` contract):
    * `cdf_starting_version=N` serves version N's own changes and
    * everything after. Internally `from = N - 1`. Takes precedence
    * over [[FromOption]] when both are set. */
  val StartingVersionOption = "cdf_starting_version"
  val ToOption = "cdf_to_version"
  /** `read_change_feed=true` — route to the CDF table without naming a
    * version: batch reads serve the full retained range (earliest),
    * stream reads tail NEW changes from the head at stream start. */
  val ReadChangeFeed = "read_change_feed"
  /** `cdf_from_version=earliest` → the oldest retained transition. */
  val Earliest = "earliest"
  /** `cdf_from_timestamp=<epoch-millis | 'yyyy-MM-dd HH:mm:ss[.f]' |
    * ISO-8601 instant>` — the feed starts with the FIRST commit at or
    * after the instant (Delta's startingTimestamp contract). Takes
    * precedence over `cdf_from_version` (the catalog's `.changes`
    * table carries an `earliest` default that a read-time timestamp
    * must be able to override). */
  val FromTimestampOption = "cdf_from_timestamp"

  private[connector] def parseTimestampMillis(spec: String): Long =
    scala.util.Try(spec.trim.toLong)
      .orElse(scala.util.Try(java.sql.Timestamp.valueOf(spec.trim).getTime))
      .orElse(scala.util.Try(java.time.Instant.parse(spec.trim).toEpochMilli))
      .getOrElse(throw new IllegalArgumentException(
        s"fls cdf: cannot parse '$spec' as a timestamp — pass epoch " +
          "millis, 'yyyy-MM-dd HH:mm:ss[.f]', or an ISO-8601 instant"))

  /** Resolve `cdf_from_timestamp` to the EXCLUSIVE from-version: the
    * first commit at or after the instant is the first one SERVED.
    * Refuses loudly when nothing has committed since the instant, and
    * when the commit before the first served one is already past
    * retention (its diff base is unreadable — same stance as every
    * other retention edge: restart from a snapshot). */
  private[connector] def fromForTimestamp(fs: FileSystem, root: Path,
      dir: String, spec: String): Long = {
    val ms = parseTimestampMillis(spec)
    val versions = FlsManifest.versionsWithTimes(fs, root)
    require(versions.nonEmpty,
      s"fls cdf: $dir has no manifest log — the change-data-feed needs " +
        "a commit_mode=manifest table")
    val atOrAfter = versions.filter(_._2 >= ms)
    require(atOrAfter.nonEmpty,
      s"fls cdf: no commit of $dir at or after " +
        s"${java.time.Instant.ofEpochMilli(ms)} — the newest commit is " +
        s"${java.time.Instant.ofEpochMilli(versions.last._2)}; use " +
        s"$FromOption, or wait for new commits")
    val first = atOrAfter.minBy(_._1)._1
    require(first == 1L || versions.exists(_._1 == first - 1),
      s"fls cdf: the feed from ${java.time.Instant.ofEpochMilli(ms)} " +
        s"starts at version $first, but version ${first - 1} (its diff " +
        "base) is already past the retention window — restart the " +
        "consumer from a full snapshot")
    if (first == 1L) 0L else first - 1
  }

  /** True when the read options ask for the change feed (an explicit
    * version range, a starting timestamp, or the flag). */
  def requested(options: CaseInsensitiveStringMap): Boolean =
    options.containsKey(FromOption) ||
      options.containsKey(StartingVersionOption) ||
      options.containsKey(FromTimestampOption) ||
      options.getBoolean(ReadChangeFeed, false)

  /** Resolve the EXCLUSIVE from-version from the read options, with
    * precedence timestamp > starting_version (inclusive, Delta parity)
    * > from_version (exclusive cursor) > earliest. Shared by the batch
    * scan and the streaming source so the two spell the range the same
    * way. `earliest` = the oldest computable transition. */
  private[connector] def resolveFrom(options: CaseInsensitiveStringMap,
      fs: FileSystem, root: Path, dir: String, headV: Long): Long =
    options.get(FromTimestampOption) match {
      case null => options.get(StartingVersionOption) match {
        case null => options.get(FromOption) match {
          case null | Earliest => earliestFrom(fs, root, headV)
          case s => s.toLong
        }
        case Earliest => earliestFrom(fs, root, headV)
        case s =>
          val n = s.toLong
          require(n >= 1,
            s"fls cdf: $StartingVersionOption is INCLUSIVE and must be " +
              s">= 1, got $n (version 0 is the implicit empty table)")
          n - 1
      }
      case ts => fromForTimestamp(fs, root, dir, ts)
    }

  /** The oldest computable transition base: diffing v needs v-1
    * readable — v0 is the implicit empty table, so v1's diff is always
    * computable while v1 itself is retained. Tags punch HOLES in the
    * retained set (a tagged version is GC-exempt while the versions
    * between it and the head's retention window are not), so the
    * global minimum can sit across a GC gap that planning would then
    * hit with "version N is not retained" — walk back only the
    * CONTIGUOUS suffix of retained versions ending at the head. */
  def earliestFrom(fs: FileSystem, root: Path, headV: Long): Long = {
    val have = FlsManifest.versionsWithTimes(fs, root).map(_._1).toSet
    var mn = if (have.contains(headV)) headV else headV + 1
    while (mn > 1 && have.contains(mn - 1)) mn -= 1
    if (mn == 1L) 0L else mn
  }

  def cdfSchemaFields: Seq[StructField] = Seq(
    StructField(ChangeType, StringType, nullable = false),
    StructField(CommitVersion, LongType, nullable = false))

  def changes(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    // eager validation so misuse fails AT THE CALL, not at first action
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val (headV, _) = headOf(fs, root, dir)
    val to = toVersion.getOrElse(headV)
    validateRange(dir, fromVersion, to, headV)
    // retention check up front too: the diff's base version must still
    // be readable (planning would throw the same, but lazily)
    try FlsManifest.readVersion(fs, root, fromVersion)
    catch {
      case _: java.io.FileNotFoundException if fromVersion != 0L =>
        throw new IllegalArgumentException(
          s"fls cdf: version $fromVersion of $dir is not retained — the " +
            "change-data-feed can only span the retention window; " +
            "restart the consumer from a full snapshot")
      case _: java.io.FileNotFoundException => ()
    }
    val r = spark.read.format("fls")
      .option(FromOption, fromVersion.toString)
      .option(ToOption, to.toString)
    r.load(dir)
  }

  private def headOf(fs: FileSystem, root: Path, dir: String): (Long, Seq[FlsManifest.Entry]) =
    FlsManifest.readVersioned(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"fls cdf: $dir has no manifest log — the change-data-feed needs " +
          "a commit_mode=manifest table"))

  private def validateRange(dir: String, from: Long, to: Long, headV: Long): Unit = {
    require(from >= 0, s"fls cdf: from_version must be >= 0, got $from")
    require(from <= to,
      s"fls cdf: from_version=$from is newer than the target version $to")
    require(to <= headV,
      s"fls cdf: to_version=$to is beyond the newest version $headV")
  }

  /** One file of one CDF branch. `emitDiff=Some((a, b))` switches the
    * reader to emit-mode: serve ONLY positions in sidecar a and not in
    * sidecar b (absolute paths; None = empty set). `emitDiff=None` =
    * serve the file's live rows (normal delete-vector exclusion). */
  private[connector] final case class CdfFileSpec(rel: String,
      emitDiff: Option[(Option[String], Option[String])])

  /** All files one commit changed in one direction: scan their bytes
    * as of `scanVersion`, tag rows `changeType` @ `commitVersion`. */
  private[connector] final case class CdfBranch(commitVersion: Long,
      scanVersion: Long, changeType: String, files: Seq[CdfFileSpec])

  /** The per-commit file-level diff — manifest reads only, O(range ×
    * changed files); sidecar LENGTHS (not contents) classify DV-change
    * direction. Our writers only ever merge vectors (monotonic growth)
    * or revert pointers wholesale (rollback, a subset), so one side is
    * always empty — but the decode-time diff is exact either way, the
    * counts only choose which branches to build. */
  private[connector] def planBranches(fs: FileSystem, root: Path, dir: String,
      from: Long, to: Long): Seq[CdfBranch] = {
    def entriesAt(v: Long): Seq[FlsManifest.Entry] =
      try FlsManifest.readVersion(fs, root, v)
      catch {
        case _: java.io.FileNotFoundException =>
          if (v == 0L) Nil // table created directly in manifest mode
          else throw new IllegalArgumentException(
            s"fls cdf: version $v of $dir is not retained — the " +
              "change-data-feed can only span the retention window; " +
              "restart the consumer from a full snapshot")
      }
    val branches = scala.collection.mutable.ArrayBuffer[CdfBranch]()
    var prev = entriesAt(from)
    ((from + 1) to to).foreach { v =>
      val cur = entriesAt(v)
      val meta = FlsManifest.versionMeta(fs, root, v)
      val skip = meta.exists(!_.dataChange)
      // an EQUALITY delete is row churn with no file churn: serving its
      // deleted rows would need a predicate scan of every subject file,
      // which is not the O(range) feed this connector promises — refuse
      // loudly (Iceberg's changelog takes the same stance on equality
      // deletes); consumers restart from a snapshot past the commit
      if (meta.exists(_.op == "eqdelete"))
        throw new UnsupportedOperationException(
          s"fls cdf: version $v of $dir is an equality-delete commit — " +
            "its row-level churn is predicate-scoped, not file-scoped, " +
            "so the change feed cannot serve it; start the feed after " +
            s"v$v (cdf_from_version=$v) or process a full snapshot")
      // UPDATE commits tag their churn Delta-style: the old rows are
      // 'update_preimage', the new rows 'update_postimage' — downstream
      // can tell an update from a delete+insert pair. MERGE commits are
      // mixed churn, indistinguishable at file level — they split the
      // same way ONLY when the merge recorded its #cdc lines at commit
      // (merge_cdc tables, handled below); otherwise insert/delete.
      val isUpdate = meta.exists(_.op == "update")
      val delType = if (isUpdate) "update_preimage" else "delete"
      val insType = if (isUpdate) "update_postimage" else "insert"
      // Legacy-upgrade bootstrap: the first versioned commit retires the
      // pre-versioned manifest, so once that file is GC'd entriesAt(0)
      // is Nil and the v1 upgrade identity commit (dataChange=false) is
      // skipped — a consumer starting from 'earliest'/0 would silently
      // miss every pre-upgrade row. Emit v1's entry set as 'insert'
      // instead: the identity commit IS the pre-upgrade table, so the
      // bootstrap is complete (and exact — no diffs exist before it).
      if (skip && v == from + 1 && from == 0L && prev.isEmpty &&
          cur.nonEmpty && meta.exists(_.op == "upgrade")) {
        branches += CdfBranch(v, v, "insert",
          cur.map(e => CdfFileSpec(e.rel, None)))
      } else if (!skip) {
        // Merge commits on merge_cdc tables recorded their matched/
        // unmatched split at commit (#cdc lines + position sidecars,
        // [[graft.fls.FlsManifest.CdcLine]]) — serve update pre/post
        // images for the matched rows; without the lines, merge churn
        // stays insert/delete (the documented legacy contract, and the
        // best file diffs alone can do).
        val cdcLines =
          if (meta.exists(_.op == "merge")) FlsManifest.versionCdc(fs, root, v)
          else Nil
        val posts = cdcLines.collect {
          case FlsManifest.CdcPost(r) => r }.toSet
        val splits = cdcLines.collect {
          case FlsManifest.CdcSplit(r, pre, pure) => r -> ((pre, pure)) }.toMap
        def sidecarAbs(rel: String, base: String): String =
          fs.makeQualified(new Path(root,
            FlsDeleteVectors.relFor(rel, base))).toString
        val prevByRel = prev.map(e => e.rel -> e).toMap
        val curByRel = cur.map(e => e.rel -> e).toMap
        val added = cur.filterNot(e => prevByRel.contains(e.rel))
        val removed = prev.filterNot(e => curByRel.contains(e.rel))
        val deleteSide = scala.collection.mutable.ArrayBuffer[CdfFileSpec]()
        val insertSide = scala.collection.mutable.ArrayBuffer[CdfFileSpec]()
        val preimageSide = scala.collection.mutable.ArrayBuffer[CdfFileSpec]()
        prev.foreach { pe =>
          curByRel.get(pe.rel).foreach { ce =>
            require(pe.length == ce.length,
              s"fls cdf: ${pe.rel} changed length in commit $v without " +
                "changing name — in-place data rewrites are outside the " +
                "format's contract")
            val oldDv = FlsFileStats.dvOf(pe.stats)
            val newDv = FlsFileStats.dvOf(ce.stats)
            if (oldDv != newDv) splits.get(pe.rel) match {
              case Some((pre, pure)) =>
                // exact per-kind position lists, task-written at the
                // merge's commit — each serves whole as an emit set
                pre.foreach(b => preimageSide +=
                  CdfFileSpec(pe.rel, Some((Some(sidecarAbs(pe.rel, b)), None))))
                pure.foreach(b => deleteSide +=
                  CdfFileSpec(pe.rel, Some((Some(sidecarAbs(pe.rel, b)), None))))
              case None =>
                def dvAbs(base: Option[String]): Option[String] =
                  base.map(b => sidecarAbs(pe.rel, b))
                def count(abs: Option[String]): Long = abs match {
                  case None => 0L
                  case Some(p) => FlsDeleteVectors.countFromLength(
                    fs.getFileStatus(new Path(p)).getLen)
                }
                val (o, n) = (dvAbs(oldDv), dvAbs(newDv))
                val (co, cn) = (count(o), count(n))
                if (cn >= co) deleteSide += CdfFileSpec(pe.rel, Some((n, o)))
                if (co >= cn) insertSide += CdfFileSpec(pe.rel, Some((o, n)))
            }
          }
        }
        val (postAdded, plainAdded) = added.partition(e => posts.contains(e.rel))
        if (plainAdded.nonEmpty)
          branches += CdfBranch(v, v, insType,
            plainAdded.map(e => CdfFileSpec(e.rel, None)))
        if (postAdded.nonEmpty)
          branches += CdfBranch(v, v, "update_postimage",
            postAdded.map(e => CdfFileSpec(e.rel, None)))
        if (removed.nonEmpty)
          branches += CdfBranch(v, v - 1, delType,
            removed.map(e => CdfFileSpec(e.rel, None)))
        if (preimageSide.nonEmpty)
          branches += CdfBranch(v, v - 1, "update_preimage", preimageSide.toSeq)
        if (deleteSide.nonEmpty)
          branches += CdfBranch(v, v - 1, delType, deleteSide.toSeq)
        if (insertSide.nonEmpty)
          branches += CdfBranch(v, v, insType, insertSide.toSeq)
      }
      prev = cur
    }
    branches.toSeq
  }

  /** Plan the feed's scan units for the range `(from, to]` — manifest
    * reads plus touched-file footers only; nothing row-sized on the
    * driver. Shared by the batch scan ([[FlsCdfScan]]) and the
    * streaming source ([[FlsCdfMicroBatchStream]]): a micro-batch is
    * just a narrower version range, and because manifest versions are
    * immutable the same range replans IDENTICALLY on restart (the
    * manifest log is the stream's write-ahead log). */
  private[connector] def planUnits(conf: Configuration, dir: String,
      from: Long, to: Long, fullSchema: StructType,
      sizeVirtuals: Map[String, String]): Seq[FlsRgUnit] = {
    // schema the file columns bind against (renames, widenings) —
    // everything but the two feed columns
    val dataSchema = StructType(fullSchema.fields.filterNot(f =>
      f.name == ChangeType || f.name == CommitVersion))
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val qdir = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    val files = planBranches(fs, root, dir, from, to).flatMap { br =>
      val listed = FlsFooters.listStatuses(Seq(dir), conf, Some(br.scanVersion))
      val byRel = listed.map { case (st, meta) =>
        st.getPath.toString.stripPrefix(qdir) -> (st, meta)
      }.toMap
      val specs = br.files.sortBy(_.rel)
      val missing = specs.filterNot(s => byRel.contains(s.rel))
      require(missing.isEmpty,
        s"fls cdf: commit ${br.commitVersion}'s file(s) " +
          s"${missing.map(_.rel).mkString(", ")} are absent from retained " +
          s"version ${br.scanVersion} — the log is inconsistent (manual " +
          "file deletion?)")
      val entries = FlsFooters.fetchMeta(specs.map(s => byRel(s.rel)), conf)
        .map(e => e.copy(table = Format.applyRenames(e.table, dataSchema)))
      val disc = FlsPartitioning.discover(Seq(dir), entries.map(_.file), conf)
      specs.zip(entries).map { case (spec, e) =>
        // emit-mode chunks must NOT also exclude the live DV: the diff
        // IS the (exact) selection; live-row chunks keep their version's
        // DV so already-deleted rows never resurrect in the feed;
        // equality residuals are not applied to feed chunks
        FlsPlanFile(e, disc).copy(eq = Nil,
          dv = if (spec.emitDiff.isDefined) None else e.dv,
          cdf = Some(FlsCdfChunkSpec(br.changeType, br.commitVersion, spec.emitDiff)))
      }
    }
    // no pushed filters: the feed is change-sized, filters run above it
    FlsScanPlanner.plan(files, Array.empty, Map.empty, sizeVirtuals)
  }
}

/** Per-chunk CDF context, serialized into the input partition:
  * constants for the `_change_type`/`_commit_version` virtual columns,
  * plus the optional emit-mode sidecar pair (see [[FlsCdf.CdfFileSpec]]).
  */
final case class FlsCdfChunkSpec(changeType: String, commitVersion: Long,
    emitDiff: Option[(Option[String], Option[String])] = None)

/** The change-data-feed as a DSv2 table: schema = the table's data
  * (+partition) columns plus `_change_type`/`_commit_version`; the scan
  * plans every branch of every commit in the range as ordinary fls
  * chunks (same packing, same reader) with per-chunk CDF context.
  * Column pruning pushes down like any fls scan; filters evaluate
  * above the scan (the feed is change-sized, not table-sized). */
class FlsCdfTable(tableName: String, schemaWithCdf: StructType,
    options: CaseInsensitiveStringMap,
    session: SparkSession) extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = schemaWithCdf
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(readOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // merge table-level options (path, cdf range from the catalog) with
    // read-time ones; read-time wins, same precedence as FlsTable
    val merged = new util.HashMap[String, String]()
    options.entrySet().forEach(e => merged.put(e.getKey, e.getValue))
    readOptions.entrySet().forEach(e => merged.put(e.getKey, e.getValue))
    new FlsCdfScanBuilder(schemaWithCdf,
      new CaseInsensitiveStringMap(merged), session)
  }
}

class FlsCdfScanBuilder(fullSchema: StructType,
    options: CaseInsensitiveStringMap, session: SparkSession)
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new FlsCdfScan(fullSchema, required, options, session)
}

class FlsCdfScan(fullSchema: StructType, requiredSchema: StructType,
    options: CaseInsensitiveStringMap, session: SparkSession)
  extends Scan with Batch {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  private val readOptions = FlsReadOptions.parse(options)

  override def description(): String = {
    val from = Option(options.get(FlsCdf.FromOption)).getOrElse(FlsCdf.Earliest)
    s"fls cdf scan, range=($from, ${Option(options.get(FlsCdf.ToOption)).getOrElse("head")}]" +
      s", cols=[${requiredSchema.fieldNames.mkString(",")}]"
  }

  private def hadoopConf: Configuration = session.sessionState.newHadoopConf()

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = hadoopConf
    val paths = FlsDataSource.parsePaths(options)
    require(paths.length == 1,
      s"fls cdf: the change-data-feed addresses ONE table directory, got ${paths.length}")
    val dir = paths.head
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val (headV, _) = FlsManifest.readVersioned(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"fls cdf: $dir has no manifest log — the change-data-feed needs " +
          "a commit_mode=manifest table"))
    val from = FlsCdf.resolveFrom(options, fs, root, dir, headV)
    val to = Option(options.get(FlsCdf.ToOption)).map(_.toLong).getOrElse(headV)
    require(from >= 0, s"fls cdf: from_version must be >= 0, got $from")
    require(from <= to,
      s"fls cdf: from_version=$from is newer than the target version $to")
    require(to <= headV,
      s"fls cdf: to_version=$to is beyond the newest version $headV")
    FlsSplitPacking.pack(FlsCdf.planUnits(conf, dir, from, to, fullSchema,
      readOptions.sizeVirtuals), session)
  }

  /** Streaming read of the feed: the manifest VERSION is the offset —
    * see [[FlsCdfMicroBatchStream]]. */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new FlsCdfMicroBatchStream(fullSchema, requiredSchema, options, session)

  override def createReaderFactory(): PartitionReaderFactory =
    new FlsReaderFactory(requiredSchema, FlsJobConf(session, hadoopConf), readOptions)
}
