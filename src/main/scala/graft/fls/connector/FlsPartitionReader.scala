package graft.fls.connector

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

import graft.fls._
import graft.fls.Format._

/** Executor-side scan of ONE row group: positioned reads of exactly the
  * projected segments, full-row-group decode, then 2048-row ColumnarBatch
  * slices (reference scan granule, /root/reference/src/reader/
  * fls_reader.cpp:430,516-547). Virtual columns `file_row_number` /
  * `file_index` are synthesized here (≙ PopulateVirtualColumns,
  * fls_reader.cpp:474-495). */
class FlsPartitionReader(
    part: FlsInputPartition,
    readSchema: StructType,
    conf: Configuration,
    opts: FlsReadOptions = FlsReadOptions(),
    /** Pushed conjuncts for executor-side selection-vector filtering
      * (see [[FlsRowFilter]]); Catalyst still re-checks them. */
    rowFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
  extends PartitionReader[ColumnarBatch] {

  /** Dictionary-vector decision: forced by option, or auto by this
    * split's total row count (which columns/encodings qualify is the
    * `dictable` check per column). */
  private val useDictVectors: Boolean = opts.stringDictionary.getOrElse {
    var rows = 0L
    part.chunks.foreach(c => c.rowGroups.foreach(rg => rows += rg.nTuples))
    rows >= opts.stringDictAutoRows
  }

  /** Multi-chunk, multi-row-group split state: `cIdx` is the current
    * file chunk, `gIdx` the current group within it; decode is per
    * group (eager within a group, lazy across groups), with ONE file
    * handle per chunk and ONE set of output vectors for the whole
    * split. */
  private var cIdx = 0
  private var gIdx = -1
  private var chunk: FlsFileChunk = part.chunks.headOption.orNull
  private var nTuples = 0
  private var groupRowStart = 0L
  private var rowPos = 0
  private var rowsReadTotal = 0L
  private var groupsRead = 0L
  /** Rows dropped by executor-side selection vectors (scan-visible
    * filter effectiveness; the residual FilterExec's own numOutputRows
    * can't attribute drops to the scan). */
  private var rowsFilteredTotal = 0L
  private var in: org.apache.hadoop.fs.FSDataInputStream = _
  private var decoded: Array[ColData] = _ // null slots = virtual/absent columns
  /** File-side type per projected field (None = virtual or absent in
    * this file — absent happens under union_by_name). Per chunk. */
  private var fileTypes: Array[Option[ColumnType]] =
    if (chunk == null) Array.empty else mkFileTypes(chunk)

  private def mkFileTypes(c: FlsFileChunk): Array[Option[ColumnType]] =
    readSchema.fields.map { f =>
      c.fileColumns.find(_.name == f.name).map(_.colType)
    }
  /** Row-level predicates compiled against the CURRENT chunk's column
    * types (recompiled on chunk advance — union_by_name lets types
    * drift across files). */
  private var preds: Array[FlsRowFilter.Pred] =
    if (chunk == null) Array.empty
    else FlsRowFilter.compile(rowFilters, readSchema, fileTypes, opts.sizeVirtuals)
  /** Adaptive conjunct order (reset with `preds` on chunk advance —
    * compile can drop different conjuncts per file under
    * union_by_name, so positions don't transfer). */
  private var adaptOrder = new FlsRowFilter.AdaptiveOrder(preds.length)
  /** Probe knob (A/B timing in AdaptProbe; single-JVM only — a system
    * property does not ship to real executors, which is fine for a
    * measurement switch): false pins the pushed conjunct order. */
  private val adaptEnabled =
    sys.props.getOrElse("graft.fls.adaptive", "true").toBoolean
  private val vectors: Array[OnHeapColumnVector] =
    readSchema.fields.map(f => new OnHeapColumnVector(BatchSize, f.dataType))
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  /** Frozen exists-DEFAULT per projected field (resolved once per
    * reader from the field metadata; None = no default → absent columns
    * read as NULL). Served for files predating an
    * `ALTER ... ADD COLUMN ... DEFAULT` ([[FlsDefaults]]). */
  private val existsDefaultCache =
    scala.collection.mutable.HashMap.empty[String, Option[Any]]
  private def existsDefault(f: StructField): Option[Any] =
    existsDefaultCache.getOrElseUpdate(f.name, FlsDefaults.existenceDefault(f))

  /** Per-column dictionary (zero-copy string path); parallel to
    * `decoded`, non-null only for DictBytes columns. */
  private var colDicts: Array[org.apache.spark.sql.execution.vectorized.Dictionary] = _
  private var colDictIds: Array[Array[Int]] = _
  /** Reused selection scratch (one per reader, sized to the largest row
    * group seen) — a fresh 64Ki-int array per group is pure churn. */
  private var selScratch: Array[Int] = _

  /** Current chunk's delete-vector positions (sorted, file-absolute;
    * null = none) — one tiny sidecar read per chunk, applied to every
    * row group as the FIRST selection conjunct. Independent of
    * `rowFilters`: deletes have no Catalyst residual to re-check them,
    * so they apply in every scan mode, including the row-level group
    * scans that turn scan-side filters off. */
  private var dvPositions: Array[Long] =
    if (chunk == null) null else loadDv(chunk)
  private def loadDv(c: FlsFileChunk): Array[Long] =
    c.dv.map(p => graft.fls.FlsDeleteVectors.readAbsolute(p, conf)).orNull

  /** Current chunk's equality-delete exclusions, compiled against THIS
    * file's column types ([[graft.fls.FlsEqResidual]]) — like the DV,
    * applied unconditionally in every scan mode (no Catalyst residual
    * re-checks them), by decoding the predicate column (memo-shared
    * with the projection) and narrowing the selection. */
  private var eqExcls: Array[graft.fls.FlsEqResidual.Excl] =
    if (chunk == null) Array.empty else mkEqExcls(chunk)
  private def mkEqExcls(c: FlsFileChunk): Array[graft.fls.FlsEqResidual.Excl] =
    if (c.eq.isEmpty) Array.empty
    else graft.fls.FlsEqResidual.compile(c.eq, c.fileColumns)

  /** Change-data-feed emit mode: serve ONLY these file-absolute
    * positions (sorted; the set difference of the chunk's two sidecars,
    * computed here where the sidecars live — one task-side read each,
    * no position ever crosses the driver). Replaces the DV exclusion as
    * the base selection (the planner guarantees `dv` is unset on
    * emit-mode chunks). Null = ordinary scan. */
  private var emitPositions: Array[Long] =
    if (chunk == null) null else loadEmit(chunk)
  private def loadEmit(c: FlsFileChunk): Array[Long] =
    c.cdf.flatMap(_.emitDiff) match {
      case None => null
      case Some((a, b)) =>
        def posOf(p: Option[String]): Array[Long] = p match {
          case None => Array.empty[Long]
          case Some(abs) => graft.fls.FlsDeleteVectors.readAbsolute(abs, conf)
        }
        val ap = posOf(a)
        val bp = posOf(b)
        // sorted-merge difference ap \ bp
        val out = new Array[Long](ap.length)
        var k = 0
        var i = 0
        var j = 0
        while (i < ap.length) {
          while (j < bp.length && bp(j) < ap(i)) j += 1
          if (j >= bp.length || bp(j) != ap(i)) { out(k) = ap(i); k += 1 }
          i += 1
        }
        java.util.Arrays.copyOf(out, k)
    }

  /** Per-SEGMENT recycled decode buffers (see Codecs.decodeReuse): a
    * row group's numeric output arrays get reused by the next group of
    * the same column instead of re-allocating+zeroing 512 KB each time.
    * Safe because a group's decoded data is consumed (filled into
    * vectors) strictly before the next decodeGroup, and each segment
    * index owns its own slot. Reset on chunk advance (column count and
    * sizes can change across files). */
  private var segBufs: Array[Codecs.ReuseBufs] =
    if (chunk == null) Array.empty
    else Array.fill(chunk.fileColumns.length)(new Codecs.ReuseBufs)

  /** Decode row group `g` of the current chunk eagerly. The file handle
    * opens once per CHUNK (not per row group — that per-task open was
    * part of why single-rg tasks were too fine) and closes when the
    * chunk is exhausted or the reader closes.
    *
    * Corruption choke point: any failure inside — short reads, codec
    * bounds, bad lengths — re-surfaces as one fls-labeled IOException
    * naming the file and row group (already-labeled errors pass
    * through), so a corrupt file can never crash a scan with a bare
    * codec exception. */
  private def decodeGroup(g: Int): Unit =
    FlsErrors.wrap(s"row group $g of ${chunk.file}") { decodeGroupBody(g) }

  private def decodeGroupBody(g: Int): Unit = {
    if (in == null) {
      val path = new Path(chunk.file)
      in = path.getFileSystem(conf).open(path)
    }
    val rowGroup = chunk.rowGroups(g)
    colDicts = new Array(readSchema.fields.length)
    colDictIds = new Array(readSchema.fields.length)
    // MCC resolution: an EQUAL segment widens this reader's reads to its
    // source column (≙ reference fls_reader.cpp:583-590, which widens to
    // the full row group; the dependency is explicit here, so only the
    // referenced segment is read). Memoized — N duplicates of one source
    // decode it once.
    val memo = scala.collection.mutable.HashMap[Int, ColData]()
    def decodeAt(idx: Int): ColData = memo.get(idx) match {
      case Some(d) => d
      case None =>
        val seg = rowGroup.segments(idx)
        val segBytes = new Array[Byte](seg.length.toInt)
        in.readFully(seg.offset, segBytes)
        val d =
          if (seg.encoding == Enc.EQUAL) decodeAt(Codecs.decodeEqualTarget(segBytes))
          else if (seg.encoding == Enc.EXP_DICT) {
            // MCC external dictionary: widen the read to the dependency
            // column (full-row-group projection of it, like EQUAL) and
            // gather its values through this column's codes
            val (src, codes) = Codecs.decodeExpDictParts(segBytes)
            Codecs.gatherExpDict(decodeAt(src), codes)
          } else Codecs.decodeReuse(segBytes, seg.encoding,
            chunk.fileColumns(idx).colType, segBufs(idx))
        memo(idx) = d
        d
    }
    def decodeCol(f: StructField, fi: Int): ColData = {
        val idx = chunk.fileColumns.indexWhere(_.name == f.name)
        if (idx < 0) {
          opts.sizeVirtuals.get(f.name).map(b => chunk.fileColumns.indexWhere(_.name == b)) match {
            case Some(baseIdx) if baseIdx >= 0 =>
              // virtual `<col>_size`: per-row element counts, derived
              // from the base LIST column's offsets (decode shared via
              // the memo when the values are also projected)
              def counts(offsets: Array[Int]): LongData = {
                val n = offsets.length - 1
                val out = new Array[Long](n)
                var i = 0
                while (i < n) { out(i) = (offsets(i + 1) - offsets(i)).toLong; i += 1 }
                LongData(out)
              }
              decodeAt(baseIdx) match {
                case a: ArrayColData => counts(a.offsets)
                case m: MapColData => counts(m.offsets)
                case other => throw new IllegalStateException(
                  s"fls: ${f.name} base column decoded to ${other.getClass.getSimpleName}")
              }
            case _ =>
              if (f.name == FlsVirtual.RowNumber || f.name == FlsVirtual.FileIndex ||
                f.name == FlsVirtual.MetaFile || f.name == FlsVirtual.MetaPos ||
                (chunk.cdf.isDefined && (f.name == FlsCdf.ChangeType ||
                  f.name == FlsCdf.CommitVersion)) || // feed tag constants
                chunk.partitionValues.contains(f.name) || // constant from the path
                f.nullable || // nullable+absent: union_by_name missing column
                // NOT NULL + DEFAULT: the fill serves the exists-default
                f.metadata.contains(FlsDefaults.ExistsKey)) null
              else throw new IllegalArgumentException(
                s"fls: column ${f.name} not present in ${chunk.file}")
          }
        } else if (chunk.fileColumns(idx).colType.tag == TypeTag.STRUCT) {
          // struct parent: assemble from its dotted child columns,
          // decoding only the REQUESTED children (nested column pruning
          // — an unprojected field's segment is never read)
          val st = f.dataType match {
            case s: StructType => s
            case other => throw new IllegalArgumentException(
              s"fls: column ${f.name} is a STRUCT in ${chunk.file}, read as $other")
          }
          val children = st.fields.map { ch =>
            val chIdx = chunk.fileColumns.indexWhere(_.name == s"${f.name}.${ch.name}")
            if (chIdx < 0) {
              // drifted struct schema (union_by_name): a field this file
              // predates reads as NULL, like a missing top-level column
              if (ch.nullable) null
              else throw new IllegalArgumentException(
                s"fls: struct field ${f.name}.${ch.name} not present in ${chunk.file}")
            } else decodeAt(chIdx)
          }
          StructData(children, rowGroup.nTuples)
        } else {
          val seg = rowGroup.segments(idx)
          val phys = physOf(chunk.fileColumns(idx).colType.tag)
          // Zero-copy dictionary-vector path (≙ reference
          // dictionary_kernel.hpp:11-101): keep (dict, codes); the
          // vector serves values through a shared dictionary — no
          // per-row gather copy, and repeated values share one slot.
          // Strings AND numeric/timestamp domains (the parquet reader's
          // own lazy-dictionary trick via setDictionary). Size-adaptive:
          // below the auto threshold the eager gather wins (~19% at
          // sf0.1 — cache-resident data re-fetched through the dict
          // indirection costs more than one bulk copy); past it the
          // dictionary path wins (~23% at 64×, memory-bandwidth-bound).
          val dictableBytes = useDictVectors && phys == Phys.BYTES &&
            seg.encoding != Enc.EQUAL && seg.encoding != Enc.EXP_DICT &&
            (f.dataType == StringType || f.dataType == BinaryType)
          val dictableNum = useDictVectors && seg.encoding == Enc.DICT &&
            ((phys == Phys.LONG && longDictServable(f, fi)) ||
              (phys == Phys.DOUBLE &&
                (f.dataType == DoubleType || f.dataType == FloatType)))
          if (dictableNum) {
            val segBytes = new Array[Byte](seg.length.toInt)
            in.readFully(seg.offset, segBytes)
            if (phys == Phys.LONG) {
              val (dict, codes) = Codecs.decodeDictLongRaw(new ByteReader(segBytes))
              colDicts(fi) = new FlsLongDictionary(dict)
              DictLongs(dict, codes)
            } else {
              val (dict, codes) = Codecs.decodeDictDoubleRaw(new ByteReader(segBytes))
              colDicts(fi) = new FlsDoubleDictionary(dict)
              DictDoubles(dict, codes)
            }
          } else if (dictableBytes) {
            val segBytes = new Array[Byte](seg.length.toInt)
            in.readFully(seg.offset, segBytes)
            Codecs.decodeDictParts(segBytes, seg.encoding) match {
              case Some((dict, codes)) =>
                val values = new Array[Array[Byte]](dict.n)
                var i = 0
                while (i < dict.n) {
                  values(i) = java.util.Arrays.copyOfRange(
                    dict.bytes, dict.offsets(i), dict.offsets(i + 1))
                  i += 1
                }
                colDicts(fi) = new FlsBytesDictionary(values)
                DictBytes(values, codes)
              case None =>
                // non-dictionary encoding: decode the bytes ALREADY read
                // (a decodeAt here would re-read the same segment) and
                // share via the memo for any EQUAL reference to it
                val d = Codecs.decode(segBytes, seg.encoding, phys)
                memo(idx) = d
                d
            }
          } else decodeAt(idx)
        }
    }
    val nFields = readSchema.fields.length
    val rgTuples = rowGroup.nTuples
    decoded = new Array[ColData](nFields)
    val done = new Array[Boolean](nFields)
    def ensure(fi: Int): ColData = {
      if (!done(fi)) {
        val d = decodeCol(readSchema.fields(fi), fi)
        // A segment can be internally consistent yet DISAGREE with the
        // footer's row count (corrupt length field): without this
        // cross-check the batch fill crashes later with a bare
        // out-of-bounds — or, worse, a LONGER segment silently serves
        // truncated data. Unlabeled throw: decodeGroup's wrap attaches
        // file + row group.
        if (d != null && d.n != rgTuples)
          throw new IllegalStateException(
            s"column ${readSchema.fields(fi).name} decoded ${d.n} rows, " +
              s"footer says $rgTuples")
        decoded(fi) = d
        done(fi) = true
      }
      decoded(fi)
    }
    // Selection-vector filtering (FlsRowFilter): decode the FILTER
    // columns first and narrow the selection conjunct by conjunct; an
    // all-false group skips decoding every other column entirely.
    // selCount == -1 means "no selection yet" (all rows) — the first
    // evaluable conjunct writes kept indices directly (filterAll),
    // avoiding the identity-array init and its indirection.
    var selCount = -1
    var sel: Array[Int] = null
    // Delete vector first: the alive rows ARE the base selection the
    // pushed conjuncts then narrow. Binary-search the group's slice of
    // the sorted file-absolute positions.
    var dvApplied = false
    if (emitPositions != null) {
      // CDF emit mode: the diffed position set IS the base selection
      // (possibly empty for this group). dvApplied forces compaction —
      // like deletes, no residual FilterExec re-checks the emit set.
      val start = chunk.rowStarts(g)
      var lo = java.util.Arrays.binarySearch(emitPositions, start)
      if (lo < 0) lo = -lo - 1
      var hi = java.util.Arrays.binarySearch(emitPositions, start + rgTuples)
      if (hi < 0) hi = -hi - 1
      if (selScratch == null || selScratch.length < rgTuples)
        selScratch = new Array[Int](rgTuples)
      sel = selScratch
      var k = 0
      var d = lo
      while (d < hi) { sel(k) = (emitPositions(d) - start).toInt; k += 1; d += 1 }
      selCount = k
      dvApplied = true
    } else if (dvPositions != null && dvPositions.length > 0) {
      val start = chunk.rowStarts(g)
      var lo = java.util.Arrays.binarySearch(dvPositions, start)
      if (lo < 0) lo = -lo - 1
      var hi = java.util.Arrays.binarySearch(dvPositions, start + rgTuples)
      if (hi < 0) hi = -hi - 1
      if (hi > lo) {
        if (selScratch == null || selScratch.length < rgTuples)
          selScratch = new Array[Int](rgTuples)
        sel = selScratch
        var k = 0
        var i = 0
        var d = lo
        while (i < rgTuples) {
          if (d < hi && dvPositions(d) == start + i) d += 1
          else { sel(k) = i; k += 1 }
          i += 1
        }
        selCount = k
        dvApplied = true
      }
    }
    // Equality-delete residuals: decode each predicate's column(s)
    // (memo-shared with the projection) and drop matching rows from the
    // selection — mandatory like the DV (dvApplied forces compaction:
    // no FilterExec re-checks these). A composite-key predicate is the
    // AND of its legs' masks. A file lacking any leg's column stores
    // only NULLs for it — never equal to a literal — so the predicate
    // compiled non-applicable and is skipped whole. Emit mode never
    // coexists (the CDF refuses ranges containing an equality-delete
    // commit).
    if (eqExcls.length > 0 && emitPositions == null) {
      var x = 0
      while (x < eqExcls.length && selCount != 0) {
        val ex = eqExcls(x)
        // zone-map fast path: a group whose footer stats prove the
        // predicate can't match skips the mask AND its column decodes
        if (ex.applicable &&
            !graft.fls.FlsEqResidual.groupNoMatch(ex, rowGroup)) {
          val del = graft.fls.FlsEqResidual.deletedMask(ex, decodeAt)
          if (selScratch == null || selScratch.length < rgTuples)
            selScratch = new Array[Int](rgTuples)
          if (selCount < 0) {
            sel = selScratch
            var k = 0
            var i = 0
            while (i < rgTuples) {
              if (!del(i)) { sel(k) = i; k += 1 }
              i += 1
            }
            if (k < rgTuples) { selCount = k; dvApplied = true }
            else selCount = -1 // nothing deleted in this group
          } else {
            var k = 0
            var i = 0
            while (i < selCount) {
              val r = sel(i)
              if (!del(r)) { sel(k) = r; k += 1 }
              i += 1
            }
            if (k < selCount) dvApplied = true
            selCount = k
          }
        }
        x += 1
      }
    }
    if (preds.nonEmpty) {
      if (selScratch == null || selScratch.length < rgTuples)
        selScratch = new Array[Int](rgTuples)
      sel = selScratch
      // conjuncts run in adaptOrder.perm order (adaptive reordering by
      // observed cost × selectivity; exact under any order — each
      // conjunct only narrows the selection)
      var p = 0
      while (p < preds.length && selCount != 0) {
        val pi = if (adaptEnabled) adaptOrder.perm(p) else p
        val t0 = System.nanoTime()
        // decode cost charged to the conjunct that triggers it: an
        // early all-false exit skips later filter columns entirely, so
        // decode IS part of a conjunct's marginal cost in a position
        val data = ensure(preds(pi).colIdx)
        if (data != null) {
          val in = if (selCount < 0) rgTuples else selCount
          if (selCount < 0) {
            val k = preds(pi).filterAll(data, rgTuples, sel)
            if (k >= 0) selCount = k
          } else selCount = preds(pi).filter(data, sel, selCount)
          val out = if (selCount < 0) in else selCount
          adaptOrder.record(pi, System.nanoTime() - t0, in, out)
        }
        p += 1
      }
      if (adaptEnabled) adaptOrder.groupDone()
    }
    if (selCount < 0) selCount = rgTuples
    var effTuples = rgTuples
    if (selCount == 0) {
      effTuples = 0
    } else {
      var fi = 0
      while (fi < nFields) { ensure(fi); fi += 1 }
      // Compact to the survivors when the filters were selective
      // enough — or UNCONDITIONALLY when a delete vector removed rows:
      // deleted rows have no residual FilterExec to drop them later,
      // so serving the group full would resurrect them. compact()
      // gathers every shape, nested included.
      if (selCount < rgTuples &&
          (dvApplied || selCount <= rgTuples * opts.filterKeepRatio)) {
        var fj = 0
        while (fj < nFields) {
          val f = readSchema.fields(fj)
          if (decoded(fj) == null &&
              (f.name == FlsVirtual.RowNumber || f.name == FlsVirtual.MetaPos)) {
            // virtual row numbers must carry ORIGINAL positions; the
            // batch-time synthesis assumes dense rows, so materialize
            val base = chunk.rowStarts(g)
            val out = new Array[Long](selCount)
            var i = 0
            while (i < selCount) { out(i) = base + sel(i); i += 1 }
            decoded(fj) = LongData(out)
          } else if (decoded(fj) != null) {
            decoded(fj) = FlsRowFilter.compact(decoded(fj), sel, selCount)
          }
          fj += 1
        }
        effTuples = selCount
      }
    }
    // dict-id sidecars are built ONCE here, from the FINAL codes —
    // building them at decode time would waste a full-length alloc+copy
    // whenever compaction shrinks the codes afterwards
    if (effTuples > 0) {
      var fj = 0
      while (fj < nFields) {
        decoded(fj) match {
          case DictBytes(_, codes) if colDicts(fj) != null =>
            colDictIds(fj) = toIntIds(codes)
          case DictLongs(_, codes) if colDicts(fj) != null =>
            colDictIds(fj) = toIntIds(codes)
          case DictDoubles(_, codes) if colDicts(fj) != null =>
            colDictIds(fj) = toIntIds(codes)
          case _ => ()
        }
        fj += 1
      }
    }
    // only rows the scan actually withheld count as filtered — under
    // filter_keep_ratio=0 a non-empty selection is served in full and
    // the residual FilterExec does the dropping, so nothing is counted
    rowsFilteredTotal += rgTuples - effTuples
    nTuples = effTuples
    groupRowStart = chunk.rowStarts(g)
    rowPos = 0
    groupsRead += 1
  }

  override def next(): Boolean = {
    while (decoded == null || rowPos >= nTuples) {
      if (chunk == null) return false
      if (gIdx + 1 >= chunk.rowGroups.length) {
        // chunk exhausted: close its handle, move to the next file chunk
        if (in != null) { in.close(); in = null }
        cIdx += 1
        if (cIdx >= part.chunks.length) { chunk = null; return false }
        chunk = part.chunks(cIdx)
        dvPositions = loadDv(chunk)
        emitPositions = loadEmit(chunk)
        eqExcls = mkEqExcls(chunk)
        fileTypes = mkFileTypes(chunk)
        preds = FlsRowFilter.compile(rowFilters, readSchema, fileTypes, opts.sizeVirtuals)
        adaptOrder = new FlsRowFilter.AdaptiveOrder(preds.length)
        segBufs = Array.fill(chunk.fileColumns.length)(new Codecs.ReuseBufs)
        gIdx = -1
        decoded = null
      } else {
        gIdx += 1
        decodeGroup(gIdx)
      }
    }
    val len = math.min(BatchSize, nTuples - rowPos)
    var c = 0
    while (c < vectors.length) {
      vectors(c).reset()
      // A packed split reuses this vector across row groups, and
      // WritableColumnVector.reset() does NOT clear an installed
      // dictionary — a dict-decoded group followed by a plain group for
      // the same column would otherwise serve stale dictionary values
      // (FlsDictMixedGroupSpec locks this). Cleared HERE, for every
      // column shape, so no fill case can forget it.
      vectors(c).setDictionary(null)
      fill(vectors(c), readSchema.fields(c), decoded(c), rowPos, len)
      c += 1
    }
    batch.setNumRows(len)
    rowPos += len
    rowsReadTotal += len
    true
  }

  override def get(): ColumnarBatch = batch

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = "rowGroupsRead"
        override def value(): Long = groupsRead
      },
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = "flsRowsRead"
        override def value(): Long = rowsReadTotal
      },
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = "flsRowsFiltered"
        override def value(): Long = rowsFilteredTotal
      })

  override def close(): Unit = if (in != null) { in.close(); in = null }

  private def fieldIdx(field: StructField): Int =
    readSchema.fieldIndex(field.name)

  private def toIntIds(codes: Array[Long]): Array[Int] = {
    val ids = new Array[Int](codes.length)
    var i = 0
    while (i < codes.length) { ids(i) = codes(i).toInt; i += 1 }
    ids
  }

  /** Can a LONG-domain dict group be served through a dictionary vector
    * for this read type? Mirrors the eager `fill` cases that are pure
    * per-value casts (OnHeapColumnVector routes byte/short/int through
    * decodeToInt and long/timestamp through decodeToLong). Excluded:
    * BooleanType (getBoolean is not dictionary-aware), u64→DECIMAL(20,0)
    * reinterpretation and cross-file decimal rescale (both transform
    * values, not just cast them). */
  private def longDictServable(f: StructField, fi: Int): Boolean = f.dataType match {
    case LongType | TimestampType | TimestampNTZType | IntegerType | DateType |
         ShortType | ByteType => true
    case d: DecimalType =>
      d.precision <= 18 &&
        fileTypes(fi).forall(ft => ft.tag != TypeTag.UINT64 && ft.scale == d.scale)
    case _ => false
  }

  /** Fill a flattened element/entry stream [base, base+total) into an
    * array/map child vector — shared by LIST values and MAP keys and
    * values (all three store the same physical scalar streams). */
  private def fillElems(
      child: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      data: ColData,
      et: DataType,
      base: Int,
      total: Int,
      widenFloat: Boolean): Unit = (data, et) match {
    case (LongData(bits), FloatType) =>
      // float elements ride as raw 32-bit patterns (Format.elemPhysOf)
      var m = 0
      while (m < total) {
        child.putFloat(m, java.lang.Float.intBitsToFloat(bits(base + m).toInt))
        m += 1
      }
    case (DoubleData(vs), DoubleType) =>
      child.putDoubles(0, total, vs, base)
    case (LongData(bits), DoubleType) if widenFloat =>
      var m = 0
      while (m < total) {
        child.putDouble(m,
          java.lang.Float.intBitsToFloat(bits(base + m).toInt).toDouble)
        m += 1
      }
    case (LongData(vs), LongType | TimestampType | TimestampNTZType) =>
      child.putLongs(0, total, vs, base)
    case (LongData(vs), IntegerType | DateType) =>
      var m = 0
      while (m < total) { child.putInt(m, vs(base + m).toInt); m += 1 }
    case (LongData(vs), ShortType) =>
      var m = 0
      while (m < total) { child.putShort(m, vs(base + m).toShort); m += 1 }
    case (LongData(vs), ByteType) =>
      var m = 0
      while (m < total) { child.putByte(m, vs(base + m).toByte); m += 1 }
    case (LongData(vs), BooleanType) =>
      var m = 0
      while (m < total) { child.putBoolean(m, vs(base + m) != 0L); m += 1 }
    case (b: BytesData, StringType | BinaryType) =>
      if (total > 0) {
        val s0 = b.offsets(base)
        val byteTotal = b.offsets(base + total) - s0
        val grandChild = child.arrayData()
        grandChild.reserve(byteTotal)
        grandChild.putBytes(0, byteTotal, b.bytes, s0)
        var m = 0
        while (m < total) {
          child.putArray(m, b.offsets(base + m) - s0,
            b.offsets(base + m + 1) - b.offsets(base + m))
          m += 1
        }
      }
    case (d, t) =>
      throw new IllegalStateException(
        s"fls: cannot fill element stream <$t> from ${d.getClass.getSimpleName}")
  }

  private def fill(
      vec: OnHeapColumnVector,
      field: StructField,
      data: ColData,
      start: Int,
      len: Int): Unit = {
    (data, field.dataType) match {
      case (null, dt) if chunk.partitionValues.contains(field.name) =>
        // hive partition column: one value per file, parsed from the
        // path by FlsPartitioning and filled as a constant vector
        val raw = chunk.partitionValues(field.name)
        if (raw == null) vec.putNulls(0, len)
        else dt match {
          case IntegerType | DateType =>
            val v = graft.fls.connector.FlsPartitioning.castRaw(raw, dt)
              .asInstanceOf[Int]
            var i = 0
            while (i < len) { vec.putInt(i, v); i += 1 }
          case LongType =>
            val v = raw.trim.toLong
            var i = 0
            while (i < len) { vec.putLong(i, v); i += 1 }
          case ShortType =>
            val v = raw.trim.toShort
            var i = 0
            while (i < len) { vec.putShort(i, v); i += 1 }
          case ByteType =>
            val v = raw.trim.toByte
            var i = 0
            while (i < len) { vec.putByte(i, v); i += 1 }
          case BooleanType =>
            val v = raw.trim.toBoolean
            var i = 0
            while (i < len) { vec.putBoolean(i, v); i += 1 }
          case StringType =>
            val b = raw.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            var i = 0
            while (i < len) { vec.putByteArray(i, b, 0, b.length); i += 1 }
          case other =>
            throw new IllegalStateException(s"fls: partition column type $other")
        }
      case (null, StringType) if chunk.cdf.isDefined &&
          field.name == FlsCdf.ChangeType =>
        // change-data-feed tag: one constant per chunk, like a
        // partition value ('insert' | 'delete')
        val b = chunk.cdf.get.changeType
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        while (i < len) { vec.putByteArray(i, b, 0, b.length); i += 1 }
      case (null, LongType) if chunk.cdf.isDefined &&
          field.name == FlsCdf.CommitVersion =>
        val v = chunk.cdf.get.commitVersion
        var i = 0
        while (i < len) { vec.putLong(i, v); i += 1 }
      case (null, LongType) if field.name == FlsVirtual.FileIndex =>
        var i = 0
        while (i < len) { vec.putLong(i, chunk.fileIndex.toLong); i += 1 }
      case (null, LongType) if field.name == FlsVirtual.RowNumber ||
          field.name == FlsVirtual.MetaPos =>
        val base = groupRowStart + start
        var i = 0
        while (i < len) { vec.putLong(i, base + i); i += 1 }
      case (null, StringType) if field.name == FlsVirtual.MetaFile =>
        val b = chunk.file.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        while (i < len) { vec.putByteArray(i, b, 0, b.length); i += 1 }
      case (null, _) =>
        // column absent from this file: a frozen exists-DEFAULT (added
        // via ALTER ... ADD COLUMN d T DEFAULT x) serves as a constant
        // vector; otherwise union_by_name semantics → NULLs
        existsDefault(field) match {
          case Some(v) => FlsDefaults.fill(vec, field.dataType, v, len)
          case None => vec.putNulls(0, len)
        }
      case (LongData(vs), d: DecimalType)
          if fileTypes(fieldIdx(field)).exists(_.tag == TypeTag.UINT64) =>
        // u64 read fallback: the stored long is the RAW 64-bit pattern;
        // reinterpret unsigned into DECIMAL(20,0)
        val two64 = java.math.BigInteger.ONE.shiftLeft(64)
        var i = 0
        while (i < len) {
          val v = vs(start + i)
          val bd = new java.math.BigDecimal(
            if (v >= 0) java.math.BigInteger.valueOf(v)
            else java.math.BigInteger.valueOf(v).add(two64))
          vec.putDecimal(i,
            org.apache.spark.sql.types.Decimal(bd, d.precision, d.scale), d.precision)
          i += 1
        }
      case (LongData(vs), d: DecimalType)
          if fileTypes(fieldIdx(field)).exists(ft => ft.scale != d.scale) =>
        // cross-file decimal promotion: rescale unscaled values
        val ft = fileTypes(fieldIdx(field)).get
        var factor = 1L
        var k = ft.scale
        while (k < d.scale) { factor *= 10; k += 1 }
        if (d.precision <= 18) {
          var i = 0
          while (i < len) {
            val unscaled = vs(start + i) * factor
            if (d.precision <= 9) vec.putInt(i, unscaled.toInt)
            else vec.putLong(i, unscaled)
            i += 1
          }
        } else {
          var i = 0
          while (i < len) {
            vec.putDecimal(i, org.apache.spark.sql.types.Decimal(
              new java.math.BigDecimal(
                java.math.BigInteger.valueOf(vs(start + i)), ft.scale)
                .setScale(d.scale), d.precision, d.scale), d.precision)
            i += 1
          }
        }
      case (sd: StructData, st: StructType) =>
        // parent vector reports no nulls (format stores none); children
        // fill recursively — vec.reset() already reset them
        var ci = 0
        while (ci < st.fields.length) {
          fill(vec.getChild(ci).asInstanceOf[OnHeapColumnVector],
            st.fields(ci), sd.children(ci), start, len)
          ci += 1
        }
      case (LongData(vs), LongType | TimestampType | TimestampNTZType) =>
        vec.putLongs(0, len, vs, start)
      case (LongData(vs), IntegerType | DateType) =>
        var i = 0
        while (i < len) { vec.putInt(i, vs(start + i).toInt); i += 1 }
      case (LongData(vs), ShortType) =>
        var i = 0
        while (i < len) { vec.putShort(i, vs(start + i).toShort); i += 1 }
      case (LongData(vs), ByteType) =>
        var i = 0
        while (i < len) { vec.putByte(i, vs(start + i).toByte); i += 1 }
      case (LongData(vs), BooleanType) =>
        var i = 0
        while (i < len) { vec.putBoolean(i, vs(start + i) != 0L); i += 1 }
      case (LongData(vs), d: DecimalType) if d.precision <= 9 =>
        var i = 0
        while (i < len) { vec.putInt(i, vs(start + i).toInt); i += 1 }
      case (LongData(vs), d: DecimalType) if d.precision <= 18 =>
        vec.putLongs(0, len, vs, start)
      case (DoubleData(vs), DoubleType) =>
        vec.putDoubles(0, len, vs, start)
      case (DoubleData(vs), FloatType) =>
        var i = 0
        while (i < len) { vec.putFloat(i, vs(start + i).toFloat); i += 1 }
      case (b: BytesData, StringType | BinaryType) =>
        // BytesData is contiguous: ship the batch slice's whole byte
        // range into the vector's child with ONE copy, then write only
        // per-row (offset, length) pairs — putByteArray would memcpy
        // per row (measured on string-heavy 64× scans)
        val base = b.offsets(start)
        val total = b.offsets(start + len) - base
        val child = vec.arrayData()
        child.reserve(total)
        child.putBytes(0, total, b.bytes, base)
        var i = 0
        while (i < len) {
          vec.putArray(i, b.offsets(start + i) - base,
            b.offsets(start + i + 1) - b.offsets(start + i))
          i += 1
        }
      case (_: DictBytes | _: DictLongs | _: DictDoubles, _) =>
        // serve through the shared dictionary built at decode time
        // (decodeCol gates which (physical, read-type) pairs qualify)
        val fi = fieldIdx(field)
        vec.setDictionary(colDicts(fi))
        val ids = vec.reserveDictionaryIds(len)
        ids.putInts(0, len, colDictIds(fi), start)
      case (a: ArrayColData, ArrayType(et, _)) =>
        // batch slice [start, start+len): ship the slice's element range
        // into the vector's child and record per-row (offset, length)
        // pairs relative to the child's origin
        val base = a.offsets(start)
        val total = a.offsets(start + len) - base
        val child = vec.arrayData() // reset by vec.reset() already
        child.reserve(total)
        // file stored array<float> (raw 32-bit patterns) but the read
        // schema widened elements to double — mirror the scalar
        // float-as-DoubleData transparency
        val widenFloat = et == DoubleType &&
          fileTypes(fieldIdx(field)).exists(ft =>
            ft.tag == TypeTag.LIST && ft.elem.tag == TypeTag.FLOAT)
        fillElems(child, a.values, et, base, total, widenFloat)
        var i = 0
        while (i < len) {
          vec.putArray(i, a.offsets(start + i) - base,
            a.offsets(start + i + 1) - a.offsets(start + i))
          i += 1
        }
      case (m: MapColData, MapType(kt, vt, _)) =>
        // maps use the same offsets mechanism with TWO children:
        // getChild(0) = keys, getChild(1) = values
        val base = m.offsets(start)
        val total = m.offsets(start + len) - base
        val keys = vec.getChild(0)
        val values = vec.getChild(1)
        keys.reserve(total)
        values.reserve(total)
        fillElems(keys, m.keys, kt, base, total, widenFloat = false)
        fillElems(values, m.values, vt, base, total, widenFloat = false)
        var i = 0
        while (i < len) {
          vec.putArray(i, m.offsets(start + i) - base,
            m.offsets(start + i + 1) - m.offsets(start + i))
          i += 1
        }
      case (b: BytesData, d: DecimalType) =>
        // bytes-backed decimals carry the FILE's scale; rescale if the
        // merged schema promoted it
        val fileScale = fileTypes(fieldIdx(field)).map(_.scale).getOrElse(d.scale)
        var i = 0
        while (i < len) {
          val s = b.offsets(start + i)
          val unscaled = new java.math.BigInteger(
            java.util.Arrays.copyOfRange(b.bytes, s, b.offsets(start + i + 1)))
          vec.putDecimal(i,
            org.apache.spark.sql.types.Decimal(
              new java.math.BigDecimal(unscaled, fileScale).setScale(d.scale),
              d.precision, d.scale),
            d.precision)
          i += 1
        }
      case (d, t) =>
        throw new IllegalStateException(s"fls: cannot fill $t from ${d.getClass.getSimpleName}")
    }
  }
}

/** Bytes dictionary served to Spark's vectorized reader: decode returns
  * the pre-split value array DIRECTLY (UTF8String.fromBytes wraps it
  * without copying), so a scan of a dict-encoded string column does no
  * per-row byte copying at all. */
private[connector] final class FlsBytesDictionary(values: Array[Array[Byte]])
  extends org.apache.spark.sql.execution.vectorized.Dictionary {
  override def decodeToBinary(id: Int): Array[Byte] = values(id)
  override def decodeToInt(id: Int): Int =
    throw new UnsupportedOperationException("bytes dictionary")
  override def decodeToLong(id: Int): Long =
    throw new UnsupportedOperationException("bytes dictionary")
  override def decodeToFloat(id: Int): Float =
    throw new UnsupportedOperationException("bytes dictionary")
  override def decodeToDouble(id: Int): Double =
    throw new UnsupportedOperationException("bytes dictionary")
}

/** Long-domain dictionary (bigint/timestamp/int/date/short/byte and
  * unscaled decimals ≤18 digits): byte/short/int vectors route through
  * decodeToInt, long-backed ones through decodeToLong. */
private[connector] final class FlsLongDictionary(values: Array[Long])
  extends org.apache.spark.sql.execution.vectorized.Dictionary {
  override def decodeToInt(id: Int): Int = values(id).toInt
  override def decodeToLong(id: Int): Long = values(id)
  override def decodeToBinary(id: Int): Array[Byte] =
    throw new UnsupportedOperationException("long dictionary")
  override def decodeToFloat(id: Int): Float =
    throw new UnsupportedOperationException("long dictionary")
  override def decodeToDouble(id: Int): Double =
    throw new UnsupportedOperationException("long dictionary")
}

private[connector] final class FlsDoubleDictionary(values: Array[Double])
  extends org.apache.spark.sql.execution.vectorized.Dictionary {
  override def decodeToDouble(id: Int): Double = values(id)
  override def decodeToFloat(id: Int): Float = values(id).toFloat
  override def decodeToBinary(id: Int): Array[Byte] =
    throw new UnsupportedOperationException("double dictionary")
  override def decodeToInt(id: Int): Int =
    throw new UnsupportedOperationException("double dictionary")
  override def decodeToLong(id: Int): Long =
    throw new UnsupportedOperationException("double dictionary")
}

object FlsVirtual {
  /** Virtual column names (≙ reference's read_fls named columns,
    * /root/reference/src/read_fls.cpp:13-18). Enabled per-read via
    * options of the same name. */
  val RowNumber = "file_row_number"
  val FileIndex = "file_index"
  /** METADATA columns (SupportsMetadataColumns — always available, no
    * option needed): the file's absolute path and the file-absolute
    * row position. Together they are the ROW ID the delta (merge-on-
    * read) row-level operations key deletes/updates by. */
  val MetaFile = "_fls_file"
  val MetaPos = "_fls_pos"

  /** `array_size=v,w` surfaces virtual `v_size`/`w_size` BIGINT columns
    * carrying each row's element count. Spark cannot push `size(col)`
    * predicates to a source (not in the V2 predicate vocabulary), but a
    * filter on `v_size` is an ordinary column filter — it pushes, and
    * the LIST segments' element-count footer stats zone-map-prune row
    * groups WITHOUT touching data (degenerate/odd-dimension screening
    * over an embedding corpus becomes footer-only). */
  val ArraySizeOption = "array_size"
  val SizeSuffix = "_size"

  /** virtual name → base array column name, from the read options. */
  def sizeVirtuals(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): Map[String, String] =
    Option(options.get(ArraySizeOption)) match {
      case None => Map.empty
      case Some(s) =>
        s.split(",").map(_.trim).filter(_.nonEmpty).map(c => (c + SizeSuffix, c)).toMap
    }
}

/** The reader options every fls scan honours, parsed once per scan.
  * Batch, micro-batch and change-feed reads all build their
  * [[FlsReaderFactory]] from this one value.
  *
  * `stringDictionary`: zero-copy dictionary vectors (string AND
  * numeric/timestamp dict groups). Some(x) = forced by the
  * `string_dictionary` option; None = SIZE-ADAPTIVE — measured at sf0.1
  * the eager gather wins (~19%: cache-resident data re-fetched through
  * the dict indirection costs more than one bulk copy) while at 64× the
  * dictionary path wins ~23% (memory-bandwidth-bound scans stop
  * materializing n values per split). The auto rule keys on the SPLIT'S
  * ROW COUNT — the quantity that decides whether the scan streams past
  * cache — and serves dictionary vectors once it reaches
  * `stringDictAutoRows` (`string_dictionary_auto_rows`).
  *
  * `sizeVirtuals`: virtual `<col>_size` name → base LIST column
  * (`array_size`, see [[FlsVirtual]]).
  *
  * `filterKeepRatio` (`filter_keep_ratio`): compact a group only when at
  * most this fraction survives the selection vector. DEFAULT 0 = never
  * compact: measured at 64× on local[32], the gather pass loses to
  * codegen's filter over full batches at every selectivity tried (10%
  * keep, 2-col: 0.24 vs 0.17 s; 7-col: 0.27 vs 0.24 s) — a
  * memory-bandwidth-rich single node refilters 2048-row batches faster
  * than it gathers them. The EMPTY-group skip stays on regardless (an
  * all-false group skips decoding every non-filter column). On
  * storage-bound clusters or with expensive downstream operators the
  * trade can flip: set it (e.g. 0.5) to enable compaction. */
final case class FlsReadOptions(
    stringDictionary: Option[Boolean] = None,
    sizeVirtuals: Map[String, String] = Map.empty,
    filterKeepRatio: Double = 0.0,
    stringDictAutoRows: Long = 512L * 1024)

object FlsReadOptions {
  def parse(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): FlsReadOptions =
    FlsReadOptions(
      if (options.containsKey("string_dictionary"))
        Some(options.getBoolean("string_dictionary", false)) else None,
      FlsVirtual.sizeVirtuals(options),
      options.getDouble("filter_keep_ratio", 0.0),
      options.getLong("string_dictionary_auto_rows", 512L * 1024))
}
