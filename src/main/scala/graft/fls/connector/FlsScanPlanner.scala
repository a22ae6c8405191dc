package graft.fls.connector

import scala.collection.mutable

import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.DataType

import graft.fls.Format._

/** One prunable/packable unit: a single row group of a single file. */
case class FlsRgUnit(
    file: String,
    rg: RowGroupDesc,
    rowStart: Long,
    fileIdx: Int,
    pvals: Map[String, String],
    cols: Array[ColumnDesc],
    dv: Option[String] = None,
    cdf: Option[FlsCdfChunkSpec] = None,
    eq: Seq[String] = Nil)

/** One file offered to [[FlsScanPlanner]]: its footer, its raw hive
  * partition values (`partRaw(i)` belongs to `partKeys(i)`;
  * [[FlsPartitioning.AbsentRaw]] where the path lacks a key), its
  * delete vector, its equality-delete residuals and, for change-feed
  * reads, the CDF context of its rows. */
final case class FlsPlanFile(
    file: String,
    table: TableDesc,
    partKeys: Seq[String] = Nil,
    partRaw: Array[String] = Array.empty,
    dv: Option[String] = None,
    eq: Seq[String] = Nil,
    cdf: Option[FlsCdfChunkSpec] = None)

object FlsPlanFile {
  /** A listed file under a discovered partition layout. */
  def apply(e: graft.fls.FlsFooters.Entry, disc: FlsPartitioning.Discovery): FlsPlanFile = {
    val raw = disc.byFile.get(e.file.toString)
    FlsPlanFile(e.file.toString, e.table, if (raw.isEmpty) Nil else disc.keys,
      raw.getOrElse(Array.empty), e.dv, e.eq)
  }
}

/** THE scan planner: (files, pushed filters) → row-group units. Batch
  * ([[FlsScan]]), micro-batch ([[FlsMicroBatchStream]]) and change-feed
  * ([[FlsCdf.planUnits]], batch and stream) reads all plan here, so
  * partition pruning, zone-map pruning and `file_row_number` seeding
  * cannot drift between them. Zone-map pruning happens once, at
  * planning time — the planner-side equivalent of the reference's
  * lazily-built skip list (reference
  * `src/reader/row_group_filter.cpp:62-73`; SURVEY.md §3.1 step 4). What runs on the units afterwards (TopN,
  * limit, storage-partitioned grouping, [[FlsSplitPacking]]) is the
  * caller's. */
object FlsScanPlanner {

  /** Units of every row group that may match `filters`, in file order;
    * `fileIdx` is the file's position in `files`.
    *
    * `wholeFile` is the row-level-operation mode: every pruning decision
    * collapses to FILE granularity — a file whose ANY row group may
    * match is planned WHOLE, because a group-based REPLACE writes back
    * exactly what the scan returns: dropping an innocent row would
    * delete it from the table. */
  def plan(
      files: Seq[FlsPlanFile],
      filters: Array[Filter],
      partTypes: Map[String, DataType],
      sizeVirtuals: Map[String, String],
      wholeFile: Boolean = false): Seq[FlsRgUnit] = {
    val units = mutable.ArrayBuffer[FlsRgUnit]()
    files.zipWithIndex.foreach { case (f, fileIdx) =>
      // partition pruning (sound: a file is only dropped when some filter
      // is provably false on its partition values) — at 100 TB the
      // difference between touching one `dt=` directory and all of them
      if (FlsPartitioning.mayMatch(filters, partTypes, f.partKeys, f.partRaw)) {
        val t = f.table
        val nameToIdx = t.columns.map(_.name).zipWithIndex.toMap
        val starts = t.rowGroups.scanLeft(0L)(_ + _.nTuples)
        def may(i: Int): Boolean = FlsZoneMap.mayMatch(t.rowGroups(i), nameToIdx,
          t.columns, filters, starts(i), sizeVirtuals)
        val groups = t.rowGroups.indices
        val kept =
          if (!wholeFile) groups.filter(may)
          else if (groups.exists(may)) groups
          else Nil
        val pvals = f.partKeys.zip(f.partRaw)
          .filterNot(_._2 == FlsPartitioning.AbsentRaw).toMap
        kept.foreach { i =>
          units += FlsRgUnit(f.file, t.rowGroups(i), starts(i), fileIdx, pvals,
            t.columns, f.dv, f.cdf, f.eq)
        }
      }
    }
    units.toSeq
  }
}
