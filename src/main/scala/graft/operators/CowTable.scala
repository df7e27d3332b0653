package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._

/** Copy-on-write table with manifest-pinned snapshot versions and a
  * MERGE INTO that rewrites ONLY the files containing touched keys —
  * the lakehouse primitive (Delta/Iceberg's core idea, built here from
  * plain parquet + a manifest, no table-format dependency).
  *
  * Layout:
  * {{{
  *   <table>/data/v<N>-<uniq>/part-*.parquet -- files written by version N
  *   <table>/dv/v<N>-<uniq>/part-*.parquet   -- deletion vectors of version N
  *   <table>/manifest/v<N>.manifest          -- commit marker + file list
  *   <table>/manifest/files/v<N>-<uniq>/     -- entries parquet (stats)
  * }}}
  * A version's manifest lists the files that make up that snapshot —
  * typically a mix of files written by older versions (untouched by
  * later merges) and the current version's rewrites. Readers resolve
  * the highest complete manifest; old manifests stay readable (time
  * travel), and replaced data files are never deleted by a merge.
  *
  * The manifest has ONE format (`graft-cow-manifest-v3`): a header,
  * the table schema (JSON), a pointer to a PARQUET entries sidecar and
  * its entry count, the optional partition/bloom/bucket/dropped-column
  * lines, one counted `dv:<runs>:<path>` line per deletion vector, and
  * a trailing `end` marker so an EMPTY snapshot ("delete everything")
  * is a valid, distinguishable-from-half-written commit. Data-file
  * paths are NOT in the text: the entries parquet is the sole data-file
  * list. It carries one row per file — kind, path, bytes, row count,
  * and a per-column min/max/null-count stats JSON — and is what
  * [[readWhere]]'s data skipping, [[tableChanges]]'s file-set algebra,
  * and [[vacuum]]'s liveness anti-join run on AS DATAFRAMES: at 10⁶
  * files the planning state is a columnar scan, not driver text
  * parsing. A complete manifest in any other shape is refused loudly
  * ([[parseManifest]]).
  *
  * Per-file statistics are collected at commit time — the moral
  * equivalent of Delta's writer-side stats collection. On a small
  * table they fold from the just-written files' parquet footers on the
  * driver; otherwise (or when a footer cannot prove a value) one
  * column-pruned aggregate over the just-written (delta-sized, page-
  * cached) files, grouped by `_metadata.file_path`. Carried files
  * keep their stats entries verbatim across merges/compactions, so a
  * long-lived table never re-scans old data to keep skipping working.
  *
  * Commit protocol (optimistic concurrency): the committer atomically
  * CREATES `v<N>.manifest` (create-exclusive — the loser of a race gets
  * FileAlreadyExistsException and must retry on the new version), then
  * writes the content through a temp file + atomic rename. A reader that
  * lands in the tiny window between create and rename sees an empty
  * manifest and falls back to the previous version ([[latestManifest]]
  * skips empty claims).
  *
  * MERGE INTO semantics (update-all flavor): source rows REPLACE
  * matched target rows' non-key columns; a matched source row with
  * `deleteCond` true deletes the target row; unmatched source rows are
  * inserted when `insert = true`. Source keys must be unique — multiple
  * matches for one target row are refused (the SQL MERGE error) — and
  * source column types must match the target's (a silently-coerced
  * merge would commit mixed-schema files).
  *
  * The merge flavors ([[mergeInto]], [[upsertMor]], [[mergeIntoHybrid]])
  * are three rules over one engine ([[mergeRows]]): one discovery, one
  * write, one commit; the rule only decides which matched files
  * rewrite and which keep their bytes behind a deletion vector.
  *
  * 100 TB shape: touched-file discovery is ONE scan of the target with
  * the (broadcast, delta-sized) source key set semi-joined against
  * `_metadata.file_path` — on a table laid out by key (range partition,
  * Z-order, or compaction by key), a delta that touches few key ranges
  * rewrites few files while every other file is carried by reference
  * into the new manifest, never read or rewritten. The merge join runs
  * only over the touched files' rows ∪ source.
  *
  * Source layout: the engine is four seams mixed into this object —
  * [[CowCommit]] (manifest, caches, the commit protocol and every
  * function that claims a version), [[CowPlanning]] (pruning,
  * count/min/max, snapshot reads, the DV reader), [[CowRowOps]]
  * (`deleteWhere` and the merge engine) and [[CowMaintenance]]
  * (compaction, vacuum, retention, the change feed); the oracle-checked
  * gates live in [[CowGates]]. The data types stay here: a case class
  * nested in a trait is an inner class, and Spark cannot derive its
  * encoder. The object is `Serializable` because closures written in a
  * seam capture the module, which Scala ships as a proxy.
  */
object CowTable extends CowCommit with CowPlanning
    with CowRowOps with CowMaintenance with Serializable {

  /** Per-column bloom declaration: sketches are sized for
    * `itemsPerFile` distinct values at `fpp` — a file holding fewer
    * items probes BELOW the declared rate (oversizing only tightens
    * it), one holding more degrades gracefully. The per-file sizing is
    * fixed at declaration (Delta's bloom index makes the same call):
    * per-group dynamic sizing would make sketch bytes depend on
    * execution order, and a compaction that grows files past the
    * declared capacity should re-declare rather than silently carry a
    * looser filter. */
  case class BloomColSpec(fpp: Double = 0.01, itemsPerFile: Long = 1L << 20) {
    require(fpp > 0 && fpp < 1, s"bloom fpp $fpp out of (0,1)")
    require(itemsPerFile > 0, s"bloom itemsPerFile $itemsPerFile <= 0")
  }

  /** One file of a snapshot. `stats` is a JSON object
    * `{"col":{"min":…,"max":…,"nulls":n},…}` for the stats-eligible
    * columns, absent for deletion vectors and for data entries
    * registered without stats. `bytes` is -1 when unknown (deletion
    * vectors). `part` is a JSON object of partition-column →
    * value for files of a partitioned table that are single-valued on
    * the partition columns (NULL otherwise — a compaction that merged
    * across partitions simply loses exact-partition pruning for the
    * merged file, never soundness). */
  case class FileEntry(kind: String, path: String, bytes: Long,
      numRows: Option[Long], stats: Option[String],
      part: Option[String] = None)

  /** `files` are the data files of the snapshot; `dvs` are its deletion
    * vector files — parquet of range-encoded (file_path, start, len)
    * deleted-row runs ([[dvSchema]]) a reader must filter away.
    * `schemaJson` is the data schema (empty snapshots stay readable),
    * `entriesRel` the entries-parquet pointer (relative to the
    * manifest dir; stats live there), `entryCount` its row count
    * (gates the small-sidecar driver cache without reading the
    * sidecar). `dvRunCounts` maps each DV path to its total run count,
    * RECORDED AT COMMIT TIME in the `dv:<runs>:<path>` line — the
    * broadcast-vs-anti-join decision on the read path is metadata-only,
    * never a per-read footer walk over every sidecar a MOR-heavy table
    * accumulated between maintenance passes. */
  case class Manifest(version: Int, table: String, dvs: Seq[String],
      schemaJson: String, entriesRel: String, entryCount: Long,
      partitionCols: Seq[String] = Nil,
      dvRunCounts: Map[String, Long] = Map.empty,
      bloomCols: Map[String, BloomColSpec] = Map.empty,
      bloomRels: Seq[String] = Nil,
      bucketSpec: Option[(String, Int)] = None,
      droppedNames: Set[String] = Set.empty) {
    @transient lazy val schema: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]

    /** The snapshot's data-file paths (normalized). The manifest
      * carries NO file lines — first touch LOADS the list from the
      * entries sidecar (one Spark collect, counted by
      * [[CowTable.driverManifestFileListLoads]] so the planning-scale
      * spec can pin which paths stay list-free). Planning, commit, and
      * selective-read paths use [[nData]]/[[dataNonEmpty]] and the
      * sidecar DataFrame instead; the loader fires only where a driver
      * file list is GENUINELY needed (full-table scan planning, rare
      * race-rebase validation). Memoized. Lifetime contract: the list
      * is served by this VERSION's sidecar, so a manifest handle held
      * across a vacuum that drops the version can no longer produce it
      * — the same rule as time travel (a vacuumed version is not
      * readable); materialize before vacuuming if the old list is
      * needed. */
    @transient lazy val files: Seq[String] = {
      CowTable.driverManifestFileListLoads.incrementAndGet()
      CowTable.sidecarDataPaths(table, entriesRel)
    }

    /** Data-file count WITHOUT materializing the list: entry count
      * minus the dv rows (one per dv line, by construction). */
    def nData: Long = entryCount - dvs.size

    def dataNonEmpty: Boolean = nData > 0L
  }

  /** One record of [[readParquetDriver]]. A NULL optional field reads
    * as None; a NULL mandatory field is corruption — a defaulted value
    * (an empty path) would look real to downstream planning — so the
    * `need` getters fail loudly instead. */
  private[operators] final class DriverRecord(file: String,
      g: org.apache.parquet.example.data.Group) {
    def str(n: String): Option[String] =
      if (g.getFieldRepetitionCount(n) == 0) None else Some(g.getString(n, 0))
    def long(n: String): Option[Long] =
      if (g.getFieldRepetitionCount(n) == 0) None else Some(g.getLong(n, 0))
    def needStr(n: String): String = str(n).getOrElse(missing(n))
    def needLong(n: String): Long = long(n).getOrElse(missing(n))
    private def missing(n: String): Nothing = throw new IllegalStateException(
      s"parquet file $file: row missing required field '$n'")
  }

  /** What ONE footer read proves about a just-written data file: the
    * path and size its [[statsEntriesDF]] row would carry (`path` is
    * the normalized qualified URI `_metadata.file_path` yields), its row
    * count, the stats columns of its own schema (the scan's selection)
    * and, per stats column, the folded (min, max, nulls) as catalyst
    * values — None when the footer cannot prove a value the scan would
    * compute (see [[footerColumnStats]]). */
  private[operators] final case class FooterFacts(path: String, bytes: Long,
      numRows: Long, statsFields: Seq[StructField],
      stats: Option[Seq[(Any, Any, Long)]])

  /** File classes + counts behind [[countWhere]], exposed so specs and
    * the gate can pin how much was METADATA-answered. `scannedRows` is
    * rows read from partial files (post-filter matches). */
  case class CountBreakdown(total: Long, fullFiles: Int, partialFiles: Int,
      prunedFiles: Int, metadataRows: Long, scannedRows: Long)

  /** File classes behind [[minWhere]]/[[maxWhere]]. `metaFiles`
    * answered from stats alone; `scannedFiles` were read;
    * `boundSkippedFiles` were kept by the predicate but provably cannot
    * move the extremum past the metadata candidate, so they were never
    * read either. */
  case class MinMaxBreakdown(value: Option[Any], metaFiles: Int,
      scannedFiles: Int, boundSkippedFiles: Int, prunedFiles: Int)

  /** What row-group planning decided: how many groups the DV'd files
    * hold, how many are fully deleted (never scanned), and how many
    * files have at least one. `liveRows` is the exact number of rows
    * the ranged scan will surface from affected files. */
  case class RowGroupReport(totalGroups: Int, deadGroups: Int,
      affectedFiles: Int, liveRows: Long)

  private[operators] case class GroupInfo(path: String, idx: Int,
      startRow: Long, nRows: Long, startByte: Long, nBytes: Long)

  /** How [[mergeRows]] treats the target files the source keys match:
    * rewrite them, delete their matched rows by deletion vector, or
    * choose per file by match density. */
  private[operators] sealed trait MergeRule

  /** [[mergeInto]]: every matched file group-rewrites; a matched source
    * row with `deleteCond` true deletes its target row, and unmatched
    * source rows insert only with `insert`. Discovery reads the
    * candidates RAW: a file whose only matching rows are already
    * deleted rewrites too (its DVs materialize a version early —
    * conservative, never wrong), and the rewrite applies DVs anyway, so
    * a DV-applied discovery would only add the packed-DV broadcast to
    * every merge. Duplicate live target keys all take the update. */
  private[operators] case class RewriteMatched(deleteCond: Option[Column],
      insert: Boolean) extends MergeRule

  /** [[upsertMor]]: nothing rewrites; matched LIVE rows die by deletion
    * vector and every source row appends (one postimage per key, even
    * over duplicate target keys). NULL source keys are refused. */
  private[operators] case class DvMatched(preserveMissing: Boolean,
      stagedData: Seq[String]) extends MergeRule

  /** [[mergeIntoHybrid]]: files whose matched live rows reach
    * `denseFraction` of their row count rewrite, the rest take a DV
    * ([[denseSplit]]); a source key matching two live rows is refused. */
  private[operators] case class ByDensity(denseFraction: Double) extends MergeRule
}
