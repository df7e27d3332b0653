package graft.plans

import java.util.OptionalLong

import org.apache.spark.sql.{Column => SqlColumn, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.{ScanBridge, WriteBridge}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.CowTable

/** The CoW lakehouse as a REAL DSv2 table — the surface that makes
  * `MERGE INTO` / `UPDATE` / `DELETE FROM` / `INSERT INTO` SQL
  * *statements* (not just `CALL` procedures) work against a graft CoW
  * table through Spark's own row-level-operation machinery:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
  *   MERGE INTO graft.`/path/to/table` t USING updates s
  *     ON t.id = s.id
  *     WHEN MATCHED AND s.kill THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *
  *   DELETE FROM graft.`/path/to/table` WHERE id % 5 = 2
  *   SELECT * FROM graft.`/path/to/table` VERSION AS OF 3
  * }}}
  *
  * Execution model (all public Spark extension points):
  *  - **Reads** are a DSv2 `Batch` whose input partitions are the
  *    manifest's data files after per-file stats + partition-tuple
  *    pruning of the pushed-down filters ([[CowTable.pruneDataFiles]] —
  *    filters prune FILES only and are all returned as residual, so row
  *    semantics never depend on prune soundness). Executors read through
  *    the same `ParquetFileFormat` closure `FileScanRDD` ships
  *    ([[ScanBridge.fileReaderWithRowIndex]]) with the file-global row
  *    index requested, and apply the snapshot's deletion vectors
  *    positionally — a sorted-array membership test per row, no join.
  *  - **Group-based copy-on-write** row-level operations: the rewrite
  *    scan reports `_file` as its runtime-filterable attribute, so
  *    Spark's `RowLevelOperationRuntimeGroupFiltering` narrows the
  *    rewrite to the files that actually contain matches (a dynamic IN
  *    subquery — the Iceberg COW discipline); the write replaces exactly
  *    the scanned files with freshly written ones in a single manifest
  *    commit ([[CowTable.rowLevelCommit]]).
  *  - **Merge-on-read fast path**: the table also implements
  *    `SupportsDelete`, so Spark's `OptimizeMetadataOnlyDeleteFromTable`
  *    turns a fully-convertible `DELETE FROM` into
  *    [[CowTable.deleteWhere]] — a deletion-vector write that rewrites
  *    no data file at all.
  *  - **Writes** land as parquet from `InternalRow`s via
  *    [[WriteBridge]] (the `FileFormatWriter` machinery), and commit by
  *    manifest — concurrent writers race on the manifest claim exactly
  *    like every other CoW committer.
  *
  * Scale notes: planning state is O(#planned files) on the driver (the
  * same contract as Spark's own `FileSourceScanExec` file listing);
  * sidecar algebra stays executor-side. DV positions ride input
  * partitions and are delta-sized by the [[CowTable.rewriteDeletes]]
  * contract. On partitioned tables the replacing write routes rows to
  * `__p_<c>=<v>` dirs, so rewritten files keep exact partition tuples
  * and pruning never degrades through a SQL rewrite (types without a
  * path encoding fall back to tuple-less files — sound, prunes worse).
  *
  * Reference behavior: the reference engine has no SQL surface at all
  * (`/root/reference/lib/map_reduce.rb` exposes a Ruby API); this is
  * part of the demanded lakehouse superset. */
object CowDsv2 {

  /** Session conf selecting the row-level-operation mode: "cow"
    * (default — group-based copy-on-write rewrites) or "mor"
    * (merge-on-read: [[SupportsDelta]] deltas — deletion vectors +
    * appends, no group rewrite). */
  val MorModeConf = "spark.graft.cow.rowLevelMode"

  /** Metadata column: which data file a row lives in (manifest-raw
    * path) — the GROUP identity of the copy-on-write rewrite. */
  val FileCol = "_file"

  /** Metadata column: the row's file-global position (parquet row
    * index) — with [[FileCol]], the row's stable physical identity. */
  val PosCol = "_pos"

  private[plans] def metaColumns: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name: String = FileCol
      override def dataType: DataType = StringType
      override def isNullable: Boolean = false
      override def comment: String = "data file path of the row"
    },
    new MetadataColumn {
      override def name: String = PosCol
      override def dataType: DataType = LongType
      override def isNullable: Boolean = false
      override def comment: String = "file-global row index of the row"
    })

  private def c(a: String): SqlColumn =
    col("`" + a.replace("`", "``") + "`")

  /** Partition-column types the row-level writer can route to
    * `__p_<c>=<v>` path segments (Hive-compatible rendering, so
    * `CowTable`'s segment decoder recovers the exact tuple). Anything
    * else falls back to tuple-less files — sound, prunes worse. */
  private[plans] def partPathEncodable(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
         BooleanType | DateType => true
    case _ => false
  }

  /** Hive-style %-escaping of a partition value for a path segment
    * (the set Hive's `escapePathName` escapes; `partSegValue` decodes
    * with a percent-decoder, so round-trips are exact). */
  private def escapePartVal(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach { ch =>
      if (ch < 0x20 || ch == 0x7F ||
          "\"#%'*/:=?\\{[]^".indexOf(ch.toInt) >= 0)
        sb.append('%').append(f"${ch.toInt}%02X")
      else sb.append(ch)
    }
    sb.toString
  }

  private[plans] def partPathValue(r: InternalRow, i: Int,
      dt: DataType): String =
    if (r.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__"
    else dt match {
      case StringType =>
        val s = r.getUTF8String(i).toString
        if (s.isEmpty) "__HIVE_DEFAULT_PARTITION__" else escapePartVal(s)
      case IntegerType => r.getInt(i).toString
      case LongType => r.getLong(i).toString
      case ShortType => r.getShort(i).toString
      case ByteType => r.getByte(i).toString
      case BooleanType => r.getBoolean(i).toString
      case DateType => java.time.LocalDate.ofEpochDay(r.getInt(i)).toString
      case other => throw new IllegalStateException(
        s"unroutable partition type $other")
    }

  /** `sources.Filter` → `Column`, for the filters whose semantics map
    * 1:1 (the rest simply don't participate in file pruning / metadata
    * deletes). */
  def filterToColumn(f: Filter): Option[SqlColumn] = f match {
    case EqualTo(a, v) => Some(c(a) === lit(v))
    case EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
    case GreaterThan(a, v) => Some(c(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
    case LessThan(a, v) => Some(c(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
    case In(a, vs) => Some(c(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(c(a).isNull)
    case IsNotNull(a) => Some(c(a).isNotNull)
    case And(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case Or(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case Not(x) => filterToColumn(x).map(!_)
    case StringStartsWith(a, v) => Some(c(a).startsWith(v))
    case StringEndsWith(a, v) => Some(c(a).endsWith(v))
    case StringContains(a, v) => Some(c(a).contains(v))
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  def filtersToCondition(fs: Seq[Filter]): Option[SqlColumn] =
    fs.flatMap(filterToColumn(_)).reduceOption(_ && _)

  /** Project a streaming epoch (staged at the query's FIXED plan
    * schema) onto the table's CURRENT schema — the mid-run
    * table-evolution absorption seam of the update-mode sink. For each
    * staged column: same name → lossless up-cast to the current type;
    * a current field whose prior-name chain contains it → rename
    * forward (+ up-cast); a name on the table's dropped-tombstone set →
    * REFUSE loudly (the table owner dropped a column this stream still
    * produces — absorbing would silently discard its data; restart or
    * stop the stream); anything else is a stream-side NEW column and
    * passes through for the sink's `evolveSchema` path. Returns the
    * aligned frame plus the upsert keys mapped through the same
    * renames. */
  private[plans] def alignEpochToTable(staged: org.apache.spark.sql.DataFrame,
      keys: Seq[String], current: StructType,
      dropped: Set[String]): (org.apache.spark.sql.DataFrame, Seq[String]) = {
    val curByName = current.fields.map(f => f.name -> f).toMap
    val renameTo: Map[String, String] = staged.columns.flatMap { c =>
      if (curByName.contains(c)) None
      else current.fields.find(f => CowTable.prevNamesOf(f).contains(c))
        .map(f => c -> f.name)
    }.toMap
    staged.columns.foreach { c =>
      require(!dropped.contains(c),
        s"cow streaming upsert: the table dropped column $c mid-run " +
          "while this stream still produces it — restart (or stop) the " +
          "stream; absorbing the drop would silently discard its data")
    }
    val cols = staged.schema.fields.map { g =>
      val name = renameTo.getOrElse(g.name, g.name)
      curByName.get(name).map(_.dataType) match {
        case Some(t) if t != g.dataType =>
          require(org.apache.spark.sql.catalyst.expressions.Cast
            .canUpCast(g.dataType, t),
            s"cow streaming upsert: staged column ${g.name}: " +
              s"${g.dataType.catalogString} does not up-cast to the " +
              s"table's $name: ${t.catalogString} — restart the stream " +
              "to absorb the evolution")
          col(g.name).cast(t).as(name)
        case _ => col(g.name).as(name)
      }
    }
    (staged.select(cols.toSeq: _*), keys.map(k => renameTo.getOrElse(k, k)))
  }

  /** The (column, table-field index, type) partition spec of the write
    * path, when EVERY partition column's type has a path encoding —
    * empty (tuple-less files, sound) otherwise. */
  private[plans] def routablePartSpec(
      table: CowDsv2Table): Array[(String, Int, DataType)] = {
    val spec = table.manifest.partitionCols.map { c =>
      val i = table.dataSchema.fieldIndex(c)
      (c, i, table.dataSchema.fields(i).dataType)
    }.toArray
    if (spec.nonEmpty && spec.forall(p => partPathEncodable(p._3))) spec
    else Array.empty
  }

  /** Bucket routing spec of the write path — (table-field index, value
    * type, n) on an unpartitioned bucketed table whose bucket column
    * is writable. Rows then land under `__gbucket=<id>` dirs, so every
    * DSv2 write (append, replace, delta, streaming epoch) keeps the
    * storage-partitioned-join attribution alive instead of degrading
    * it on the first SQL write. */
  private[plans] def routableBucketSpec(table: CowDsv2Table)
      : Option[(Int, DataType, Int)] =
    table.manifest.bucketSpec.collect {
      case (c, n) if table.manifest.partitionCols.isEmpty &&
          table.dataSchema.fieldNames.contains(c) =>
        (table.dataSchema.fieldIndex(c),
          table.dataSchema(table.dataSchema.fieldIndex(c)).dataType, n)
    }

  /** The `__gbucket=<id>` routing segment for one row (empty without a
    * spec). The id function is [[GraftBucket.bucketId]] — the same
    * hash the scan's co-partitioning report is anchored on. */
  private[plans] def bucketDirOf(r: InternalRow, srcIdx: Array[Int],
      spec: Option[(Int, DataType, Int)]): String = spec match {
    case Some((ti, dt, n)) =>
      val v = if (r.isNullAt(srcIdx(ti))) null else r.get(srcIdx(ti), dt)
      "/" + CowTable.BucketSegment + "=" + GraftBucket.bucketId(v, dt, n)
    case None => ""
  }

  /** The `_file IN (…)` / `_file = …` values of a runtime group-filter
    * predicate batch; empty when no such predicate arrived. */
  private[plans] def fileInValues(preds: Array[V2Predicate]): Seq[String] = {
    def isFileRef(e: org.apache.spark.sql.connector.expressions.Expression):
        Boolean = e match {
      case n: NamedReference => n.fieldNames.toSeq == Seq(FileCol)
      case _ => false
    }
    def strOf(e: org.apache.spark.sql.connector.expressions.Expression):
        Option[String] = e match {
      case l: Literal[_] => l.value match {
        case u: UTF8String => Some(u.toString)
        case s: String => Some(s)
        case _ => None
      }
      case _ => None
    }
    preds.toSeq.flatMap { p =>
      val ch = p.children()
      p.name() match {
        case "IN" if ch.nonEmpty && isFileRef(ch.head) =>
          ch.tail.toSeq.flatMap(strOf)
        case "=" if ch.length == 2 && isFileRef(ch(0)) =>
          strOf(ch(1)).toSeq
        case _ => Nil
      }
    }
  }
}

/** One CoW table (optionally pinned to a version for time travel). */
class CowDsv2Table(val tablePath: String,
    private[plans] val versionOpt: Option[Int] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsMetadataColumns
    with SupportsDelete {

  private[plans] val manifest: CowTable.Manifest = versionOpt match {
    case Some(v) => CowTable.readManifest(tablePath, v)
    case None => CowTable.latestManifest(tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"cow table $tablePath does not exist"))
  }

  private[plans] val dataSchema: StructType = manifest.schema

  override def name(): String =
    s"cow(`$tablePath`${versionOpt.map(v => s"@v$v").getOrElse("")})"

  override def schema(): StructType = dataSchema

  // AUTOMATIC_SCHEMA_EVOLUTION enables `MERGE WITH SCHEMA EVOLUTION`:
  // the analyzer hands source-only columns to the catalog's alterTable
  // as AddColumn changes (one metadata commit) before planning the
  // row-level operation against the evolved schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def metadataColumns(): Array[MetadataColumn] = CowDsv2.metaColumns

  /** A bucketed table advertises its layout as the standard `bucket`
    * transform; the catalog's [[GraftBucketUnbound]] gives the
    * optimizer the function identity behind it. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    manifest.bucketSpec match {
      case Some((c, n)) => Array(Expressions.bucket(n, c))
      case None => Array.empty
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CowScanBuilder(this, None)

  /** Plain `INSERT INTO` append (batch) or `writeStream.toTable`
    * (streaming): append mode commits epoch-idempotent appends
    * ([[CowStreamingWrite]]); UPDATE mode requires the writer option
    * `upsertKeys` (comma-separated key columns) and lands each epoch's
    * changed rows as ONE merge-on-read upsert
    * ([[CowStreamingUpsertWrite]]). The update capability is only
    * advertised (`SupportsStreamingUpdateAsAppend`) when keys are
    * given, so an update-mode write without them fails Spark's own
    * sink-capability check instead of silently appending. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val upsertKeys = Option(info.options.get("upsertKeys"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    upsertKeys match {
      case Some(ks) =>
        new WriteBuilder
            with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
          override def build(): Write = new CowV2Write(CowDsv2Table.this,
            info.schema(), None, Some(info.queryId()), Some(ks))
        }
      case None => new WriteBuilder {
        override def build(): Write = new CowV2Write(CowDsv2Table.this,
          info.schema(), None, Some(info.queryId()))
      }
    }
  }

  /** Row-level-operation mode: group-based copy-on-write (default), or
    * merge-on-read ([[CowDsv2.MorModeConf]] = "mor") — deletes land as
    * deletion vectors and updates as DV + re-insert, no group rewrite. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        if (SparkSession.active.conf
            .get(CowDsv2.MorModeConf, "cow") == "mor")
          new CowDeltaRowLevelOperation(CowDsv2Table.this, info.command())
        else new CowRowLevelOperation(CowDsv2Table.this, info.command())
    }

  // SupportsDelete (V1 filters; the V2-predicate form bridges via the
  // interface defaults): Spark's OptimizeMetadataOnlyDeleteFromTable
  // routes a fully-convertible DELETE here — a deletion-vector write
  // (merge-on-read), no group rewrite.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    versionOpt.isEmpty &&
      filters.forall(f => CowDsv2.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = CowDsv2.filtersToCondition(filters.toSeq).getOrElse(lit(true))
    CowTable.deleteWhere(SparkSession.active, tablePath, cond)
    ()
  }
}

/** Filters prune FILES only (all are returned as residual — row
  * semantics never depend on stats soundness); column pruning reaches
  * the parquet reader. An unfiltered ungrouped aggregation whose every
  * expression is `COUNT(*)`, `MIN(col)`, or `MAX(col)` pushes down
  * COMPLETELY as metadata: the scan collapses to a one-row
  * [[CowAggLocalScan]] — the SQL-path twin of `countWhere` /
  * `minWhere` / `maxWhere`, and on a 100 TB table the difference
  * between a sidecar aggregate and a full corpus scan. COUNT is
  * proven by [[CowTable.metadataRowCount]] (entry row counts minus
  * live DV runs); MIN/MAX ride the `minWhere` soundness machinery —
  * stats of full, DV-free files stand in as candidates, DV'd or
  * boundary files are read (a bounded planning-time job), bound-
  * skippable files are not. Safety: Spark only attempts aggregate
  * pushdown when NO post-scan filter remains, and this builder
  * returns every filter as residual — so a filtered aggregate can
  * never reach the metadata path; GROUP BY, other aggregates,
  * COUNT(nullable col), row-level operation scans (`owner` present),
  * stat-less columns, version-pinned MIN/MAX (the machinery resolves
  * the LATEST manifest), and unprovable counts all refuse and scan
  * normally. */
private[plans] class CowScanBuilder(table: CowDsv2Table,
    owner: Option[CowRowLevelOperation]) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = table.dataSchema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAggRow: Option[(StructType, Array[Any])] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => CowDsv2.filterToColumn(f).isDefined)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(s: StructType): Unit = required = s

  /** Memoized: the builder may be probed more than once during
    * planning; the sidecar aggregate runs at most once per scan. */
  private lazy val metaCount: Option[Long] =
    CowTable.metadataRowCount(SparkSession.active, table.tablePath,
      table.manifest)

  /** One thunk per aggregate expression when EVERY one is answerable
    * from metadata, else None. Thunks defer the min/max planning jobs
    * to [[pushAggregation]] — [[supportCompletePushDown]] stays
    * structural (plus the one memoized count aggregate). */
  private def pushPlan(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[() => (StructField, Any)]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (!(owner.isEmpty && pushed.isEmpty &&
        agg.groupByExpressions.isEmpty &&
        agg.aggregateExpressions.nonEmpty)) return None
    val statCols = CowTable.statsCoveredColumns(table.manifest)
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 &&
          table.versionOpt.isEmpty =>
        table.dataSchema.fields.find(_.name == nr.fieldNames()(0))
          .filter(f => statCols.contains(f.name))
      case _ => None
    }
    val spark = SparkSession.active
    val slots: Seq[Option[() => (StructField, Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => metaCount.map(n => () =>
          (StructField("COUNT(*)", LongType, nullable = false), n: Any))
        case mn: Min => fieldOf(mn.column).map(f => () =>
          (StructField(s"MIN(${f.name})", f.dataType),
            CowTable.minWhere(spark, table.tablePath, f.name,
              lit(true)).orNull))
        case mx: Max => fieldOf(mx.column).map(f => () =>
          (StructField(s"MAX(${f.name})", f.dataType),
            CowTable.maxWhere(spark, table.tablePath, f.name,
              lit(true)).orNull))
        case _ => None
      }
    if (slots.forall(_.isDefined)) Some(slots.map(_.get)) else None
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = pushPlan(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = pushPlan(agg) match {
    case Some(slots) =>
      val evaled = slots.map(_.apply())
      pushedAggRow = Some((StructType(evaled.map(_._1)),
        evaled.map(_._2).toArray))
      true
    case None => false
  }

  override def build(): Scan = pushedAggRow match {
    case Some((schema, vals)) => new CowAggLocalScan(schema, vals)
    case None =>
      val scan = new CowBatchScan(table, required, pushed)
      owner.foreach(_.adopt(scan))
      scan
  }
}

/** The completely-pushed aggregate row: one driver-local row holding
  * the metadata-proven values — planned as a LocalTableScan, no file
  * in the final plan. */
private[plans] class CowAggLocalScan(schema: StructType, vals: Array[Any])
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] =
    Array(new GenericInternalRow(vals.map(
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToCatalyst)))
  override def description(): String =
    s"cow_meta_agg(${schema.fieldNames.mkString(", ")})"
}

private[plans] case class CowInputPartition(path: String, bytes: Long,
    dvStarts: Array[Long], dvLens: Array[Long]) extends InputPartition

/** A bucketed table's file: carries its bucket id as the partition
  * key, so Spark can group same-bucket files and zip two co-bucketed
  * scans without an exchange (storage-partitioned join). */
private[plans] case class CowBucketedInputPartition(
    base: CowInputPartition, bucket: Int)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** Executor-side: parquet rows + row index → DV-filtered rows projected
  * to the required schema (`plan(i)`: data column index, -1 = the file
  * path constant, -2 = the row index). */
private[plans] case class CowReaderFactory(
    readFn: (String, Long) => Iterator[InternalRow],
    plan: Array[Array[Int]], types: Array[DataType], nData: Int)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p match {
      case b: CowBucketedInputPartition => b.base
      case c: CowInputPartition => c
    }
    val it = readFn(cp.path, cp.bytes)
    val starts = cp.dvStarts
    val lens = cp.dvLens
    val fileUtf8 = UTF8String.fromString(cp.path)
    val out = new GenericInternalRow(plan.length)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (it.hasNext) {
          val r = it.next()
          val ri = r.getLong(nData)
          if (starts.length == 0 ||
              !graft.functions.DvRunsContain.contains(starts, lens, ri)) {
            var i = 0
            while (i < plan.length) {
              val cands = plan(i)
              val v: Any =
                if (cands(0) == -1) fileUtf8
                else if (cands(0) == -2) ri
                else {
                  // first non-null across (current, newest-prev, …):
                  // a file holds exactly one name generation, so this
                  // is rename resolution, never value masking
                  var k = 0
                  var vv: Any = null
                  while (k < cands.length && vv == null) {
                    val j = cands(k)
                    if (!r.isNullAt(j)) vv = r.get(j, types(i))
                    k += 1
                  }
                  vv
                }
              out.update(i, v)
              i += 1
            }
            cur = out
            return true
          }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

private[plans] class CowBatchScan(table: CowDsv2Table,
    required: StructType, pushed: Array[Filter]) extends Scan with Batch
    with SupportsRuntimeV2Filtering with SupportsReportStatistics
    with SupportsReportPartitioning {

  private def spark = SparkSession.active
  private val m = table.manifest

  /** Runtime group filter (normalized paths), when Spark narrowed the
    * rewrite to matching files. */
  @volatile private var runtimeKeep: Option[Set[String]] = None

  /** What the LAST partition planning covered — the copy-on-write
    * "scanned groups" the replacing commit removes. */
  @volatile private[plans] var plannedFiles: Seq[String] = Seq.empty

  /** The stats+bloom prune runs driver-side Spark jobs over the
    * entries/bloom sidecars — pay it ONCE per scan. `pushed` and the
    * manifest are fixed at construction, so the pruned list is too;
    * Spark calls outputPartitioning / estimateStatistics /
    * planInputPartitions each at least once during planning and this
    * memo keeps that from multiplying the sidecar scans. The cheap
    * runtimeKeep set-filter stays per-call (it arrives later, via
    * filter()). */
  private lazy val statPrunedFiles: Seq[String] =
    CowDsv2.filtersToCondition(pushed.toSeq) match {
      case Some(cond) if m.dataNonEmpty =>
        CowTable.pruneDataFiles(spark, table.tablePath, m, cond)
      case _ => m.files // unselective scan: Spark's planner needs paths
    }

  private def currentFiles: Seq[String] =
    runtimeKeep match {
      case Some(keep) =>
        statPrunedFiles.filter(f => keep(CowTable.normalizePath(f)))
      case None => statPrunedFiles
    }

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String =
    s"cow(${table.tablePath}) v${m.version} " +
      s"pushed=[${pushed.mkString(", ")}]"

  /** `_file` is runtime-filterable only when the scan actually emits it
    * (the row-level group-filter scan always does). A plain read under a
    * join must NOT advertise it: dynamic-pruning planning resolves these
    * refs against the scan output and fails on a column nobody asked
    * for. */
  override def filterAttributes(): Array[NamedReference] =
    if (required.fieldNames.contains(CowDsv2.FileCol))
      Array(Expressions.column(CowDsv2.FileCol))
    else Array.empty

  override def filter(predicates: Array[V2Predicate]): Unit = {
    val vals = CowDsv2.fileInValues(predicates)
    if (vals.nonEmpty)
      runtimeKeep = Some(vals.map(CowTable.normalizePath).toSet)
  }

  /** Per-file bucket ids, present only when the table declares a
    * bucket spec AND every live file is attributed (an unattributed
    * file — e.g. written by a plain merge — makes grouping unsound,
    * so the report stands down table-wide until rebucketTable). */
  private lazy val fileBuckets: Option[Map[String, Int]] =
    CowTable.fileBuckets(spark, table.tablePath, m)

  /** Storage-partitioned-join report: the planned files, keyed by the
    * declared bucket transform. Spark groups same-key files into one
    * partition and, when the other side reports the SAME function
    * (canonicalName) and bucket count, zips the groups without an
    * exchange. Reported only when the bucket column survives column
    * pruning — the key must resolve against the scan's output. */
  override def outputPartitioning(): Partitioning =
    (m.bucketSpec, fileBuckets) match {
      case (Some((c, n)), Some(fb))
          if required.fieldNames.contains(c) =>
        val keys = currentFiles
          .flatMap(f => fb.get(CowTable.normalizePath(f))).distinct
        new KeyGroupedPartitioning(
          Array(Expressions.bucket(n, c)), keys.size)
      case _ => new UnknownPartitioning(0)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val files = currentFiles
    plannedFiles = files
    val meta = CowTable.dataFileMeta(spark, table.tablePath, m, files)
    // each planned file's sorted runs: a projection of the DV reader
    val dvs = CowTable.dvFiles(spark, m)
      .filter(col("__dv_fp").isInCollection(
        files.map(CowTable.normalizePath)))
      .collect()
      .map(r => r.getString(0) ->
        (r.getSeq[Long](1).toArray, r.getSeq[Long](2).toArray)).toMap
    val buckets: Map[String, Int] =
      if (required.fieldNames.contains(
          m.bucketSpec.map(_._1).getOrElse("")))
        fileBuckets.getOrElse(Map.empty)
      else Map.empty
    files.map { f =>
      val n = CowTable.normalizePath(f)
      val bytes = meta.get(n).map(_._1).filter(_ >= 0L).getOrElse(
        java.nio.file.Files.size(java.nio.file.Paths.get(n)))
      val (st, ln) = dvs.getOrElse(n,
        (Array.empty[Long], Array.empty[Long]))
      val base = CowInputPartition(f, bytes, st, ln)
      buckets.get(n) match {
        case Some(b) => CowBucketedInputPartition(base, b)
        case None => base
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val dataCols = required.fields.filter(f =>
      f.name != CowDsv2.FileCol && f.name != CowDsv2.PosCol)
    // renamed fields read their historical physical names too (typed
    // at the current — possibly widened — type; the parquet reader
    // upcasts natively) and the row mapper folds first-non-null, so a
    // file written before the rename serves its values through DSv2
    // exactly like the Scala read path
    // prev-name chains resolve against the TABLE schema (the pruned
    // `required` copy may have stripped field metadata)
    def prevOf(name: String): Seq[String] =
      table.dataSchema.fields.find(_.name == name)
        .map(f => CowTable.prevNamesOf(f).reverse).getOrElse(Nil)
    val physCols: Array[StructField] = dataCols.flatMap { f =>
      StructField(f.name, f.dataType, nullable = true) +:
        prevOf(f.name).map(p => StructField(p, f.dataType))
    }
    val physDataSchema = StructType(table.dataSchema.fields.flatMap { f =>
      StructField(f.name, f.dataType, nullable = true) +:
        prevOf(f.name).map(p => StructField(p, f.dataType))
    }.toIndexedSeq)
    val readFn = ScanBridge.fileReaderWithRowIndex(spark, physDataSchema,
      StructType(physCols.toIndexedSeq))
    val plan: Array[Array[Int]] = required.fields.map { f =>
      if (f.name == CowDsv2.FileCol) Array(-1)
      else if (f.name == CowDsv2.PosCol) Array(-2)
      else (f.name +: prevOf(f.name))
        .map(n => physCols.indexWhere(_.name == n)).toArray
    }
    CowReaderFactory(readFn, plan, required.fields.map(_.dataType),
      physCols.length)
  }

  /** Manifest-stats estimate over the (pruned) planned files — gives the
    * planner real sizes, so e.g. a MERGE source join can broadcast the
    * small side. Row counts are pre-DV (an upper bound). */
  override def estimateStatistics(): Statistics = {
    val files = currentFiles
    val meta = CowTable.dataFileMeta(spark, table.tablePath, m, files)
    val known = meta.values.filter(_._1 >= 0L)
    val bytes = known.map(_._1).sum
    val rows = meta.values.map(_._2)
    new Statistics {
      override def sizeInBytes(): OptionalLong =
        if (files.isEmpty) OptionalLong.of(0L)
        else if (known.isEmpty) OptionalLong.empty()
        else OptionalLong.of(bytes)
      override def numRows(): OptionalLong =
        if (files.isEmpty) OptionalLong.of(0L)
        else if (rows.isEmpty || rows.exists(_ < 0L)) OptionalLong.empty()
        else OptionalLong.of(rows.sum)
    }
  }
}

/** Group-based copy-on-write MERGE / UPDATE / DELETE: the rewrite scan
  * is adopted at build time, and the replacing write commits against
  * exactly the files that scan planned. */
private[plans] class CowRowLevelOperation(val table: CowDsv2Table,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** The FIRST scan built through this operation is the ReplaceData
    * group scan (Spark builds it during scan planning, before any
    * runtime-filter subquery scans). */
  @volatile private var scan: CowBatchScan = _

  private[plans] def adopt(s: CowBatchScan): Unit =
    if (scan == null) scan = s

  private[plans] def scannedFiles: Seq[String] = {
    require(scan != null,
      "row-level operation write committed without a group scan")
    scan.plannedFiles
  }

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CowScanBuilder(table, Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new CowV2Write(table, info.schema(),
        Some(CowRowLevelOperation.this))
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(CowDsv2.FileCol))

  override def description(): String =
    s"cow copy-on-write $cmd on ${table.tablePath}"
}

private[plans] case class CowWriteMessage(paths: Seq[String], rows: Long)
    extends WriterCommitMessage

/** V2 batch write: executors write parquet via [[WriteBridge]]; the
  * driver commits ONE manifest version that adds the written files and
  * (for row-level operations) removes the scanned groups. */
private[plans] class CowV2Write(table: CowDsv2Table,
    writeSchema: StructType, op: Option[CowRowLevelOperation],
    queryId: Option[String] = None,
    upsertKeys: Option[Seq[String]] = None) extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  override def description(): String =
    s"cow ${if (op.isDefined) "replace" else "append"} ${table.tablePath}"

  /** On a bucketed table, ask Spark to CLUSTER incoming rows by the
    * bucket transform before the write (Iceberg's hash distribution
    * mode): same-bucket rows concentrate into few tasks, so a wide
    * insert writes ~one file per bucket instead of one per
    * (task, bucket). Advisory (non-strict), so AQE may coalesce a tiny
    * insert instead of fanning it out to every bucket; the writer's
    * per-row `__gbucket` routing keeps attribution exact either way. */
  private def bucketCluster
      : Option[org.apache.spark.sql.connector.expressions.Transform] =
    table.manifest.bucketSpec.collect {
      case (c, n) if table.manifest.partitionCols.isEmpty &&
          table.dataSchema.fieldNames.contains(c) =>
        Expressions.bucket(n, c)
    }

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    bucketCluster match {
      case Some(t) =>
        org.apache.spark.sql.connector.distributions.Distributions
          .clustered(Array[org.apache.spark.sql.connector.expressions
            .Expression](t))
      case None =>
        org.apache.spark.sql.connector.distributions.Distributions
          .unspecified()
    }

  override def distributionStrictlyRequired(): Boolean = false

  override def requiredNumPartitions(): Int =
    bucketCluster.flatMap(_ => table.manifest.bucketSpec.map(_._2))
      .getOrElse(0)

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty

  override def toStreaming: StreamingWrite = {
    require(op.isEmpty, "streaming writes are append-only")
    val qid = queryId.getOrElse(
      throw new IllegalStateException("streaming write without a query id"))
    upsertKeys match {
      case Some(ks) => new CowStreamingUpsertWrite(table, writeSchema, qid, ks)
      case None => new CowStreamingWrite(table, writeSchema, qid)
    }
  }

  override def toBatch: BatchWrite = new BatchWrite {
    private def spark = SparkSession.active
    private val destDir =
      CowTable.newDataDir(table.tablePath, table.manifest.version + 1)

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory = {
      // project the incoming rows (which may carry preserved metadata
      // columns) onto the table schema by NAME, in table-column order
      val srcIdx = table.dataSchema.fields.map(f =>
        writeSchema.fieldIndex(f.name))
      // partition routing: on a partitioned table, rows land under
      // __p_<c>=<v> dirs (the initPartitioned layout), so the commit
      // recovers exact tuples and pruning never degrades through a SQL
      // MERGE/UPDATE. Falls back to tuple-less files (part=NULL, sound)
      // when a partition column's type has no path encoding here.
      CowDataWriterFactory(destDir,
        WriteBridge.parquetWriter(spark, table.dataSchema), srcIdx,
        table.dataSchema.fields.map(_.dataType),
        CowDsv2.routablePartSpec(table),
        CowDsv2.routableBucketSpec(table))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val added = messages.flatMap {
        case CowWriteMessage(ps, _) => ps
        case _ => Nil
      }.toSeq
      val removed = op.map(_.scannedFiles).getOrElse(Nil)
      if (added.isEmpty && removed.isEmpty) return
      CowTable.rowLevelCommit(spark,
        op.fold("INSERT INTO")(_.command().toString), table.tablePath,
        table.manifest, removed = removed, addedData = added)
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      messages.foreach {
        case CowWriteMessage(ps, _) => ps.foreach(p =>
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
        case _ =>
      }
  }
}

/** The data rows of one write task, shared by the batch, delta and
  * streaming writers. Each row routes to its directory suffix — the
  * `__p_<c>=<v>` segments of a non-empty `partSpec`, then the
  * `__gbucket=<id>` segment of a `bucketSpec` — projects to the table's
  * data columns (`srcIdx`), and goes to that directory's parquet writer,
  * opened lazily on its first row (zero-row tasks emit no file). One
  * writer stays open per directory the task sees: fine for the
  * delta-sized rewrites row-level operations produce; a full-table
  * re-layout goes through `CowTable.compactTable`, which shuffles by
  * partition first. `pathsOf(dir)` names the (written, final) file of a
  * directory suffix; they differ only where the caller publishes by
  * rename. */
private[plans] final class RoutedRows(handle: WriteBridge.ParquetWriterHandle,
    srcIdx: Array[Int], types: Array[DataType],
    partSpec: Array[(String, Int, DataType)],
    bucketSpec: Option[(Int, DataType, Int)], partitionId: Int,
    pathsOf: String => (String, String)) {
  private val writers = scala.collection.mutable.LinkedHashMap
    .empty[String, WriteBridge.ParquetRowWriter]
  private val out = new GenericInternalRow(srcIdx.length)
  /** (written, final) path of every writer opened, in open order. */
  val opened = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  var rows = 0L

  private def dirOf(r: InternalRow): String =
    (if (partSpec.isEmpty) ""
     else partSpec.map { case (c, ti, dt) =>
       "__p_" + c + "=" + CowDsv2.partPathValue(r, srcIdx(ti), dt)
     }.mkString("/", "/", "")) +
      CowDsv2.bucketDirOf(r, srcIdx, bucketSpec)

  def write(r: InternalRow): Unit = {
    val dir = dirOf(r)
    val w = writers.getOrElseUpdate(dir, {
      val (written, fin) = pathsOf(dir)
      opened += ((written, fin))
      handle.open(written, partitionId, 0)
    })
    var i = 0
    while (i < srcIdx.length) {
      out.update(i,
        if (r.isNullAt(srcIdx(i))) null else r.get(srcIdx(i), types(i)))
      i += 1
    }
    w.write(out)
    rows += 1
  }

  def close(): Unit = {
    writers.values.foreach(_.close())
    writers.clear()
  }

  /** Closes the writers and deletes every file they wrote. */
  def abort(): Unit = {
    close()
    opened.foreach { case (written, _) =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(written))
    }
  }
}

/** The replacing (batch) write's task writer over [[RoutedRows]]. */
private[plans] case class CowDataWriterFactory(destDir: String,
    handle: WriteBridge.ParquetWriterHandle, srcIdx: Array[Int],
    types: Array[DataType], partSpec: Array[(String, Int, DataType)],
    bucketSpec: Option[(Int, DataType, Int)] = None)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val data = new RoutedRows(handle, srcIdx, types, partSpec,
      bucketSpec, partitionId, { dir =>
        val p = s"$destDir$dir/part-$partitionId-$taskId.parquet"
        (p, p)
      })

    override def write(r: InternalRow): Unit = data.write(r)

    override def commit(): WriterCommitMessage = {
      data.close()
      CowWriteMessage(data.opened.map(_._2).toSeq, data.rows)
    }

    override def abort(): Unit = data.abort()

    override def close(): Unit = ()
  }
}

/** Merge-on-read row-level operation ([[SupportsDelta]]): Spark plans
  * `WriteDelta` instead of a group rewrite — the row identity is
  * ([[CowDsv2.FileCol]], [[CowDsv2.PosCol]]), deleted rows become
  * deletion-vector entries, updates split into delete + insert
  * (`representUpdateAsDeleteAndInsert`), and inserted rows append as new
  * files. Write cost is O(matched + inserted rows) regardless of how
  * many files the matches touch — the Iceberg position-delta discipline.
  * No runtime group filtering is needed: nothing is rewritten, so the
  * scan only feeds the MERGE join. */
private[plans] class CowDeltaRowLevelOperation(val table: CowDsv2Table,
    cmd: RowLevelOperation.Command) extends RowLevelOperation
    with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CowScanBuilder(table, None)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new CowDeltaWrite(table, info, cmd)
    }

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(CowDsv2.FileCol), Expressions.column(CowDsv2.PosCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def description(): String =
    s"cow merge-on-read $cmd on ${table.tablePath}"
}

private[plans] case class CowDeltaWriteMessage(dataPaths: Seq[String],
    dvPaths: Seq[String], ins: Long, del: Long) extends WriterCommitMessage

/** The delta write: executors stream inserted rows into parquet data
  * files (partition-routed like the replacing write) and deleted row
  * identities into deletion-vector parquet; the driver publishes both
  * with [[CowTable.rowLevelCommit]] — every base data file is carried. */
private[plans] class CowDeltaWrite(table: CowDsv2Table,
    info: LogicalWriteInfo, cmd: RowLevelOperation.Command)
    extends DeltaWrite {

  override def description(): String =
    s"cow merge-on-read delta ${table.tablePath}"

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private def spark = SparkSession.active
    private val v = table.manifest.version + 1
    private val dataDir = CowTable.newDataDir(table.tablePath, v)
    private val dvDir = CowTable.newDvDir(table.tablePath, v)

    override def createBatchWriterFactory(
        pinfo: PhysicalWriteInfo): DeltaWriterFactory = {
      val rowSchema = info.schema()
      // delete-only plans carry no data rows — srcIdx stays empty and
      // insert() is never called
      val srcIdx: Array[Int] =
        if (table.dataSchema.fields.forall(f =>
            rowSchema.fieldNames.contains(f.name)))
          table.dataSchema.fields.map(f => rowSchema.fieldIndex(f.name))
        else Array.empty
      val idSchema = info.rowIdSchema().orElseThrow(() =>
        new IllegalStateException("delta write without a row-id schema"))
      CowDeltaWriterFactory(dataDir, dvDir,
        WriteBridge.parquetWriter(spark, table.dataSchema),
        WriteBridge.parquetWriter(spark, CowTable.dvSchema),
        srcIdx, table.dataSchema.fields.map(_.dataType),
        CowDsv2.routablePartSpec(table),
        CowDsv2.routableBucketSpec(table),
        idSchema.fieldIndex(CowDsv2.FileCol),
        idSchema.fieldIndex(CowDsv2.PosCol))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val ms = messages.collect { case m: CowDeltaWriteMessage => m }
      val data = ms.flatMap(_.dataPaths).toSeq
      val dvs = ms.flatMap(_.dvPaths).toSeq
      if (data.isEmpty && dvs.isEmpty) return
      // phantom protection on a lost race: the connector cannot replay
      // the statement's match decisions, so an interleaved data-file
      // add conflicts loudly instead of rebasing into duplicate keys
      // (CowTable.standardRebaseValidate's scaladoc has the full rule)
      CowTable.rowLevelCommit(spark, s"merge-on-read $cmd",
        table.tablePath, table.manifest, addedData = data, addedDvs = dvs,
        refuseAddedData = true)
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      messages.foreach {
        case CowDeltaWriteMessage(dp, vp, _, _) => (dp ++ vp).foreach(p =>
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
        case _ =>
      }
  }
}

/** Per-task delta writer: inserted rows go through [[RoutedRows]], like
  * the replacing write, plus one lazily opened deletion-vector writer
  * for deleted identities.
  * `update` never fires (updates arrive pre-split as delete + insert)
  * but is implemented as exactly that pair for API completeness. */
private[plans] case class CowDeltaWriterFactory(dataDir: String,
    dvDir: String, dataHandle: WriteBridge.ParquetWriterHandle,
    dvHandle: WriteBridge.ParquetWriterHandle, srcIdx: Array[Int],
    types: Array[DataType], partSpec: Array[(String, Int, DataType)],
    bucketSpec: Option[(Int, DataType, Int)],
    fileIdx: Int, posIdx: Int) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val data = new RoutedRows(dataHandle, srcIdx, types, partSpec,
        bucketSpec, partitionId, { dir =>
          val p = s"$dataDir$dir/part-$partitionId-$taskId.parquet"
          (p, p)
        })
      private var dvWriter: WriteBridge.ParquetRowWriter = _
      private var dvPath: String = _
      private var nDel = 0L
      private val dvOut = new GenericInternalRow(3)
      // run-length buffer for the range-encoded DV sidecar: deletes of
      // one file typically arrive in ascending row order, so chaining
      // positions fold into one (file, start, len) row; a break (or a
      // file switch) flushes. Out-of-order arrivals just produce more
      // (still disjoint) runs — consumers sort on read.
      private var runFile: UTF8String = _
      private var runStart = 0L
      private var runLen = 0L

      override def insert(r: InternalRow): Unit = {
        require(srcIdx.nonEmpty,
          "delta insert arrived on a write planned without data columns")
        data.write(r)
      }

      private def flushRun(): Unit = {
        if (runFile != null) {
          dvOut.update(0, runFile)
          dvOut.update(1, runStart)
          dvOut.update(2, runLen)
          dvWriter.write(dvOut)
          runFile = null
        }
      }

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        if (dvWriter == null) {
          dvPath = s"$dvDir/part-$partitionId-$taskId.parquet"
          dvWriter = dvHandle.open(dvPath, partitionId, 0)
        }
        val f = id.getUTF8String(fileIdx)
        val ri = id.getLong(posIdx)
        if (runFile != null && runFile.equals(f) && ri == runStart + runLen)
          runLen += 1
        else {
          flushRun()
          runFile = f.clone() // id's buffer is reused between rows
          runStart = ri
          runLen = 1L
        }
        nDel += 1
      }

      override def update(meta: InternalRow, id: InternalRow,
          r: InternalRow): Unit = {
        delete(meta, id)
        insert(r)
      }

      override def commit(): WriterCommitMessage = {
        data.close()
        if (dvWriter != null) { flushRun(); dvWriter.close() }
        CowDeltaWriteMessage(data.opened.map(_._2).toSeq,
          Option(dvPath).toSeq, data.rows, nDel)
      }

      override def abort(): Unit = {
        data.abort()
        if (dvWriter != null) dvWriter.close()
        Option(dvPath).foreach(p =>
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
      }

      override def close(): Unit = ()
    }
}

/** Streaming append sink: `df.writeStream.toTable("graft.`/path`")` —
  * each micro-batch epoch commits ONE table version, exactly once.
  *
  * Exactly-once discipline: executors stage parquet at DETERMINISTIC
  * per-(query, epoch, partition) paths (task attempts write to a
  * taskId-suffixed tmp and publish by ATOMIC_MOVE, so retries and
  * whole-epoch replays re-produce byte-equivalent files at the SAME
  * paths), and the driver commit is guarded twice: an `_epoch`
  * high-water file (atomic-rename, updated after the manifest commit)
  * short-circuits replays of recorded epochs, and — for the crash
  * window between manifest commit and epoch record — paths already in
  * the latest manifest are never re-added. Zero-row epochs advance the
  * record without committing a version. Staged-but-uncommitted files of
  * a crashed epoch are ordinary young orphans to [[CowTable]]'s vacuum
  * (age-protected, reclaimed later; the replay rewrites them).
  *
  * Residual caveat (shared with marker-file sinks generally): a
  * compaction that rewrites this epoch's files in the microseconds
  * between manifest commit and epoch record, followed by a crash and a
  * replay, would defeat the membership check. The epoch record closes
  * every other ordering. */
private[plans] class CowStreamingWrite(
    protected val table: CowDsv2Table,
    protected val writeSchema: StructType, queryId: String)
    extends StreamingWrite {

  protected def spark: SparkSession = SparkSession.active
  private val streamDir =
    s"${table.tablePath}/stream-${queryId.replaceAll("[^A-Za-z0-9_-]", "_")}"
  private val epochFile = java.nio.file.Paths.get(s"$streamDir/_epoch")

  def description(): String =
    s"cow streaming append ${table.tablePath} (query $queryId)"

  /** The schema this sink stages and applies epochs with. The append
    * sink pins the TABLE schema (extra query columns are projected
    * away — the long-standing batch-append contract); the update-mode
    * subclass widens it with query-only columns so a restarted CDC
    * stream whose source grew a field evolves the table instead of
    * silently dropping the new data. */
  protected def sinkSchema: StructType = table.dataSchema

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val srcIdx = sinkSchema.fields.map(f =>
      writeSchema.fieldIndex(f.name))
    CowStreamWriterFactory(streamDir,
      WriteBridge.parquetWriter(spark, sinkSchema), srcIdx,
      sinkSchema.fields.map(_.dataType),
      CowDsv2.routablePartSpec(table),
      CowDsv2.routableBucketSpec(table))
  }

  private def lastEpoch(): Long =
    if (java.nio.file.Files.isRegularFile(epochFile))
      new String(java.nio.file.Files.readAllBytes(epochFile),
        "UTF-8").trim.toLong
    else Long.MinValue

  private def recordEpoch(e: Long): Unit = {
    val tmp = java.nio.file.Paths.get(s"$streamDir/_epoch.tmp")
    java.nio.file.Files.createDirectories(tmp.getParent)
    java.nio.file.Files.write(tmp, e.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, epochFile,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** What an un-replayed epoch's staged files DO to the table — append
    * for this class; the update-mode subclass upserts instead. */
  protected def applyEpoch(added: Seq[String]): Unit = {
    val m = CowTable.latestManifest(table.tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"cow table ${table.tablePath} does not exist"))
    // replay-membership is EPOCH-sized: the added paths check against
    // the entries sidecar (v3 carries no driver file list), never the
    // other way around
    val live = CowTable.entriesLiveAmong(spark, table.tablePath, m, added)
    val fresh = added.filterNot(p => live.contains(CowTable.normalizePath(p)))
    if (fresh.nonEmpty)
      CowTable.rowLevelCommit(spark, "streaming append", table.tablePath,
        m, addedData = fresh)
    ()
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    if (epochId <= lastEpoch()) return // recorded epoch replayed whole
    val added = messages.flatMap {
      case CowWriteMessage(ps, _) => ps
      case _ => Nil
    }.toSeq
    applyEpoch(added)
    recordEpoch(epochId)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    // a replayed-then-aborted epoch must never delete committed bytes:
    // only manifest-unknown paths are reclaimed (the replay rewrites)
    val staged = messages.flatMap {
      case CowWriteMessage(ps, _) => ps
      case _ => Nil
    }.toSeq
    val live = CowTable.latestManifest(table.tablePath)
      .map(m => CowTable.entriesLiveAmong(spark, table.tablePath, m, staged))
      .getOrElse(Set.empty[String])
    messages.foreach {
      case CowWriteMessage(ps, _) => ps.foreach { p =>
        if (!live.contains(CowTable.normalizePath(p)))
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p))
      }
      case _ =>
    }
  }
}

/** UPDATE-mode streaming sink: each epoch's changed rows land as ONE
  * merge-on-read upsert ([[CowTable.upsertMor]]) keyed on `keys` —
  * matched rows die by range-encoded deletion vector, postimages and
  * fresh keys append; no data file is rewritten, so a long-running
  * update-mode aggregation stays delta-priced per epoch. Exactly-once
  * rides the append sink's discipline (deterministic staged paths +
  * epoch high-water record); the crash window between the upsert
  * commit and the epoch record closes by CONTENT idempotency — a
  * replayed epoch re-upserts identical rows onto targets whose old
  * copies are already dead, so every key's live value is unchanged
  * (one redundant version may commit, never a duplicate row).
  * NULL upsert keys are REJECTED per epoch by [[CowTable.upsertMor]]
  * with an explicit message: a NULL key never equi-matches, so its
  * postimage would re-append on every replay — coalesce nullable
  * group keys to a sentinel before the sink. */
private[plans] class CowStreamingUpsertWrite(table: CowDsv2Table,
    writeSchema: StructType, queryId: String, keys: Seq[String])
    extends CowStreamingWrite(table, writeSchema, queryId) {

  override def description(): String =
    s"cow streaming upsert ${table.tablePath} on $keys"

  /** MID-STREAM SCHEMA EVOLUTION at the restart boundary: a streaming
    * query's plan schema is fixed for its lifetime (Spark's model), so
    * "the CDC source added a field" arrives here as a RESTART whose
    * `writeSchema` is wider than the table — the sink resolves the
    * evolved schema at build time (the [[CowTable.evolvedSinkSchema]]
    * discipline: appended nullable fields, historical-name
    * resurrection refused), stages epochs at the wider width, and the
    * first epoch's `upsertMor(evolveSchema = true)` lands schema and
    * data in ONE delta commit — pre-evolution rows NULL-extend at read
    * through the manifest schema, nothing rewrites. The inverse race
    * (the TABLE evolved mid-run under another writer) is ABSORBED at
    * the epoch boundary without a restart — see [[applyEpoch]]: rename
    * forward, lossless up-cast, and preserve-not-clobber for columns
    * this query's fixed plan cannot supply; only a mid-run DROP of a
    * column the stream produces still refuses (restart semantics,
    * never a silent discard). */
  override protected lazy val sinkSchema: StructType =
    CowTable.evolvedSinkSchema("streaming upsert", table.dataSchema,
      StructType(writeSchema.fields.filterNot(f =>
        CowDsv2.metaColumns.exists(_.name == f.name))),
      table.manifest.droppedNames)

  /** MID-RUN table evolution is ABSORBED at the epoch boundary (was: a
    * loud per-epoch refusal + restart): every epoch re-resolves the
    * table's CURRENT schema and projects its staged rows onto it —
    * renamed columns map forward through their prior-name chains,
    * widened columns up-cast (lossless by the alter contract), and a
    * column the table gained that this query's fixed plan cannot
    * supply rides `upsertMor(preserveMissing = true)`: matched rows
    * KEEP the value another writer filled (a full-row postimage would
    * NULL-clobber it), inserts NULL-extend. The one shape that still
    * refuses loudly is a mid-run DROP of a column this stream
    * produces — absorbing would silently discard its data. */
  override protected def applyEpoch(added: Seq[String]): Unit =
    if (added.nonEmpty) {
      val cur = CowTable.latestManifest(table.tablePath)
      // crash-window replay (upsert committed, epoch record lost): the
      // staged paths commit BY REFERENCE below, so an already-applied
      // epoch is detected by manifest membership and skipped whole —
      // the append sink's discipline, replacing the old "re-upsert
      // content-identically, one redundant version may commit" shape
      val live = cur.map(m => CowTable.entriesLiveAmong(spark,
        table.tablePath, m, added)).getOrElse(Set.empty[String])
      if (added.forall(p => live.contains(CowTable.normalizePath(p))))
        return
      val staged = spark.read.schema(sinkSchema).parquet(added: _*)
      val curSchemaOpt = cur.map(_.schema)
      val (aligned, alignedKeys) = curSchemaOpt match {
        case Some(curSchema) => CowDsv2.alignEpochToTable(staged, keys,
          curSchema, cur.map(_.droppedNames).getOrElse(Set.empty))
        case None => (staged, keys)
      }
      // the staged bytes ARE the table rows when no alignment could
      // change them: table schema == sink schema by name AND type —
      // then the epoch's data leg commits the staged files by
      // reference (no read-back rewrite); any mid-run evolution falls
      // back to the projected write path
      val byRef = curSchemaOpt.exists(cs =>
        cs.fields.map(f => (f.name, f.dataType)).toSeq ==
          sinkSchema.fields.map(f => (f.name, f.dataType)).toSeq)
      CowTable.upsertMor(spark, table.tablePath, aligned, alignedKeys,
        evolveSchema = true, preserveMissing = true,
        stagedData = if (byRef) added else Nil)
      ()
    }
}

/** Streaming task writer over [[RoutedRows]]: deterministic final path
  * per (epoch, partition, partition-tuple dir); the attempt writes a
  * taskId-suffixed tmp and publishes by ATOMIC_MOVE at task commit, so
  * speculative/retried attempts and replayed epochs land equivalent
  * bytes at the same final paths. */
private[plans] case class CowStreamWriterFactory(streamDir: String,
    handle: WriteBridge.ParquetWriterHandle, srcIdx: Array[Int],
    types: Array[DataType], partSpec: Array[(String, Int, DataType)],
    bucketSpec: Option[(Int, DataType, Int)] = None)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val data = new RoutedRows(handle, srcIdx, types, partSpec,
      bucketSpec, partitionId, { dir =>
        val fin = s"$streamDir/e$epochId$dir/part-$partitionId.parquet"
        (s"$fin.tmp-$taskId", fin)
      })

    override def write(r: InternalRow): Unit = data.write(r)

    override def commit(): WriterCommitMessage = {
      data.close()
      val finals = data.opened.map { case (tmp, fin) =>
        java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
          java.nio.file.Paths.get(fin),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        fin
      }.toSeq
      CowWriteMessage(finals, data.rows)
    }

    override def abort(): Unit = data.abort()

    override def close(): Unit = ()
  }
}
