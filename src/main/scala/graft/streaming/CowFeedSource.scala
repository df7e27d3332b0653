package graft.streaming

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.CowTable

/** The CoW table's change data feed as a REAL Structured Streaming
  * source — a DSv2 `MicroBatchStream` where the table's commit log IS
  * the offset log: each offset is a table version, each micro-batch is
  * the row-level change slice between two committed versions
  * (`CowTable.tableChanges` semantics — inserts / deletes /
  * update pre+post images, layout-maintenance versions net out), with
  * `_commit_version` provenance. Usage:
  * {{{
  *   spark.readStream.format("graft.streaming.CowFeedProvider")
  *     .option("table", "/path/to/cow")
  *     .option("keys", "id")           // unique key, the CDF contract
  *     .option("startingVersion", "0") // feed covers (v, latest]
  *     .option("failOnNewColumns", "true") // optional strict mode: a
  *       // column the table gains after the stream starts REFUSES
  *       // (instead of staying invisible until a restart)
  *     .load()
  * }}}
  *
  * Exactly-once mechanics: `planInputPartitions(start, end)` stages the
  * slice as parquet under the source's own CHECKPOINT directory at the
  * deterministic path `slices/<start>-<end>` — a slice is a pure
  * function of two immutable manifests, so a post-crash replay of the
  * same offset range overwrites byte-equivalent content and the batch
  * is idempotent; `commit(end)` prunes staged batches at or below the
  * committed version. Executors read the staged files through the SAME
  * parquet reader closure `FileScanRDD` ships
  * ([[org.apache.spark.sql.graftbridge.ScanBridge.wholeFileReader]]) —
  * no hand-rolled type conversion. The staging write is a distributed
  * Spark job (driver coordinates, nothing is collected), so a
  * delta-sized slice of a 100 TB table streams at delta cost.
  *
  * The feed starts AFTER `startingVersion` (default 0): consumers
  * bootstrap the v0 snapshot separately, the
  * [[CowFollow]]/[[CowFollowSink]] discipline. Vacuum retention on the
  * source table must cover consumer lag. */
class CowFeedProvider extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CowFeedProvider.feedSchema(options.get("table"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new CowFeedTable(schema, new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = true
}

object CowFeedProvider {
  /** Feed schema = snapshot schema + change metadata. */
  def feedSchema(table: String): StructType = {
    require(table != null, "cow feed requires option 'table'")
    val m = CowTable.latestManifest(table).getOrElse(
      throw new IllegalArgumentException(s"cow table $table does not exist"))
    StructType(m.schema.fields.toSeq :+
      StructField("_change_type", StringType) :+
      StructField("_commit_version", LongType))
  }
}

private[streaming] class CowFeedTable(tableSchema: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"cow_feed(${options.get("table")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new CowFeedScan(tableSchema, options)
    }
}

private[streaming] class CowFeedScan(tableSchema: StructType,
    options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = tableSchema
  override def description(): String = s"cow_feed(${options.get("table")})"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val keys = Option(options.get("keys")).getOrElse(
      throw new IllegalArgumentException("cow feed requires option 'keys'"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val startV = Option(options.get("startingVersion")).map(_.toInt).getOrElse(0)
    val maxV = Option(options.get("maxVersionsPerBatch")).map(_.toInt)
      .getOrElse(0)
    val strict = Option(options.get("failOnNewColumns"))
      .exists(_.toBoolean)
    new CowFeedStream(options.get("table"), keys, tableSchema,
      checkpointLocation, startV, maxV, strict)
  }
}

private[streaming] case class CowFeedOffset(v: Int) extends Offset {
  override def json(): String = s"""{"version":$v}"""
}

private[streaming] case class CowSlicePartition(path: String,
    fileSize: Long) extends InputPartition

private[streaming] class CowSliceReaderFactory(
    readFn: (String, Long) => Iterator[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[CowSlicePartition]
    val it = readFn(sp.path, sp.fileSize)
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

private[streaming] class CowFeedStream(table: String, keys: Seq[String],
    schema: StructType, checkpointLocation: String, startV: Int,
    maxVersionsPerBatch: Int = 0, failOnNewColumns: Boolean = false)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  private def spark = SparkSession.active
  private def stageRoot = java.nio.file.Paths
    .get(checkpointLocation.stripPrefix("file:"), "slices")

  override def initialOffset(): Offset = CowFeedOffset(startV)

  private def tableLatest: Int =
    CowTable.latestManifest(table).map(_.version).getOrElse(startV)

  override def latestOffset(): Offset = CowFeedOffset(tableLatest)

  /** Admission control: `maxVersionsPerBatch` (option, 0 = unbounded)
    * caps how many table versions one micro-batch may span — the
    * catch-up throttle for a consumer resuming far behind (an
    * unbounded catch-up batch stages the union of MANY deltas), and
    * the per-version-slice mode (`1`) that keeps `_commit_version`
    * attribution exact across a replayed range. Engine-side
    * `ReadLimit`s (maxRows/maxFiles) don't map onto version topology,
    * so the cap is source-side. */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val sv = start.asInstanceOf[CowFeedOffset].v
    val latest = tableLatest
    CowFeedOffset(
      if (maxVersionsPerBatch <= 0) latest
      else math.min(latest, sv + maxVersionsPerBatch))
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset = {
    val m = """\{"version":(\d+)\}""".r
    json match {
      case m(v) => CowFeedOffset(v.toInt)
      case _ => throw new IllegalArgumentException(s"bad cow offset: $json")
    }
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val (sv, ev) = (start.asInstanceOf[CowFeedOffset].v,
      end.asInstanceOf[CowFeedOffset].v)
    // pin the batch's START version at plan time (the slice needs
    // manifests sv AND ev; Spark may not call commit() until the next
    // batch cycle, so the in-flight batch protects itself)
    CowTable.registerFeedCursor(table, cursorId, sv)
    if (sv >= ev) return Array.empty
    val dir = stageRoot.resolve(s"$sv-$ev")
    val done = dir.resolve("_graft_done")
    if (!java.nio.file.Files.exists(done)) {
      // deterministic staging: the slice is a pure function of two
      // immutable manifests, so replay overwrites equivalent bytes.
      // alignFeedSlice projects the slice (which speaks version ev's
      // schema) onto the STREAM's schema — the replay-across-an-
      // evolution seam: pre-evolution slices rename forward and
      // NULL-extend to the evolved schema; with failOnNewColumns a
      // post-start added column refuses instead of staying invisible
      CowTable.alignFeedSlice(
          CowTable.tableChanges(spark, table, sv, ev, keys), schema,
          failOnNewColumns)
        .withColumn("_commit_version", lit(ev.toLong))
        .select(schema.fieldNames.map(col): _*)
        .write.mode("overwrite").parquet(dir.toString)
      try java.nio.file.Files.createFile(done)
      catch { case _: java.nio.file.FileAlreadyExistsException => }
    }
    val s = java.nio.file.Files.list(dir)
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
      val it = s.iterator()
      while (it.hasNext) {
        val f = it.next()
        val n = f.getFileName.toString
        if (n.startsWith("part-") && n.endsWith(".parquet"))
          buf += CowSlicePartition(f.toAbsolutePath.toString,
            java.nio.file.Files.size(f))
      }
      buf.toArray
    } finally s.close()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CowSliceReaderFactory(
      org.apache.spark.sql.graftbridge.ScanBridge
        .wholeFileReader(spark, schema))

  /** The source's retention pin: a stable consumer id derived from the
    * checkpoint location, registered at the table on every committed
    * batch so [[CowTable.expireSnapshots]] cannot expire manifests the
    * stream still needs after a lag or restart. */
  private val cursorId = "stream-" + {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(checkpointLocation.getBytes("UTF-8"))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** A committed batch is never replanned — its staged bytes go. */
  override def commit(end: Offset): Unit = {
    val ev = end.asInstanceOf[CowFeedOffset].v
    CowTable.registerFeedCursor(table, cursorId, ev)
    if (java.nio.file.Files.isDirectory(stageRoot)) {
      val s = java.nio.file.Files.list(stageRoot)
      try {
        val it = s.iterator()
        while (it.hasNext) {
          val d = it.next()
          val name = d.getFileName.toString
          name.split("-") match {
            case Array(_, e) if e.forall(_.isDigit) && e.toInt <= ev =>
              val w = java.nio.file.Files.walk(d)
              try w.sorted(java.util.Comparator.reverseOrder())
                .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
              finally w.close()
            case _ =>
          }
        }
      } finally s.close()
    }
  }

  override def stop(): Unit = ()
}
