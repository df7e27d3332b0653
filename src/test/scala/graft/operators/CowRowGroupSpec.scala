package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Row-group-level deletion-vector skipping: a file whose delete wiped
  * out whole row groups is read through explicit live byte ranges —
  * dead groups are never decompressed — with file-global row indexes
  * intact so the remaining row-level deletes still anti-join exactly. */
class CowRowGroupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cow_rg/" +
      java.util.UUID.randomUUID().toString.take(8)

  /** One sorted ~15-row-group file of 2000 rows (64 KiB groups, ~512 B
    * rows), written through the normal init path. */
  private def fixture(): String = {
    val hc = spark.sparkContext.hadoopConfiguration
    val t = freshTable()
    hc.setInt("parquet.block.size", 64 * 1024)
    try CowTable.init(
      (0L until 2000L).map(i => (i, "x" * 512 + i.toString))
        .toDF("id", "payload").repartition(1).sortWithinPartitions("id"), t)
    finally hc.unset("parquet.block.size")
    t
  }

  test("fully-deleted row groups never scan; results stay exact") {
    val t = fixture()
    // interior kill zone (covers whole groups) + a row-level straggler
    CowTable.deleteWhere(spark, t, ($"id" >= 300L && $"id" < 1200L) ||
      $"id" === 1777L)
    val (whole, ranges, rep) = CowTable.rowGroupPrunePlan(spark, t)
    assert(rep.deadGroups >= 2, s"expected dead interior groups: $rep")
    assert(rep.affectedFiles == 1 && whole.isEmpty && ranges.size >= 2,
      s"one file, >=2 live runs around the kill zone: $rep, " +
        s"whole=${whole.size}, ranges=${ranges.size}")
    assert(rep.liveRows < 2000L && rep.liveRows >= 2000L - 900L - 1L,
      s"live rows must drop by the dead groups only: $rep")
    // the ranged scan surfaces EXACTLY the live groups' rows — proof
    // the dead groups were never read
    val m = CowTable.latestManifest(t).get
    val raw = org.apache.spark.sql.graftbridge.ScanBridge
      .rangedParquetScan(spark, m.schema, ranges)
    assert(raw.count() == rep.liveRows)
    // row indexes from a ranged read are FILE-GLOBAL: they match the
    // written row positions (the file is sorted by id, so ri == id)
    val riOk = raw.filter(col(
      org.apache.spark.sql.graftbridge.ScanBridge.RowIndexColumn) =!= $"id")
      .count()
    assert(riOk == 0, "ranged read lost file-global row indexes")
    // end-to-end equality with the whole-file DV read
    val want = CowTable.read(spark, t).collect().map(_.toString).sorted.toSeq
    val got = CowTable.readRowGroupPruned(spark, t).collect()
      .map(_.toString).sorted.toSeq
    assert(got == want)
    assert(!got.exists(_.contains("1777,")), "straggler delete survived")
  }

  test("no dead groups or no DVs degrade to the normal read") {
    val t = fixture()
    // sparse delete: every 100th row — no group fully dies
    CowTable.deleteWhere(spark, t, $"id" % 100L === 0L)
    val (whole, ranges, rep) = CowTable.rowGroupPrunePlan(spark, t)
    assert(rep.deadGroups == 0 && ranges.isEmpty && whole.size == 1)
    val want = CowTable.read(spark, t).count()
    assert(CowTable.readRowGroupPruned(spark, t).count() == want)
    assert(want == 1980L)
  }

  test("a fully-deleted FILE contributes nothing — not even one range") {
    val hc = spark.sparkContext.hadoopConfiguration
    val t = freshTable()
    hc.setInt("parquet.block.size", 64 * 1024)
    try CowTable.initFiled(
      (0L until 2000L).map(i => (i, "x" * 512 + i.toString, (i / 1000 + 1).toInt))
        .toDF("id", "payload", "__f"), t, "__f", 2)
    finally hc.unset("parquet.block.size")
    CowTable.deleteWhere(spark, t, $"id" < 1000L) // file 1 fully dead
    val (whole, ranges, rep) = CowTable.rowGroupPrunePlan(spark, t)
    assert(whole.size == 1 && ranges.isEmpty,
      s"dead file must vanish from the plan: whole=$whole, ranges=$ranges")
    assert(CowTable.readRowGroupPruned(spark, t).count() == 1000L)
  }
}
