package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Data-file count arithmetic under deletion vectors. A manifest derives
  * nData = sidecar entry count − dvs.size, so every commit must write
  * exactly one sidecar dv row per dv line (the canonical dv rebuild in
  * the commit path). An undercount would, in the worst case, drive
  * nData to zero — readSnapshot would return EMPTY on a live table and
  * mergeInto would insert duplicates of live keys. These specs pin the
  * arithmetic and the reads across DV deletes and merges. */
class CowDvNDataSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_cow_dv_ndata").resolve("t").toString

  test("nData and row counts stay exact across a DV delete, an insert " +
      "merge and a live-key merge") {
    val t = freshTable()
    val df = (0L until 100L).map(i => (i, s"n$i", i * 1.0))
      .toDF("id", "name", "v").repartitionByRange(4, col("id"))
    CowTable.init(df, t)
    val m1 = CowTable.deleteWhere(spark, t, col("id") < 10) // v1: one DV
    assert(m1.nData == 4 && m1.dvs.size == 1)
    assert(CowTable.read(spark, t).count() == 90)

    // insert-only merge adds one data file and carries the dv
    CowTable.mergeInto(spark, t,
      Seq((200L, "new", 42.0)).toDF("id", "name", "v"), Seq("id"))
    val m2 = CowTable.latestManifest(t).get
    assert(m2.dvs.size == 1)
    assert(m2.nData == 5, s"nData undercount: ${m2.nData}")
    assert(CowTable.read(spark, t).count() == 91)

    // live-key merge must update, not duplicate
    CowTable.mergeInto(spark, t,
      Seq((50L, "upd", -1.0)).toDF("id", "name", "v"), Seq("id"))
    val got = CowTable.read(spark, t)
    assert(got.count() == 91)
    assert(got.filter(col("id") === 50L).as[(Long, String, Double)]
      .collect().toSeq == Seq((50L, "upd", -1.0)))
  }

  test("a second DV delete on a live single-file table keeps nData at one") {
    val t = freshTable()
    val df = (0L until 10L).map(i => (i, s"n$i", i * 1.0))
      .toDF("id", "name", "v").repartition(1)
    CowTable.init(df, t)
    CowTable.deleteWhere(spark, t, col("id") < 2) // v1: one DV, 8 rows live
    assert(CowTable.read(spark, t).count() == 8)

    // a second dv and no data file: the sidecar holds 1 data + 2 dv
    // rows, so nData = 3 − 2 = 1 and the read stays non-empty
    CowTable.deleteWhere(spark, t, col("id") < 4)
    val m2 = CowTable.latestManifest(t).get
    assert(m2.dvs.size == 2)
    assert(m2.nData == 1, s"nData must stay exact, got ${m2.nData}")
    assert(CowTable.read(spark, t).count() == 6)
  }
}
