package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The one deletion-vector reader (`CowTable.dvFiles`) on both sides of
  * its size switch. Two tables hold the same 25k rows and take the same
  * delete (every even id); only the within-file row order differs. In
  * id order the delete is 12,500 one-row runs, above
  * `SmallSidecarEntries`, so the reader takes its columnar branch;
  * with the evens first it is one run per file, read on the driver.
  * Each reader must agree with a plain aggregate of the DV parquet, and
  * every DV consumer must give the same answer on both tables. */
class CowDvReaderSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val N = 25000L
  private val deleted = (0L until N).filter(_ % 2 == 0).toSet
  private val live = (0L until N).filterNot(deleted).toSet

  /** ids 0 until N in two files, ordered within each file by `order`,
    * after one delete of every even id. */
  private def build(order: Seq[String]): (String, CowTable.Manifest) = {
    val t = s"${System.getProperty("java.io.tmpdir")}/graft_cow_dvreader/" +
      java.util.UUID.randomUUID().toString.take(8)
    val df = (0L until N).map(i => (i, i % 2, i * 0.5)).toDF("id", "par", "v")
      .withColumn("__f", (col("id") / (N / 2)).cast("int") + 1)
    CowTable.initFiledSorted(df, t, "__f", 2, order)
    (t, CowTable.deleteWhere(spark, t, $"par" === 0L))
  }

  private lazy val above = build(Seq("id"))
  private lazy val below = build(Seq("par", "id"))

  private def runs(m: CowTable.Manifest): Long = m.dvs.map(m.dvRunCounts).sum

  private def jobsOf(body: => Unit): Int = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      ListenerBridge.drain(spark.sparkContext)
      n.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("the two tables sit on either side of the size switch") {
    assert(runs(above._2) == N / 2)
    assert(runs(above._2) > CowTable.SmallSidecarEntries)
    assert(runs(below._2) == 2L)
    assert(!CowTable.dvFiles(spark, above._2).isLocal)
    assert(CowTable.dvFiles(spark, below._2).isLocal)
  }

  test("each branch returns the rows of a plain aggregate of the DV parquet") {
    Seq(above, below).foreach { case (_, m) =>
      val want = spark.read.parquet(m.dvs: _*)
        .groupBy(col("file_path"))
        .agg(sort_array(collect_list(struct(col("start"), col("len"))))
          .as("rs"), sum(col("len")).as("n"))
        .collect().map { r =>
          val rs = r.getSeq[org.apache.spark.sql.Row](1)
          (CowTable.normalizePath(r.getString(0)),
            (rs.map(_.getLong(0)), rs.map(_.getLong(1)), r.getLong(2)))
        }.toMap
      val got = CowTable.dvFiles(spark, m).collect().map(r =>
        r.getString(0) ->
          ((r.getSeq[Long](1), r.getSeq[Long](2), r.getLong(3)))).toMap
      assert(got.size == 2)
      assert(got == want)
    }
  }

  test("a projection of the driver-read branch collects with no Spark job") {
    val m = below._2
    assert(jobsOf(CowTable.dvFiles(spark, m).select("__dv_fp").collect()) == 0)
    assert(jobsOf(CowTable.dvFiles(spark, m).select("__dv_fp", "__dv_n")
      .collect()) == 0)
    // the DSv2 scan's per-file run arrays: a filtered projection
    val f = CowTable.normalizePath(m.files.head)
    assert(jobsOf(CowTable.dvFiles(spark, m)
      .filter(col("__dv_fp").isInCollection(Seq(f))).collect()) == 0)
  }

  test("countWhere, minWhere, read and tableChanges agree on both branches") {
    Seq(above, below).foreach { case (t, m) =>
      assert(CowTable.countWhere(spark, t, $"id" >= 0L) == live.size.toLong)
      assert(CowTable.countWhere(spark, t, $"id" < 7000L) ==
        live.count(_ < 7000L).toLong)
      assert(CowTable.metadataRowCount(spark, t, m).contains(live.size.toLong))
      assert(CowTable.minWhere(spark, t, "id", $"id" >= 0L).contains(1L))
      assert(CowTable.minWhere(spark, t, "id", $"id" >= 20000L)
        .contains(20001L))
      assert(CowTable.read(spark, t).select("id").as[Long].collect().toSet
        == live)
      val feed = CowTable.tableChanges(spark, t, 0, m.version, Seq("id"))
        .select("id", "_change_type").as[(Long, String)].collect()
      assert(feed.length == deleted.size)
      assert(feed.forall(_._2 == "delete") && feed.map(_._1).toSet == deleted)
    }
  }

  test("rewriteDeletes consolidates and materializes the same rows on both branches") {
    Seq(build(Seq("id")), build(Seq("par", "id"))).foreach { case (t, _) =>
      // both files are half dead: under the threshold their deletes
      // move into one consolidated sidecar
      val kept = CowTable.rewriteDeletes(spark, t, minDeadFraction = 0.9)
      assert(kept.dvs.size == 1)
      assert(CowTable.read(spark, t).select("id").as[Long].collect().toSet
        == live)
      val after = CowTable.rewriteDeletes(spark, t)
      assert(after.dvs.isEmpty)
      assert(CowTable.read(spark, t).select("id").as[Long].collect().toSet
        == live)
      assert(CowTable.metadataRowCount(spark, t, after)
        .contains(live.size.toLong))
    }
  }
}
