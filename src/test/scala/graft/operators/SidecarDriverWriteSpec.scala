package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The driver-side sidecar WRITE fast path of [[CowTable]]'s commit:
  * a data-file-free commit (metadata evolution, DV-only delete) over a
  * small sidecar writes its entries parquet on the driver — zero Spark
  * jobs — and the written sidecar must be indistinguishable to every
  * reader from a Spark-written one. */
class SidecarDriverWriteSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** `body`'s result, its Spark job count, and the plan text of every
    * SQL execution it ran (a write's plan names its output path). */
  private def countJobs[T](body: => T): (T, Int, Seq[String]) = {
    val n = new AtomicInteger(0)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription); ()
        case _ => ()
      }
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      ListenerBridge.drain(spark.sparkContext)
      (r, n.get(), plans.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a metadata-only commit (alterTable) runs ZERO Spark jobs and " +
      "its driver-written sidecar reads back identically") {
    val t = java.nio.file.Files
      .createTempDirectory("graft_sidecar_drv").toString + "/t"
    CowTable.init(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "name", "qty").repartition(2), t)
    val before = CowTable.entriesDF(spark,
      t, CowTable.latestManifest(t).get)
      .orderBy("path").collect().map(_.toString).toSeq

    val (_, jobs, _) = countJobs {
      CowTable.alterTable(spark, t,
        renames = Map("name" -> "label"), widens = Map("qty" -> LongType))
    }
    assert(jobs == 0,
      s"metadata-only commit must not run Spark jobs, ran $jobs")

    val m = CowTable.latestManifest(t).get
    assert(m.version == 1)
    // the carried entries round-trip bit-identically through the
    // driver-written sidecar (paths, sizes, row counts, stats JSON)
    val after = CowTable.entriesDF(spark, t, m)
      .orderBy("path").collect().map(_.toString).toSeq
    assert(after == before,
      s"carried entries diverged through the driver write:\n$before\n$after")
    // and the table reads correctly through the evolved schema
    val rows = CowTable.read(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
  }

  test("a DV-only delete writes its sidecar without a sidecar-write " +
      "job and stats-based pruning still sees every carried entry") {
    val t = java.nio.file.Files
      .createTempDirectory("graft_sidecar_drv2").toString + "/t"
    CowTable.init(spark.range(1000L)
      .select($"id", ($"id" % 10L).as("k")).repartition(4), t)
    val mBefore = CowTable.latestManifest(t).get
    // deleteWhere needs jobs for the candidate scan + DV write, but
    // NOT for the sidecar: no SQL execution may write into the
    // manifest dir's entries sidecars
    val (_, jobs, plans) =
      countJobs(CowTable.deleteWhere(spark, t, $"k" === 3L))
    assert(jobs > 0, "the candidate scan and DV write run as Spark jobs")
    val sidecarDir = java.nio.file.Paths.get(t, "manifest", "files").toString
    assert(!plans.exists(_.contains(sidecarDir)),
      s"a DV-only delete ran a sidecar-write job:\n${plans.mkString("\n")}")
    val m = CowTable.latestManifest(t).get
    assert(m.dvs.nonEmpty, "MOR delete must land as a DV")
    val dataBefore = CowTable.entriesDF(spark, t, mBefore)
      .filter(col("kind") === "data").orderBy("path")
      .collect().map(_.toString).toSeq
    val dataAfter = CowTable.entriesDF(spark, t, m)
      .filter(col("kind") === "data").orderBy("path")
      .collect().map(_.toString).toSeq
    assert(dataAfter == dataBefore,
      "a DV-only delta must carry every data entry unchanged")
    assert(CowTable.read(spark, t).count() == 900L)
    assert(CowTable.read(spark, t).filter($"k" === 3L).count() == 0L)
  }
}
