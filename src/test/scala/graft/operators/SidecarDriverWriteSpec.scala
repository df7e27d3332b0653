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

/** The driver-side sidecar WRITE path of [[CowTable]]'s commit: a
  * commit over a small sidecar — data-file-free (metadata evolution,
  * DV-only delete) or adding data files (merge, upsert, a streaming
  * epoch) — writes its entries parquet, and its bloom sidecar, on the
  * driver, and the written sidecar must be indistinguishable to every
  * reader from a Spark-written one. A commit whose new files' footers
  * cannot prove their stats keeps the Spark stats scan. */
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

  /** The plans among `plans` that WRITE under `t`'s manifest dir (a
    * merge's bloom discovery legitimately reads the bloom sidecars). */
  private def sidecarWrites(plans: Seq[String], t: String): Seq[String] = {
    val dir = java.nio.file.Paths.get(t, "manifest", "files").toString
    plans.filter(p => p.contains("InsertIntoHadoopFsRelationCommand") &&
      p.contains(dir))
  }

  /** The data entries `m` adds over `before`, and the stats scan's rows
    * for the same files. */
  private def addedVsScan(t: String, before: CowTable.Manifest,
      m: CowTable.Manifest): (Seq[String], Seq[String]) = {
    CowTable.clearEntriesCache()
    val old = CowTable.entriesDF(spark, t, before).select("path")
      .as[String].collect().toSet
    val added = CowTable.entriesDF(spark, t, m)
      .filter(col("kind") === "data" && !col("path").isin(old.toSeq: _*))
      .collect().toSeq
    (added.map(_.toString).sorted,
      CowTable.statsEntriesDF(spark, added.map(_.getString(1)))
        .collect().map(_.toString).toSeq.sorted)
  }

  /** A 4-file table with a bloom index on `id`. */
  private def bloomTable(): String = {
    val t = java.nio.file.Files
      .createTempDirectory("graft_sidecar_drv3").toString + "/t"
    CowTable.init(spark.range(400L).select($"id", ($"id" % 7L).as("k"),
      concat(lit("s"), $"id".cast("string")).as("s")).repartition(4), t)
    CowTable.declareBloom(spark, t, Seq("id"), 0.01, 1000L)
    t
  }

  for ((op, run) <- Seq[(String, String => Unit)](
      "mergeInto" -> (t => CowTable.mergeInto(spark, t,
        Seq((3L, 9L, "x"), (900L, 1L, "y")).toDF("id", "k", "s"), Seq("id"))),
      "upsertMor" -> (t => CowTable.upsertMor(spark, t,
        Seq((5L, 9L, "x"), (901L, 1L, "y")).toDF("id", "k", "s"), Seq("id")))))
    test(s"a small-table $op writes its sidecars without a Spark job") {
      val t = bloomTable()
      val before = CowTable.latestManifest(t).get
      val (_, _, plans) = countJobs(run(t))
      assert(sidecarWrites(plans, t).isEmpty,
        s"$op ran a sidecar-write job:\n${sidecarWrites(plans, t).mkString("\n")}")
      val m = CowTable.latestManifest(t).get
      assert(m.version == before.version + 1 &&
        m.bloomRels.size == before.bloomRels.size + 1,
        "the commit adds one bloom sidecar")
      val (added, scan) = addedVsScan(t, before, m)
      assert(added.nonEmpty && added == scan)
      // the new file's sketch proves the inserted key present
      assert(CowTable.pruneReportBloom(spark, t, $"id" === 900L || $"id" === 901L)
        ._1 >= 1)
      assert(CowTable.readWhere(spark, t, $"id" >= 900L).count() == 1L)
    }

  test("a streaming upsert epoch writes its sidecars without a Spark job") {
    spark.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val base = java.nio.file.Files.createTempDirectory("graft_sidecar_drv4")
    val t = base.resolve("t").toString
    CowTable.init(Seq((1L, 1L, 10L), (2L, 1L, 20L)).toDF("k", "n", "sx")
      .repartition(1), t)
    CowTable.declareBloom(spark, t, Seq("k"), 0.01, 1000L)
    val src = base.resolve("in")
    java.nio.file.Files.createDirectories(src)
    Seq((2L, 5L), (3L, 30L)).toDF("k", "x").coalesce(1).write
      .parquet(base.resolve("slice").toString)
    java.nio.file.Files.list(base.resolve("slice")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).foreach(f => java.nio.file.Files.move(
        java.nio.file.Paths.get(f), src.resolve("s0.parquet")))
    val before = CowTable.latestManifest(t).get
    val (_, _, plans) = countJobs {
      val q = spark.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("k", "long").add("x", "long"))
        .parquet(src.toString)
        .groupBy($"k").agg(count(lit(1)).as("n"), sum($"x").as("sx"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .option("upsertKeys", "k")
        .toTable(s"graft.`$t`")
      try q.processAllAvailable() finally q.stop()
    }
    assert(sidecarWrites(plans, t).isEmpty,
      s"the epoch ran a sidecar-write job:\n${sidecarWrites(plans, t).mkString("\n")}")
    val m = CowTable.latestManifest(t).get
    assert(m.version == before.version + 1 &&
      m.bloomRels.size == before.bloomRels.size + 1)
    val (added, scan) = addedVsScan(t, before, m)
    assert(added.nonEmpty && added == scan)
    val got = CowTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // an upsert replaces the aggregate row of each changed group
    assert(got == Map(1L -> ((1L, 10L)), 2L -> ((1L, 5L)), 3L -> ((1L, 30L))),
      s"got $got")
  }

  test("a commit whose footers cannot prove its stats (INT96 timestamps) " +
      "falls back to the stats scan and writes the same stats") {
    val t = java.nio.file.Files
      .createTempDirectory("graft_sidecar_drv5").toString + "/t"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    CowTable.init(Seq((1L, ts("2020-01-01 00:00:00")), (2L,
      ts("2020-06-01 12:00:00"))).toDF("id", "at").repartition(1), t)
    val before = CowTable.latestManifest(t).get
    val (_, _, plans) = countJobs(CowTable.mergeInto(spark, t,
      Seq((2L, ts("2021-02-03 04:05:06")), (3L, ts("2019-01-01 00:00:00")))
        .toDF("id", "at"), Seq("id")))
    assert(sidecarWrites(plans, t).nonEmpty,
      "an INT96 column must take the stats scan")
    val m = CowTable.latestManifest(t).get
    val (added, scan) = addedVsScan(t, before, m)
    assert(added.nonEmpty && added == scan)
    assert(CowTable.minWhere(spark, t, "at", $"id" > 0L)
      .contains(ts("2019-01-01 00:00:00")))
  }
}
