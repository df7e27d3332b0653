package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Spark job counts of the Scala row-level and maintenance operations
  * on small fixtures, pinned as upper bounds: a count may drop freely
  * (then lower the pin); a rise must come with a reason. Each operation
  * runs on a fresh table with an empty entries cache (cleared after any
  * setup commits), so the count does not depend on which suites ran
  * before. */
class CowJobCountSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** ids 0..99 split into two files: [0,50) and [50,100). */
  private def fixture(): String = {
    CowTable.clearEntriesCache()
    val t = s"${System.getProperty("java.io.tmpdir")}/graft_cow_jobs/" +
      java.util.UUID.randomUUID().toString.take(8)
    val df = (0L until 100L).map(i => (i, s"n$i", i * 1.0))
      .toDF("id", "name", "v")
      .withColumn("__f", (col("id") / 50L).cast("int") + 1)
    CowTable.initFiled(df, t, "__f", 2)
    t
  }

  private def src(ids: Seq[Int], tag: String) =
    ids.map(i => (i.toLong, s"$tag$i", i * 10.0)).toDF("id", "name", "v")

  /** The name of the final stage of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val names = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        names.add(js.stageInfos.lastOption.map(_.name).getOrElse("?")); ()
      }
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      ListenerBridge.drain(spark.sparkContext)
      names.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private val twoFile = "the 2-file fixture"
  private val withADelete = "the 2-file fixture with a delete"

  /** The bound a lowered pin's test is still named with: lowering a pin
    * leaves the test's name, and so its identity in test history, as it
    * was (the name stays true — the count is lower still); the assertion
    * and the reported line use the current pin. */
  private val namedAt: Map[(String, String), Int] = Map(
    ("upsertMor", twoFile) -> 11, ("mergeInto", twoFile) -> 13,
    ("mergeIntoHybrid", twoFile) -> 17,
    ("upsertMor", withADelete) -> 13, ("mergeInto", withADelete) -> 15,
    ("compactTable", "the 2-file fixture plus a tail") -> 7,
    ("compactTableZorder", "the 2-file fixture plus a tail") -> 13,
    ("rewriteDeletes(minDeadFraction = 0.0)", "the 2-file fixture with deletes") -> 5,
    ("rewriteDeletes(minDeadFraction = 0.3)", "the 2-file fixture with deletes") -> 9,
    ("rebucketTable", "a 4-bucket fixture with a delete") -> 8,
    ("countWhere (all files fully matching)", twoFile) -> 2,
    ("countWhere (all files fully matching)", withADelete) -> 3,
    ("metadataRowCount", twoFile) -> 2, ("metadataRowCount", withADelete) -> 3,
    ("minWhere", twoFile) -> 4, ("minWhere", withADelete) -> 6)

  private def pin(op: String, pinned: Int, build: () => String = () => fixture(),
      fixtureName: String = twoFile)(body: String => Unit): Unit =
    test(s"$op runs at most ${namedAt.getOrElse((op, fixtureName), pinned)} " +
        s"Spark jobs on $fixtureName") {
      val t = build()
      CowTable.clearEntriesCache()
      val jobs = jobsOf(body(t))
      info(s"$op ran ${jobs.size} jobs (pinned $pinned)")
      assert(jobs.size <= pinned,
        s"$op ran ${jobs.size} jobs (pinned $pinned):\n${jobs.mkString("\n")}")
    }

  pin("deleteWhere", 2)(t => CowTable.deleteWhere(spark, t, $"id" < 10L))

  pin("upsertMor", 8)(t => CowTable.upsertMor(spark, t,
    src((10 to 12) ++ (300 to 301), "u"), Seq("id")))

  pin("mergeInto", 10)(t => CowTable.mergeInto(spark, t,
    src((60 to 64) ++ (200 to 204), "m"), Seq("id")))

  pin("mergeIntoHybrid", 14)(t => CowTable.mergeIntoHybrid(spark, t,
    src((10 to 12) ++ (60 to 89) ++ (400 to 401), "h"), Seq("id")))

  /** The 2-file fixture after one DV delete — the shape every
    * `lh_mixed` merge and upsert meets. */
  private def withDelete(): String = {
    val t = fixture()
    CowTable.deleteWhere(spark, t, $"id" === 61L)
    t
  }

  pin("upsertMor", 9, () => withDelete(), withADelete)(t =>
    CowTable.upsertMor(spark, t, src((10 to 12) ++ (300 to 301), "u"), Seq("id")))

  pin("mergeInto", 11, () => withDelete(), withADelete)(t =>
    CowTable.mergeInto(spark, t, src((60 to 64) ++ (200 to 204), "m"), Seq("id")))

  /** The 2-file fixture plus three one-row appends (the compactable
    * tail) and one DV delete inside the tail. */
  private def withTail(): String = {
    val t = fixture()
    (200 to 202).foreach(i => CowTable.mergeInto(spark, t, src(Seq(i), "a"), Seq("id")))
    CowTable.deleteWhere(spark, t, $"id" === 201L)
    t
  }

  /** Base files stay; only the one-row appends are small. */
  private def tailThreshold(t: String): Long =
    CowTable.readManifest(t, 0).files
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).min

  pin("compactTable", 4, () => withTail(), "the 2-file fixture plus a tail")(t =>
    CowTable.compactTable(spark, t, targetBytes = 1L << 20,
      smallThreshold = Some(tailThreshold(t))))

  pin("compactTableZorder", 10, () => withTail(), "the 2-file fixture plus a tail")(t =>
    CowTable.compactTableZorder(spark, t, targetBytes = 1L << 20,
      zCols = Seq("id", "v"), smallThreshold = Some(tailThreshold(t))))

  /** File 1 goes 40% dead, file 2 2% dead. */
  private def withDeletes(): String = {
    val t = fixture()
    CowTable.deleteWhere(spark, t, $"id" < 20L)
    CowTable.deleteWhere(spark, t, $"id" === 70L)
    t
  }

  pin("rewriteDeletes(minDeadFraction = 0.0)", 2, () => withDeletes(),
    "the 2-file fixture with deletes")(t => CowTable.rewriteDeletes(spark, t))

  pin("rewriteDeletes(minDeadFraction = 0.3)", 3, () => withDeletes(),
    "the 2-file fixture with deletes")(t =>
    CowTable.rewriteDeletes(spark, t, minDeadFraction = 0.3))

  pin("rebucketTable", 4, () => {
    val t = s"${System.getProperty("java.io.tmpdir")}/graft_cow_jobs/" +
      java.util.UUID.randomUUID().toString.take(8)
    CowTable.initBucketed(src(0 until 100, "n"), t, "id", 4)
    CowTable.deleteWhere(spark, t, $"id" < 5L)
    t
  }, "a 4-bucket fixture with a delete")(t => CowTable.rebucketTable(spark, t))

  /** `build`, then one one-row merge: the slice `tableChanges` reads. */
  private def thenMerge(build: () => String)(): String = {
    val t = build()
    CowTable.mergeInto(spark, t, src(Seq(70), "c"), Seq("id"))
    t
  }

  /** The read-side DV consumers on `build`'s table. */
  private def readPins(fixtureName: String, build: () => String)(
      countWhere: Int, metadataRowCount: Int, minWhere: Int,
      readWhere: Int, tableChanges: Int): Unit = {
    pin("countWhere (all files fully matching)", countWhere, build,
        fixtureName)(t =>
      assert(CowTable.countWhere(spark, t, $"id" >= 0L) >= 99L))
    pin("metadataRowCount", metadataRowCount, build, fixtureName)(t =>
      assert(CowTable.metadataRowCount(spark, t,
        CowTable.latestManifest(t).get).exists(_ >= 99L)))
    pin("minWhere", minWhere, build, fixtureName)(t =>
      assert(CowTable.minWhere(spark, t, "id", $"id" >= 55L).contains(55L)))
    pin("readWhere(...).collect()", readWhere, build, fixtureName)(t =>
      assert(CowTable.readWhere(spark, t, $"id" >= 55L).collect()
        .length >= 44))
    pin("tableChanges(...).collect() over a one-row merge", tableChanges,
        thenMerge(build), fixtureName) { t =>
      val v = CowTable.latestManifest(t).get.version
      assert(CowTable.tableChanges(spark, t, v - 1, v, Seq("id")).collect()
        .length == 2)
    }
  }

  readPins(twoFile, () => fixture())(0, 0, 2, 1, 6)

  /** `lh_mixed`'s feed shape: 10k-row files of incompressible names
    * (~0.7 MB each), a DV in every file, then a merge that rewrites one
    * of them. Its changed side is large enough
    * that a join sized as the product of the data and the DV rows plans
    * as a sort-merge join, which AQE demotes to a broadcast only after
    * running the shuffle stages. */
  private def lhShaped(): String = {
    CowTable.clearEntriesCache()
    val t = s"${System.getProperty("java.io.tmpdir")}/graft_cow_jobs/" +
      java.util.UUID.randomUUID().toString.take(8)
    CowTable.initFiled(spark.range(40000L).select($"id",
        sha2($"id".cast("string"), 256).as("name"),
        ($"id" * 1.0).as("v"), (($"id" / 10000L).cast("int") + 1).as("__f")),
      t, "__f", 4)
    CowTable.deleteWhere(spark, t, $"id" % 1000L === 7L)
    t
  }

  pin("tableChanges(...).collect() over a one-row merge", 8,
      thenMerge(() => lhShaped()), "a 4-file table with a DV in every file") { t =>
    val v = CowTable.latestManifest(t).get.version
    assert(CowTable.tableChanges(spark, t, v - 1, v, Seq("id")).collect()
      .length == 2)
  }

  readPins(withADelete, () => withDelete())(
    0, 0, 3, 2, 8)
}
