package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** De-collected manifest planning: prune / metadata-count planning over
  * a LARGE (100k-entry) sidecar must run its predicate algebra on the
  * parquet-backed entries DataFrame and collect only surviving paths or
  * aggregated counts — never the full entries seq. Pinned through the
  * [[CowTable.driverEntryRowsLoaded]] hook, which counts every sidecar
  * entry row materialized on the driver by the (small-sidecar-only)
  * cache loader. */
class CowPlanningScaleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val NFiles = 100000

  private def freshTable(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cow_scale/" +
      java.util.UUID.randomUUID().toString.take(8)

  /** A synthetic 100k-entry table: file i (path is fake — planning must
    * never open data files) holds v in [i, i] exactly, 10+i%5 rows. */
  private def syntheticBig(): (String, CowTable.Manifest) = {
    val t = freshTable()
    val entries = (0 until NFiles).map { i =>
      CowTable.FileEntry("data", s"$t/data/v0-fake/part-$i.parquet",
        1000L + i, Some(10L + i % 5),
        Some(s"""{"v":{"min":$i,"max":$i,"nulls":0}}"""))
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("v", "long")
    val m = CowTable.commitEntries(spark, t, 0, entries, schema)
    CowTable.clearEntriesCache() // drop the committer's pre-population
    (t, m)
  }

  test("planning a 100k-entry prune never materializes entries on the driver") {
    val (t, m) = syntheticBig()
    assert(m.entryCount == NFiles.toLong)
    val before = CowTable.driverEntryRowsLoaded.get()

    // prune: only file 77 can contain v = 77
    val kept = CowTable.pruneDataFiles(spark, t, m, $"v" === 77L)
    assert(kept == Seq(s"$t/data/v0-fake/part-77.parquet"))

    // interval prune: files 100..199 survive
    val range = CowTable.pruneDataFiles(spark, t, m,
      $"v" >= 100L && $"v" <= 199L)
    assert(range.size == 100 && range.forall(_.contains("part-1")))

    // metadata COUNT: every kept file is FULL (min==max inside the
    // interval), so the count is pure metadata — zero files scanned,
    // zero fake paths opened
    val b = CowTable.countWhereDetailed(spark, t,
      $"v" >= 100L && $"v" <= 199L)
    assert(b.partialFiles == 0 && b.fullFiles == 100)
    assert(b.prunedFiles == NFiles - 100)
    val expect = (100 until 200).map(i => 10L + i % 5).sum
    assert(b.total == expect && b.metadataRows == expect && b.scannedRows == 0L)

    val after = CowTable.driverEntryRowsLoaded.get()
    assert(after == before,
      s"driver materialized ${after - before} sidecar entry rows during " +
        "large-table planning — the parquet-backed path was bypassed")
  }

  test("a selective prune collects O(survivors) paths, never O(#files)") {
    val (t, m) = syntheticBig()
    val rowsBefore = CowTable.driverEntryRowsLoaded.get()
    val pathsBefore = CowTable.driverReadPathsListed.get()
    // point lookup: exactly one of 100k files survives — the planner's
    // driver materialization must be that ONE path (the list a Spark
    // scan genuinely needs), with all interval algebra executor-side
    val kept = CowTable.pruneDataFiles(spark, t, m, $"v" === 4242L)
    assert(kept == Seq(s"$t/data/v0-fake/part-4242.parquet"))
    assert(CowTable.driverEntryRowsLoaded.get() == rowsBefore,
      "prune loaded sidecar entry rows on the driver")
    val delta = CowTable.driverReadPathsListed.get() - pathsBefore
    assert(delta == 1L,
      s"driver collected $delta path strings for a 1-file plan " +
        "over a 100k-entry sidecar")
    // a 500-file interval collects exactly its survivors
    val p2 = CowTable.driverReadPathsListed.get()
    val range = CowTable.pruneDataFiles(spark, t, m,
      $"v" >= 1000L && $"v" <= 1499L)
    assert(range.size == 500)
    assert(CowTable.driverReadPathsListed.get() - p2 == 500L)
  }

  test("a small sidecar still serves planning from the driver cache") {
    val t = freshTable()
    val df = (0L until 50L).map(i => (i, i / 10 + 1))
      .toDF("v", "__f").withColumn("__f", $"__f".cast("int"))
    CowTable.initFiled(df, t, "__f", 5)
    val m = CowTable.latestManifest(t).get
    assert(m.entryCount <= 5L)
    CowTable.clearEntriesCache()
    val before = CowTable.driverEntryRowsLoaded.get()
    val kept = CowTable.pruneDataFiles(spark, t, m, $"v" === 42L)
    assert(kept.size == 1)
    // small sidecar: one driver load (≤ the entry count), then cached
    val loaded = CowTable.driverEntryRowsLoaded.get() - before
    assert(loaded == 5L, s"expected one 5-entry cache load, got $loaded")
    val again = CowTable.pruneDataFiles(spark, t, m, $"v" === 7L)
    assert(again.size == 1)
    assert(CowTable.driverEntryRowsLoaded.get() - before == 5L,
      "second prune must hit the cache")
  }

  test("vacuum's physical listing runs as an executor job") {
    val t = freshTable()
    // a physically real table with 40 one-bucket files; replace them
    // all so vacuum has a large reclaim set relative to dir count
    // contiguous id ranges per bucket, so EVERY file holds both
    // parities and the parity delete rewrites every file
    val df = (0L until 400L).map(i => (i, (i / 10 + 1).toInt))
      .toDF("v", "__f")
    CowTable.initFiled(df, t, "__f", 40)
    val m0 = CowTable.latestManifest(t).get
    assert(m0.files.size >= 20, s"unexpected layout: ${m0.files.size}")
    CowTable.deleteWhere(spark, t, $"v" % 2L === 0L)
    CowTable.rewriteDeletes(spark, t) // every file rewritten
    val before = CowTable.driverVacuumPathsListed.get()
    val deleted = CowTable.vacuum(spark, t, keepVersions = 1)
    val onDriver = CowTable.driverVacuumPathsListed.get() - before
    assert(deleted.size >= m0.files.size,
      s"replaced files not reclaimed: ${deleted.size} < ${m0.files.size}")
    // the driver materializes only the reclaimed set plus the
    // O(#version-dirs) unit list — never the full physical file walk
    assert(onDriver <= deleted.size + 8,
      s"vacuum materialized $onDriver paths on the driver for " +
        s"${deleted.size} reclaimed files")
    assert(CowTable.read(spark, t).count() == 200L)
  }

  test("v3 manifest: commit + selective planning over a 10^6-entry " +
      "table never materializes the file list on the driver") {
    val t = freshTable()
    val N = 1000000L
    // one million synthetic entries, built and committed as a
    // DATAFRAME — the file list exists only in the sidecar parquet
    val entries = spark.range(N).select(
      lit("data").as("kind"),
      concat(lit(s"$t/data/v0-fake/part-"), $"id", lit(".parquet"))
        .as("path"),
      (lit(1000L) + $"id").as("bytes"),
      lit(10L).as("numRows"),
      format_string("""{"v":{"min":%d,"max":%d,"nulls":0}}""",
        $"id", $"id").as("stats"),
      lit(null).cast("string").as("part"))
    val schema = new org.apache.spark.sql.types.StructType().add("v", "long")
    val m0 = CowTable.commitEntriesDF(spark, t, 0, entries, schema)
    assert(m0.entryCount == N && m0.nData == N)
    // the manifest TEXT is O(1) lines — no per-file path lines at all
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "manifest", "v0.manifest")), "UTF-8")
    assert(text.linesIterator.size <= 8,
      s"v3 manifest text must be O(1) lines, got ${text.linesIterator.size}")
    assert(text.startsWith("graft-cow-manifest-v3"))
    CowTable.clearEntriesCache()
    val loads0 = CowTable.driverManifestFileListLoads.get()
    val rows0 = CowTable.driverEntryRowsLoaded.get()
    // an APPEND COMMIT on top carries 10^6 entries sidecar-to-sidecar
    // without ever listing them: one real new file, stats-scanned
    val newDir = java.nio.file.Files.createTempDirectory("v3_new")
    spark.range(5).select(($"id" + 2000000L).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(newDir.toString)
    val newFile = java.nio.file.Files.list(newDir).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.head
    val m1 = CowTable.replaceFilesCommit(spark, t,
      CowTable.latestManifest(t).get, Nil, Seq(newFile))
    assert(m1.nData == N + 1)
    // selective planning stays O(survivors)
    val paths0 = CowTable.driverReadPathsListed.get()
    val kept = CowTable.pruneDataFiles(spark, t,
      CowTable.latestManifest(t).get, $"v" === 4242L)
    assert(kept == Seq(s"$t/data/v0-fake/part-4242.parquet"))
    assert(CowTable.driverReadPathsListed.get() - paths0 <= 2L)
    // metadata COUNT over an interval: pure sidecar algebra
    val b = CowTable.countWhereDetailed(spark, t,
      $"v" >= 100L && $"v" <= 199L)
    assert(b.fullFiles == 100 && b.partialFiles == 0 &&
      b.total == 1000L)
    // the whole commit+plan sequence fired the file-list loader never,
    // and drove zero driver entry-row loads
    assert(CowTable.driverManifestFileListLoads.get() == loads0,
      "a v3 commit or selective plan materialized the file list")
    assert(CowTable.driverEntryRowsLoaded.get() == rows0,
      "large-sidecar planning loaded entry rows on the driver")
    // the loader DOES work when genuinely asked (counted)
    assert(CowTable.latestManifest(t).get.files.size == N + 1)
    assert(CowTable.driverManifestFileListLoads.get() == loads0 + 1)
  }
}
