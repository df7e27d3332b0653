package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Manifest-stats data skipping ([[CowTable.readWhere]]), the parquet
  * entries sidecar, empty snapshots, merge type discipline, and
  * vacuum's in-flight-commit protection. */
class CowStatsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cow_stats/" +
      java.util.UUID.randomUUID().toString.take(8)

  /** 4-file table clustered by id ranges (file f holds ids
    * [f*25, f*25+25)): per-file min/max are exact and known. `s` is
    * NULL everywhere in file 1, mixed in file 2, non-null elsewhere. */
  private def clustered(): String = {
    val t = freshTable()
    val df = (0L until 100L).map { i =>
      val f = (i / 25 + 1).toInt
      val s = if (f == 1) null
        else if (f == 2 && i % 2 == 0) null
        else s"s$i"
      (i, i % 7, i * 0.5, s, f)
    }.toDF("id", "band", "v", "s", "__f")
    CowTable.initFiled(df, t, "__f", 4)
    t
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def checkEq(t: String, cond: Column): Unit = {
    val want = sortedRows(CowTable.read(spark, t).filter(cond))
    val got = sortedRows(CowTable.readWhere(spark, t, cond))
    assert(got == want, s"readWhere != read.filter for $cond")
  }

  test("readWhere equals read.filter across predicate shapes") {
    val t = clustered()
    val shapes: Seq[Column] = Seq(
      $"id" === 30L,
      $"id" >= 10L && $"id" <= 40L,
      $"id".between(60L, 80L),
      $"id".isin(3L, 55L, 99L),
      $"s".isNull,
      $"s".isNotNull,
      $"id" < 5L || $"id" > 95L,
      $"s" =!= "s80",
      lit(26L) <= $"id" && lit(28L) >= $"id",
      $"id" === 30L && $"band" === (30L % 7),
      // unsupported shapes must still be CORRECT (no pruning, kept all)
      length($"s") > 2,
      pmod($"id", lit(9)) === 4,
    )
    shapes.foreach(c => checkEq(t, c))
  }

  test("selective predicates plan a strict subset; unsupported plan all") {
    val t = clustered()
    assert(CowTable.pruneReport(spark, t, $"id" === 30L) == ((1, 4)))
    assert(CowTable.pruneReport(spark, t, $"id".between(10L, 40L)) == ((2, 4)))
    assert(CowTable.pruneReport(spark, t, $"id".isin(3L, 55L)) == ((2, 4)))
    // out of range: NOTHING planned, result still correct (empty)
    assert(CowTable.pruneReport(spark, t, $"id" === 1000L) == ((0, 4)))
    assert(CowTable.readWhere(spark, t, $"id" === 1000L).count() == 0)
    // opaque predicate: conservatively keeps every file
    assert(CowTable.pruneReport(spark, t, pmod($"id", lit(9)) === 4) == ((4, 4)))
  }

  test("NULL-stats discipline: all-null file prunes comparisons, serves isNull") {
    val t = clustered()
    // s is all-NULL in file 1, mixed in file 2, non-null in 3 and 4:
    // an equality on s can skip file 1 (no non-null values at all)
    assert(CowTable.pruneReport(spark, t, $"s" === "s80")._1 <= 2,
      "all-null and out-of-range string files not pruned")
    // isNull must KEEP files 1 and 2, may skip 3 and 4 (nulls = 0)
    assert(CowTable.pruneReport(spark, t, $"s".isNull) == ((2, 4)))
    // isNotNull may skip the all-null file
    assert(CowTable.pruneReport(spark, t, $"s".isNotNull) == ((3, 4)))
    checkEq(t, $"s".isNull)
    checkEq(t, $"s".isNotNull)
  }

  test("carried files keep their stats entries across a merge") {
    val t = clustered()
    val m0 = CowTable.latestManifest(t).get
    def statsByPath(m: CowTable.Manifest): Map[String, String] =
      CowTable.entriesDF(spark, t, m).filter($"kind" === "data")
        .select("path", "stats").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val st0 = statsByPath(m0)
    assert(st0.size == 4 && st0.values.forall(_ != null))
    // touch ONLY the file holding id 10
    val m1 = CowTable.mergeInto(spark, t,
      Seq((10L, 3L, 99.0, "upd")).toDF("id", "band", "v", "s"), Seq("id"))
    val st1 = statsByPath(m1)
    val carried = m1.files.toSet intersect m0.files.toSet
    assert(carried.size == 3, s"expected 3 carried files, got $carried")
    carried.foreach(f => assert(st1(f) == st0(f),
      s"carried file lost/changed its stats entry: $f"))
    // skipping still works on the new version, rewritten file included
    assert(CowTable.pruneReport(spark, t, $"id" === 80L) == ((1, 4)))
    checkEq(t, $"id".between(5L, 15L))
  }

  test("skipping composes with deletion vectors and time travel") {
    val t = clustered()
    CowTable.deleteWhere(spark, t, pmod($"id", lit(3)) === 0)
    // DVs live on files the predicate still plans; equality holds
    checkEq(t, $"id".between(10L, 40L))
    assert(CowTable.readWhere(spark, t, $"id" === 30L).count() == 0) // deleted
    // pinned version BEFORE the delete still sees the row, still pruned
    val v0 = CowTable.readVersionWhere(spark, t, 0, $"id" === 30L)
    assert(v0.count() == 1)
    // delete itself was a stats-pruned scan: a targeted delete next
    val before = CowTable.latestManifest(t).get
    CowTable.deleteWhere(spark, t, $"id" === 26L)
    assert(CowTable.latestManifest(t).get.version == before.version + 1)
    assert(CowTable.readWhere(spark, t, $"id" === 26L).count() == 0)
  }

  test("metadata MIN/MAX: sound under DVs, bound-skips the far boundary") {
    val t = clustered() // file f holds ids [f*25-25, f*25)
    def mm(c: Column) = (
      CowTable.minWhereDetailed(spark, t, "id", c),
      CowTable.maxWhereDetailed(spark, t, "id", c))
    // interval fully covering files 2 and 3, straddling 1 and 4:
    // MIN answers from file 2's stat, scans file 1, bound-skips file 4
    val (mn, mx) = mm($"id" >= 20L && $"id" <= 80L)
    assert(mn.value.contains(20L) && mx.value.contains(80L))
    assert(mn.metaFiles == 2 && mn.scannedFiles == 1 &&
      mn.boundSkippedFiles == 1 && mn.prunedFiles == 0)
    assert(mx.metaFiles == 2 && mx.scannedFiles == 1 &&
      mx.boundSkippedFiles == 1)
    // delete the extremal row: its file gains a DV, is no longer
    // metadata-eligible, and the answer MUST move to the next live row
    CowTable.deleteWhere(spark, t, $"id" === 25L)
    val (mn2, _) = mm($"id" >= 25L && $"id" <= 80L)
    assert(mn2.value.contains(26L),
      s"metadata answer served a deleted extremal row: ${mn2.value}")
    assert(mn2.metaFiles == 1, "DV'd file must lose metadata eligibility")
    // no matching rows: None, nothing scanned beyond the kept boundary
    val (mn3, _) = mm($"id" > 1000L)
    assert(mn3.value.isEmpty && mn3.metaFiles == 0 && mn3.scannedFiles == 0)
    // equality against read.filter across shapes
    Seq($"id".between(30L, 60L), $"id" <= 10L, $"band" === 3L).foreach { c =>
      val want = CowTable.read(spark, t).filter(c).agg(
        min($"id"), max($"id")).head()
      assert(CowTable.minWhere(spark, t, "id", c) ==
        (if (want.isNullAt(0)) None else Some(want.getLong(0))))
      assert(CowTable.maxWhere(spark, t, "id", c) ==
        (if (want.isNullAt(1)) None else Some(want.getLong(1))))
    }
  }

  test("delete-everything commits an EMPTY snapshot; inserts revive it") {
    val t = freshTable()
    CowTable.init(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t)
    val m = CowTable.mergeInto(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), Seq("id"),
      deleteCond = Some(lit(true)), insert = false)
    assert(m.files.isEmpty)
    val empty = CowTable.read(spark, t)
    assert(empty.count() == 0 &&
      empty.columns.toSeq == Seq("id", "name"))
    // empty snapshot is a real version: merge inserts into it
    val m2 = CowTable.mergeInto(spark, t,
      Seq((5L, "e")).toDF("id", "name"), Seq("id"))
    assert(m2.version == m.version + 1)
    assert(sortedRows(CowTable.read(spark, t)) ==
      sortedRows(Seq((5L, "e")).toDF("id", "name")))
  }

  test("merge refuses a source whose column types differ from the target") {
    val t = freshTable()
    CowTable.init(Seq((1L, 1.5)).toDF("id", "v"), t)
    val e = intercept[IllegalArgumentException] {
      CowTable.mergeInto(spark, t,
        Seq((2, 2.5)).toDF("id", "v"), Seq("id")) // id int, target bigint
    }
    assert(e.getMessage.contains("type mismatch"))
  }

  test("vacuum protects young files of in-flight versions, reclaims old orphans") {
    val t = freshTable()
    CowTable.init(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t)
    CowTable.mergeInto(spark, t, Seq((1L, "a2")).toDF("id", "name"), Seq("id"))
    val m1 = CowTable.latestManifest(t).get
    assert(m1.version == 1)
    // simulate an IN-FLIGHT commit: version 2's data is on disk but its
    // manifest is not yet claimed (committers write data before claiming)
    val inflight = Paths.get(t, "data", "v2-inflight")
    Files.createDirectories(inflight)
    val young = inflight.resolve("part-00000-young.parquet")
    Files.copy(Paths.get(m1.files.head), young)
    val deleted1 = CowTable.vacuum(spark, t, keepVersions = 1)
    assert(Files.exists(young),
      "vacuum deleted a young file of an in-flight commit")
    assert(deleted1.nonEmpty, "v0's replaced file should have been reclaimed")
    m1.files.foreach(f => assert(Files.exists(Paths.get(f))))
    // v0's manifest AND its entries sidecar are gone
    assert(!Files.exists(Paths.get(t, "manifest", "v0.manifest")))
    val sidecars = Files.list(Paths.get(t, "manifest", "files")).toArray
      .map(_.toString)
    assert(!sidecars.exists(_.contains("/v0-")), s"v0 sidecar left: $sidecars")
    // the same unreferenced file, aged past the orphan window, is garbage
    Files.setLastModifiedTime(young,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3 * 60 * 60 * 1000L))
    val deleted2 = CowTable.vacuum(spark, t, keepVersions = 1)
    assert(deleted2.contains(young.toString) && !Files.exists(young))
    // table unharmed throughout
    assert(CowTable.read(spark, t).count() == 2)
  }

  test("countWhere equals scan-count and answers the interior from metadata") {
    val t = clustered()
    def checkCount(cond: org.apache.spark.sql.Column): Unit =
      assert(CowTable.countWhere(spark, t, cond) ==
        CowTable.read(spark, t).filter(cond).count(), s"count != scan for $cond")
    Seq($"id".between(10L, 60L), $"id" === 30L, $"id" >= 0L,
      $"s".isNull, $"s".isNotNull, $"id" < 5L || $"id" > 95L,
      $"s" =!= "s80", pmod($"id", lit(9)) === 4, $"id" === 1000L)
      .foreach(checkCount)
    // whole-range: pure metadata — every file full, nothing scanned
    val all = CowTable.countWhereDetailed(spark, t, $"id" >= 0L)
    assert(all == CowTable.CountBreakdown(100L, 4, 0, 0, 100L, 0L), s"$all")
    // interval covering file 2 fully, cutting files 1 and 3
    val mid = CowTable.countWhereDetailed(spark, t, $"id".between(10L, 60L))
    assert(mid.total == 51L && mid.fullFiles == 1 && mid.partialFiles == 2 &&
      mid.prunedFiles == 1 && mid.metadataRows == 25L && mid.scannedRows == 26L,
      s"$mid")
    // DVs subtract from the metadata-answered interior
    CowTable.deleteWhere(spark, t, $"id" === 30L || $"id" === 99L)
    val mid2 = CowTable.countWhereDetailed(spark, t, $"id".between(10L, 60L))
    assert(mid2.total == 50L && mid2.metadataRows == 24L, s"$mid2")
    checkCount($"id".between(10L, 60L))
    // all-null column: IS NULL over file 1 is metadata (nulls == rows)
    val nulls = CowTable.countWhereDetailed(spark, t, $"s".isNull)
    assert(nulls.fullFiles >= 1, s"all-null file not metadata-answered: $nulls")
    // opaque predicate: nothing provable, everything scanned, still right
    val opaque = CowTable.countWhereDetailed(spark, t, pmod($"id", lit(9)) === 4)
    assert(opaque.fullFiles == 0 && opaque.metadataRows == 0L)
  }

  test("merge discovery is stats-bounded: a narrow delta scans one file") {
    val t = clustered()
    val m = CowTable.latestManifest(t).get
    val delta = Seq((26L, 1L, 0.0, "x"), (28L, 2L, 0.0, "y"))
      .toDF("id", "band", "v", "s")
    val cand = CowTable.mergeCandidateFiles(spark, t, m, delta, Seq("id"))
    assert(cand.size == 1, s"expected 1 candidate file, got ${cand.size}")
    // an out-of-range (insert-only) delta scans NOTHING
    val far = Seq((5000L, 1L, 0.0, "z")).toDF("id", "band", "v", "s")
    assert(CowTable.mergeCandidateFiles(spark, t, m, far, Seq("id")).isEmpty)
    // and the bounded merges are still semantically complete
    CowTable.mergeInto(spark, t, delta, Seq("id"))
    CowTable.mergeInto(spark, t, far, Seq("id"))
    val got = CowTable.read(spark, t)
    assert(got.count() == 101)
    assert(got.filter($"id" === 26L).select("s").head().getString(0) == "x")
    assert(got.filter($"id" === 5000L).count() == 1)
    assert(got.filter($"id" === 75L).select("s").head().getString(0) == "s75")
  }

  test("schema evolution: new column rides the merge, old files untouched") {
    val t = freshTable()
    val df = (0L until 40L).map(i => (i, (i / 10 + 1).toInt, s"n$i"))
      .toDF("id", "__f", "name")
    CowTable.initFiled(df, t, "__f", 4)
    val m0 = CowTable.latestManifest(t).get
    val mtimes0 = m0.files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f))).toMap
    // without the flag, an extra source column is IGNORED (deleteCond
    // helper columns ride the source without entering the table)
    CowTable.mergeInto(spark, t,
      Seq((3L, "n3", 9.9)).toDF("id", "name", "score"), Seq("id"))
    assert(CowTable.read(spark, t).columns.toSeq == Seq("id", "name"))
    // evolving merge touches ONLY the file holding ids 0..9
    val m1 = CowTable.mergeInto(spark, t,
      Seq((5L, "upd", 1.5), (100L, "new", 2.5))
        .toDF("id", "name", "score"),
      Seq("id"), evolveSchema = true)
    val carried = m1.files.toSet intersect m0.files.toSet
    assert(carried.size == 3, s"evolution rewrote untouched files: $carried")
    carried.foreach(f =>
      assert(Files.getLastModifiedTime(Paths.get(f)) == mtimes0(f)))
    // full read: pre-evolution rows NULL-extend, touched/inserted carry it
    val got = CowTable.read(spark, t)
    assert(got.columns.toSeq == Seq("id", "name", "score"))
    assert(got.count() == 41)
    assert(got.filter($"score".isNotNull).select($"id")
      .collect().map(_.getLong(0)).toSet == Set(5L, 100L))
    // DVs survive the evolution; stats pruning still serves the old
    // column and conservatively keeps un-stats'd files for the new one
    CowTable.deleteWhere(spark, t, $"id" === 7L)
    assert(CowTable.read(spark, t).count() == 40)
    // old-column pruning still live post-evolution: id 25 needs the
    // carried 20s file plus any rewritten file whose [0,100] id range
    // covers it (the insert at 100 widened the rewrite) — but NEVER the
    // carried 30s file; a strict subset is planned
    val (planned, total) = CowTable.pruneReport(spark, t, $"id" === 25L)
    assert(planned < total, s"no pruning after evolution: $planned/$total")
    checkEq(t, $"score".isNotNull)
    checkEq(t, $"score" > 2.0)
    // CDF across the evolution: the update emits a pre/post pair whose
    // post carries the new column; pre is NULL-extended
    val ch = CowTable.tableChanges(spark, t, 0, m1.version, Seq("id"))
      .collect().map(r => (r.getLong(r.fieldIndex("id")),
        r.getString(r.fieldIndex("_change_type")),
        Option(r.get(r.fieldIndex("score"))))).toSet
    assert(ch == Set((5L, "update_preimage", None),
      (5L, "update_postimage", Some(1.5)),
      (100L, "insert", Some(2.5))), s"unexpected change feed: $ch")
  }

  test("a pre-v3 or unrecognised complete manifest is refused loudly by " +
      "latestManifest, readManifest and vacuum; an empty claim is skipped") {
    val t = freshTable()
    CowTable.init(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"), t)
    val m = CowTable.latestManifest(t).get
    val v = m.version + 1
    val target = Paths.get(t, "manifest", s"v$v.manifest")
    val header = "graft-cow-manifest-v3"
    val meta = Seq("schema:" + m.schemaJson, "entries:" + m.entriesRel,
      "nentries:" + m.entryCount)
    val bodies = Seq(
      "v1 string list" -> ("graft-cow-manifest-v1" +: m.files),
      "v2 with file lines" ->
        ((("graft-cow-manifest-v2" +: meta) ++ m.files) :+ "end"),
      "unknown v3 line" -> ((header +: meta) ++ Seq("future:x", "end")),
      "v3 without end" -> (header +: meta),
      "v3 without entries" -> Seq(header, meta.head, meta(2), "end"),
      "v3 without nentries" -> Seq(header, meta.head, meta(1), "end"),
      "uncounted dv line" ->
        ((header +: meta) ++ Seq(s"dv:$t/dv/x.parquet", "end")))
    bodies.foreach { case (what, lines) =>
      Files.write(target, lines.mkString("\n").getBytes("UTF-8"))
      def refused(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        assert(e.getMessage.contains(t) && e.getMessage.contains(s"v$v") &&
          e.getMessage.contains(lines.head), s"$what: ${e.getMessage}")
      }
      refused(CowTable.latestManifest(t))
      refused(CowTable.readManifest(t, v))
      refused(CowTable.vacuum(spark, t))
      Files.delete(target)
    }
    // the zero-length claim a committer leaves before its rename is
    // still invisible to readers
    Files.createFile(target)
    assert(CowTable.latestManifest(t).get.version == m.version)
    checkEq(t, $"id" === 2L)
  }
}
