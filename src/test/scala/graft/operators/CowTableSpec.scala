package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CowTableSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_cow_spec").resolve("t").toString

  private def rows(table: String): Set[(Long, String, Double)] =
    CowTable.read(spark, table).select("id", "name", "v")
      .as[(Long, String, Double)].collect().toSet

  // target laid out by key range so file pruning is observable: four
  // files with disjoint ~25-key id ranges (range partitioning — the
  // hash-of-bucket layout this replaces collided buckets into 2 real
  // files + 2 empty ones, and manifests no longer list empty files)
  private def initRanged(table: String): Unit = {
    val df = (0L until 100L).map(i => (i, s"n$i", i * 1.0)).toDF("id", "name", "v")
      .repartitionByRange(4, col("id"))
    CowTable.init(df, table)
  }

  test("init + read round-trips and records manifest v0") {
    val t = freshTable()
    initRanged(t)
    assert(CowTable.latestManifest(t).get.version == 0)
    assert(rows(t).size == 100)
    assert(rows(t).contains((7L, "n7", 7.0)))
  }

  test("merge applies update, delete, and insert in one commit") {
    val t = freshTable()
    initRanged(t)
    val source = Seq(
      (10L, "updated", -1.0, false), // update
      (11L, "gone", 0.0, true),      // delete
      (200L, "new", 42.0, false),    // insert
    ).toDF("id", "name", "v", "kill")
    CowTable.mergeInto(spark, t, source,
      Seq("id"), deleteCond = Some(col("kill")), insert = true)
    val got = rows(t)
    assert(got.size == 100) // 100 - 1 delete + 1 insert
    assert(got.contains((10L, "updated", -1.0)))
    assert(!got.exists(_._1 == 11L))
    assert(got.contains((200L, "new", 42.0)))
    assert(got.contains((99L, "n99", 99.0))) // untouched row carried
    assert(CowTable.latestManifest(t).get.version == 1)
  }

  test("copy-on-write: files without touched keys are carried by reference, never rewritten") {
    val t = freshTable()
    initRanged(t)
    val m0 = CowTable.latestManifest(t).get
    val mtimes0 = m0.files.map(f => f -> Files.getLastModifiedTime(Paths.get(f))).toMap
    // touch only ids 0 and 3 — a single 25-key range, so ≥ half the
    // files (in practice 3 of 4) must carry over untouched
    val source = Seq((0L, "u0", 0.5), (3L, "u3", 3.5)).toDF("id", "name", "v")
    Thread.sleep(20)
    val m1 = CowTable.mergeInto(spark, t, source, Seq("id"))
    val carried = m1.files.toSet intersect m0.files.toSet
    assert(carried.nonEmpty, "expected untouched files carried by reference")
    // every carried file is bit-untouched (same mtime)
    carried.foreach { f =>
      assert(Files.getLastModifiedTime(Paths.get(f)) == mtimes0(f),
        s"carried file was rewritten: $f")
    }
    // at most one original file was rewritten (the one holding 0..24)
    assert((m0.files.toSet -- carried).size <= 1,
      s"too many files rewritten: ${m0.files.toSet -- carried}")
    // content correct
    val got = rows(t)
    assert(got.contains((0L, "u0", 0.5)) && got.contains((3L, "u3", 3.5)))
    assert(got.contains((50L, "n50", 50.0)))
    assert(got.size == 100)
  }

  test("time travel: old versions stay readable after merges") {
    val t = freshTable()
    initRanged(t)
    CowTable.mergeInto(spark, t,
      Seq((5L, "v1", 5.5)).toDF("id", "name", "v"), Seq("id"))
    CowTable.mergeInto(spark, t,
      Seq((5L, "v2", 5.9)).toDF("id", "name", "v"), Seq("id"))
    def at(v: Int) = CowTable.readVersion(spark, t, v)
      .filter($"id" === 5L).select("name").as[String].head()
    assert(at(0) == "n5" && at(1) == "v1" && at(2) == "v2")
    assert(CowTable.latestManifest(t).get.version == 2)
  }

  test("duplicate source keys are refused") {
    val t = freshTable()
    initRanged(t)
    val dup = Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("id", "name", "v")
    val e = intercept[IllegalArgumentException] {
      CowTable.mergeInto(spark, t, dup, Seq("id"))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("insert=false drops unmatched source rows") {
    val t = freshTable()
    initRanged(t)
    CowTable.mergeInto(spark, t,
      Seq((1L, "u", 1.5), (500L, "ghost", 0.0)).toDF("id", "name", "v"),
      Seq("id"), insert = false)
    val got = rows(t)
    assert(got.contains((1L, "u", 1.5)) && !got.exists(_._1 == 500L))
    assert(got.size == 100)
  }

  test("compactTable rewrites only the small tail into a new version") {
    val t = freshTable()
    initRanged(t)
    // three merges into three DIFFERENT key ranges leave three small
    // rewritten files plus the carried originals — a small-file tail
    // (manifests never list empty part files, so the tail is only what
    // the merges really wrote)
    (0 until 3).foreach { i =>
      CowTable.mergeInto(spark, t,
        Seq((i * 30L, s"m$i", i * 0.1)).toDF("id", "name", "v"), Seq("id"))
    }
    val before = CowTable.latestManifest(t).get
    val sizes = before.files.map(f => Files.size(Paths.get(f)))
    val target = sizes.max * 10 // everything is "small" except nothing; pick
    val big = sizes.max         // threshold: keep only the largest file(s)
    val m = CowTable.compactTable(spark, t, targetBytes = target,
      smallThreshold = Some(big))
    assert(m.version == before.version + 1)
    // kept files carried by reference, small ones replaced by fewer files
    val keptBefore = before.files.filter(f => Files.size(Paths.get(f)) >= big)
    assert(keptBefore.forall(m.files.contains))
    assert(m.files.size < before.files.size)
    // content identical
    assert(rows(t) == CowTable.readVersion(spark, t, before.version)
      .select("id", "name", "v").as[(Long, String, Double)].collect().toSet)
  }

  test("compactTableZorder: rewritten tail tiles the z-space; kept file carried; content identical") {
    // ids arrive in insertion order but (x, y) are decorrelated from it,
    // so the small-file tail a CDC loop would produce is clustered by
    // NOTHING — the worst case z-order compaction exists to repair
    def batch(ids: Range) = ids.map { i =>
      (i.toLong, (i * 17 % 64).toLong, (i * 29 % 64).toLong)
    }.toDF("id", "x", "y")
    def build(): String = {
      val t = freshTable()
      CowTable.init(batch(0 until 2048).repartition(1), t)
      (0 until 4).foreach { b =>
        CowTable.mergeInto(spark, t,
          batch(2048 + b * 512 until 2048 + (b + 1) * 512).repartition(1),
          Seq("id"))
      }
      t
    }
    def perFileHits(files: Seq[String]): (Long, Long) = {
      // files a 1/8-domain slice query must read, by that file's min/max
      // footer stats — the skipping decision a scan planner makes
      val st = spark.read.parquet(files: _*)
        .withColumn("f", input_file_name())
        .groupBy("f")
        .agg(min($"x").as("minx"), max($"x").as("maxx"),
          min($"y").as("miny"), max($"y").as("maxy"))
        .cache()
      val hx = st.filter($"minx" <= 7L).count()
      val hy = st.filter($"miny" <= 7L).count()
      st.unpersist()
      (hx, hy)
    }

    val t = build()
    val before = CowTable.latestManifest(t).get
    val sizes = before.files.map(f => f -> Files.size(Paths.get(f))).toMap
    val big = sizes.values.max
    val smallBytes = sizes.values.filter(_ < big).sum
    val mtime0 = before.files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f))).toMap
    Thread.sleep(20)
    val m = CowTable.compactTableZorder(spark, t,
      targetBytes = math.max(1L, smallBytes / 4),
      zCols = Seq("x", "y"), bits = 6, smallThreshold = Some(big))
    assert(m.version == before.version + 1)
    // the right-sized file is carried by reference, bit-untouched
    val kept = before.files.filter(f => sizes(f) >= big)
    assert(kept.nonEmpty && kept.forall(m.files.contains))
    kept.foreach { f =>
      assert(Files.getLastModifiedTime(Paths.get(f)) == mtime0(f),
        s"kept file was rewritten: $f")
    }
    // content identical across the compaction version
    def all(v: Int) = CowTable.readVersion(spark, t, v)
      .select("id", "x", "y").as[(Long, Long, Long)].collect().toSet
    assert(all(m.version) == all(before.version))

    // z-compacted files are bounded boxes: a slice query in EITHER
    // dimension skips some of them
    val rewritten = m.files.filterNot(before.files.toSet)
    assert(rewritten.size >= 3, s"expected a multi-file rewrite: $rewritten")
    val (zx, zy) = perFileHits(rewritten)
    assert(zx < rewritten.size, s"x-slice hit all $zx z-files")
    assert(zy < rewritten.size, s"y-slice hit all $zy z-files")

    // twin table, plain compaction: round-robin files span the whole
    // domain in both dimensions — nothing is skippable
    val t2 = build()
    val m2 = CowTable.compactTable(spark, t2,
      targetBytes = math.max(1L, smallBytes / 4), smallThreshold = Some(big))
    val rewritten2 = m2.files.filterNot(
      CowTable.readManifest(t2, m2.version - 1).files.toSet)
    val (px, py) = perFileHits(rewritten2)
    assert(px == rewritten2.size && py == rewritten2.size,
      s"plain compaction unexpectedly clustered: $px/$py of ${rewritten2.size}")
  }

  test("vacuum deletes only files unreachable from the kept versions") {
    val t = freshTable()
    initRanged(t)
    CowTable.mergeInto(spark, t,
      Seq((1L, "u1", 1.1)).toDF("id", "name", "v"), Seq("id"))
    CowTable.mergeInto(spark, t,
      Seq((1L, "u2", 1.2)).toDF("id", "name", "v"), Seq("id"))
    val keep2 = CowTable.readManifest(t, 1).files.toSet ++
      CowTable.readManifest(t, 2).files.toSet
    val deleted = CowTable.vacuum(spark, t, keepVersions = 2)
    // versions 1..2 stay fully readable; version 0 is gone
    assert(CowTable.readVersion(spark, t, 2).count() == 100)
    assert(CowTable.readVersion(spark, t, 1).count() == 100)
    intercept[IllegalArgumentException] { CowTable.readManifest(t, 0) }
    // nothing live was deleted, and every deleted file existed in v0 only
    assert(deleted.nonEmpty)
    deleted.foreach { f =>
      assert(!keep2.contains(f), s"vacuum deleted a live file: $f")
      assert(!Files.exists(Paths.get(f)))
    }
    keep2.foreach(f => assert(Files.exists(Paths.get(f))))
    // current content unaffected
    assert(rows(t).contains((1L, "u2", 1.2)))
  }

  test("MV serving over the snapshot file set; a merge auto-invalidates it") {
    import graft.plans.MvCatalog
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: LogicalRelation => r.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten
    val t = freshTable()
    val df = (0L until 100L).map(i => (i, s"b${i % 4}", i * 1.0))
      .toDF("id", "band", "v")
    CowTable.init(df, t)
    val mvP = s"$t-mv"
    MvCatalog.clear()
    def q() = CowTable.read(spark, t).groupBy("band")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
    val want = q().collect().map(_.toString).sorted.toSeq

    CowTable.registerMv(spark, t, "cow_bands", Seq("band"), Seq("v"), mvP)
    val served = q()
    assert(scanPaths(served).forall(_.contains("-mv")), scanPaths(served))
    assert(served.collect().map(_.toString).sorted.toSeq == want)

    // a merge commits a new manifest -> file-set tag changes -> the
    // stale registration must NOT serve the new snapshot
    CowTable.mergeInto(spark, t,
      Seq((1L, "b1", 100.0)).toDF("id", "band", "v"), Seq("id"))
    val afterMerge = q()
    assert(!scanPaths(afterMerge).exists(_.contains("-mv")),
      s"stale MV served a merged snapshot: ${scanPaths(afterMerge)}")
    val want2 = afterMerge.collect().map(_.toString).sorted.toSeq
    assert(want2 != want) // the merge changed band b1's sum

    // re-registering for the new version serves again
    CowTable.registerMv(spark, t, "cow_bands", Seq("band"), Seq("v"), s"$t-mv2")
    val served2 = q()
    assert(scanPaths(served2).forall(_.contains("-mv2")))
    assert(served2.collect().map(_.toString).sorted.toSeq == want2)
  }

  test("deleteWhere is merge-on-read: DV sidecar only, no data file rewritten") {
    val t = freshTable()
    initRanged(t)
    val m0 = CowTable.latestManifest(t).get
    val mtimes0 = m0.files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f))).toMap
    Thread.sleep(20)
    val m1 = CowTable.deleteWhere(spark, t, pmod($"id", lit(10)) === 1)
    // same data files, bit-untouched; the delete is a dv: sidecar
    assert(m1.version == m0.version + 1)
    assert(m1.files == m0.files)
    m1.files.foreach { f =>
      assert(Files.getLastModifiedTime(Paths.get(f)) == mtimes0(f),
        s"delete rewrote a data file: $f")
    }
    assert(m1.dvs.nonEmpty)
    val got1 = rows(t)
    assert(got1.size == 90 && !got1.exists(_._1 % 10 == 1))
    // a second delete stacks its DV on the first
    val m2 = CowTable.deleteWhere(spark, t, $"id" >= 95L)
    assert(m2.dvs.size > m1.dvs.size && m2.files == m0.files)
    assert(rows(t).size == 85)
    // re-issuing a fully-applied delete is a version no-op
    val m3 = CowTable.deleteWhere(spark, t, pmod($"id", lit(10)) === 1)
    assert(m3.version == m2.version)
    // time travel ignores later DVs
    assert(CowTable.readVersion(spark, t, m0.version).count() == 100)
    assert(CowTable.readVersion(spark, t, m1.version).count() == 90)
  }

  test("merge over a DV'd snapshot: deleted keys re-insert, carried deletes persist") {
    val t = freshTable()
    initRanged(t)
    CowTable.deleteWhere(spark, t, $"id" === 10L || $"id" === 60L)
    assert(rows(t).size == 98)
    // key 10's file is touched by the merge (re-insert through the
    // DV-applied rows); key 60's file is untouched so its DV entry
    // must keep applying after the commit
    CowTable.mergeInto(spark, t,
      Seq((10L, "back", 1.5)).toDF("id", "name", "v"), Seq("id"))
    val got = rows(t)
    assert(got.contains((10L, "back", 1.5)))
    assert(!got.exists(_._1 == 60L), "carried delete was lost by the merge")
    assert(got.size == 99)
  }

  test("MV over a DV'd snapshot: DV-adjusted summary serves; a second delete stands down") {
    import graft.plans.MvCatalog
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: LogicalRelation => r.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten
    val t = freshTable()
    CowTable.init((0L until 100L).map(i => (i, s"b${i % 4}", i * 1.0))
      .toDF("id", "band", "v"), t)
    CowTable.deleteWhere(spark, t, $"id" % 10 === 1) // MOR delete stays
    MvCatalog.clear()
    def q() = CowTable.read(spark, t).groupBy("band")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
    val want = q().collect().map(_.toString).sorted.toSeq
    CowTable.registerMv(spark, t, "cow_dv_bands", Seq("band"), Seq("v"),
      s"$t-mv")
    val served = q()
    assert(scanPaths(served).forall(_.contains("-mv")),
      s"DV'd snapshot aggregate must serve from the MV: ${scanPaths(served)}")
    assert(served.collect().map(_.toString).sorted.toSeq == want,
      "the served summary must be DV-adjusted (deleted rows excluded)")
    // a key-only filter still rides the rewrite
    val filtered = q().filter($"band" === "b2")
    // (filter applies above the agg here; the point is values match)
    assert(filtered.collect().map(_.toString).sorted.toSeq ==
      want.filter(_.contains("b2")))
    // a SECOND delete commits a new DV file -> fingerprint changes ->
    // the rewrite stands down; values are fresh, never stale
    CowTable.deleteWhere(spark, t, $"id" === 2L)
    val after = q()
    assert(!scanPaths(after).exists(_.contains("-mv")),
      s"stale DV-pinned MV served after a new delete: ${scanPaths(after)}")
    val want2 = after.collect().map(_.toString).sorted.toSeq
    assert(want2 != want)
    // re-registering for the new snapshot serves again
    CowTable.registerMv(spark, t, "cow_dv_bands", Seq("band"), Seq("v"),
      s"$t-mv2")
    val served2 = q()
    assert(scanPaths(served2).forall(_.contains("-mv2")))
    assert(served2.collect().map(_.toString).sorted.toSeq == want2)
    MvCatalog.clear()
  }

  test("rewriteDeletes materializes only DV-carrying files") {
    val t = freshTable()
    initRanged(t)
    CowTable.deleteWhere(spark, t, $"id" === 10L)
    val before = CowTable.latestManifest(t).get
    val mtimes0 = before.files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f))).toMap
    Thread.sleep(20)
    val m = CowTable.rewriteDeletes(spark, t)
    assert(m.version == before.version + 1 && m.dvs.isEmpty)
    // only the file holding id 10 was rewritten
    val carried = m.files.toSet intersect before.files.toSet
    assert((before.files.toSet -- carried).size == 1)
    carried.foreach { f =>
      assert(Files.getLastModifiedTime(Paths.get(f)) == mtimes0(f))
    }
    val got = rows(t)
    assert(got.size == 99 && !got.exists(_._1 == 10L))
    // already materialized: a second call is a version no-op
    assert(CowTable.rewriteDeletes(spark, t).version == m.version)
    // vacuum reclaims the obsolete DV files and the replaced data file
    val deleted = CowTable.vacuum(spark, t, keepVersions = 1)
    assert(deleted.exists(_.contains("/dv/")), s"dv files not vacuumed: $deleted")
    assert(rows(t).size == 99)
  }

  test("selective rewriteDeletes keeps light files' bytes, consolidates DVs") {
    val t = freshTable()
    initRanged(t)
    // the first range file goes ~60% dead; another file gets ONE delete
    CowTable.deleteWhere(spark, t, $"id" < 15L)
    CowTable.deleteWhere(spark, t, $"id" === 30L)
    val before = CowTable.latestManifest(t).get
    val mtimes0 = before.files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f))).toMap
    Thread.sleep(20)
    val m = CowTable.rewriteDeletes(spark, t, minDeadFraction = 0.3)
    assert(m.version == before.version + 1)
    // only the dead-heavy file rewrote; the rest carried byte-identical
    val carried = m.files.toSet intersect before.files.toSet
    assert((before.files.toSet -- carried).size == 1,
      "exactly the >30%-dead file must rewrite")
    carried.foreach { f =>
      assert(Files.getLastModifiedTime(Paths.get(f)) == mtimes0(f)) }
    // the surviving delete consolidated into this version's sidecar
    assert(m.dvs.nonEmpty)
    val dv = spark.read.parquet(m.dvs: _*).collect()
    assert(dv.length == 1, s"expected 1 surviving DV identity, got ${dv.length}")
    // relational content is maintenance-invariant
    val got = rows(t)
    assert(got.size == 84 && !got.exists(r => r._1 < 15L || r._1 == 30L))
    // a later full materialization drops the remaining DVs
    val m2 = CowTable.rewriteDeletes(spark, t)
    assert(m2.dvs.isEmpty && rows(t).size == 84)
  }

  test("compaction applies the tail's deletion vectors while rewriting it") {
    val t = freshTable()
    initRanged(t)
    (0 until 3).foreach { i =>
      CowTable.mergeInto(spark, t,
        Seq((200L + i, s"x$i", i * 1.0)).toDF("id", "name", "v"), Seq("id"))
    }
    CowTable.deleteWhere(spark, t, $"id" === 201L)
    val before = CowTable.latestManifest(t).get
    val sizes = before.files.map(f => Files.size(Paths.get(f)))
    val m = CowTable.compactTable(spark, t, targetBytes = sizes.max * 10,
      smallThreshold = Some(sizes.max))
    assert(m.version == before.version + 1)
    val got = rows(t)
    assert(got.size == 102 && !got.exists(_._1 == 201L))
    assert(got.contains((200L, "x0", 0.0)) && got.contains((202L, "x2", 2.0)))
  }

  test("tableChanges: layout maintenance is change-free; DV deletes emit pre-images") {
    val t = freshTable()
    initRanged(t)
    (0 until 3).foreach { i =>
      CowTable.mergeInto(spark, t,
        Seq((300L + i, s"c$i", i * 1.0)).toDF("id", "name", "v"), Seq("id"))
    }
    val vIngest = CowTable.latestManifest(t).get.version
    // compaction commits a version whose row-level diff is EMPTY
    val sizes = CowTable.latestManifest(t).get.files
      .map(f => Files.size(Paths.get(f)))
    val mC = CowTable.compactTable(spark, t, targetBytes = sizes.max * 10,
      smallThreshold = Some(sizes.max))
    assert(mC.version > vIngest)
    assert(CowTable.tableChanges(spark, t, vIngest, mC.version,
      Seq("id")).isEmpty, "compaction produced spurious changes")
    // a DV delete shows up as delete rows carrying the pre-image
    CowTable.deleteWhere(spark, t, $"id" === 301L || $"id" === 7L)
    val vDel = CowTable.latestManifest(t).get.version
    val ch = CowTable.tableChanges(spark, t, mC.version, vDel, Seq("id"))
      .select("id", "name", "v", "_change_type")
      .as[(Long, String, Double, String)].collect().toSet
    assert(ch == Set((301L, "c1", 1.0, "delete"), (7L, "n7", 7.0, "delete")))
    // the full span composes: a row inserted then deleted inside the
    // span (301) nets out entirely; only net inserts and deletes remain
    val span = CowTable.tableChanges(spark, t, 0, vDel, Seq("id"))
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(span == Set((300L, "insert"), (302L, "insert"),
      (7L, "delete")), s"unexpected span diff: $span")
  }

  test("DV read keeps filter pushdown and broadcast DV probe on the data scan") {
    val t = freshTable()
    initRanged(t)
    CowTable.deleteWhere(spark, t, $"id" === 91L)
    val q = CowTable.read(spark, t).filter($"id" >= 90L).select("id", "v")
    val plan = q.queryExecution.executedPlan.toString
    // the user predicate reaches the parquet scan THROUGH the DV
    // left-join (an outer join preserves its left rows, so Catalyst may
    // push the filter below it) — without this, every DV'd read becomes
    // a full scan
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(id,90)"), plan)
    // the packed per-file runs ride a broadcast, never a shuffle, and
    // the probe is the codegen'd binary-search dv_runs_contain filter
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftOuter") && plan.contains("dvrunscontain"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // name is not read: pruning intact despite the _metadata projection
    val readSchemas = plan.split("ReadSchema: ").drop(1).map(_.split("\n").head)
    assert(readSchemas.exists(s => s.contains("id") && !s.contains("name")),
      plan)
    assert(q.count() == 9) // 90..99 minus the deleted 91
  }

  test("tableChanges refuses a side with duplicate keys") {
    val t = freshTable()
    CowTable.init(Seq((1L, "a", 1.0), (1L, "b", 2.0), (2L, "c", 3.0))
      .toDF("id", "name", "v").repartition(1), t)
    CowTable.deleteWhere(spark, t, $"id" === 2L)
    val e = intercept[IllegalArgumentException] {
      CowTable.tableChanges(spark, t, 0, 1, Seq("id")).collect()
    }
    assert(e.getMessage.contains("duplicate keys"))
  }

  test("tableChanges refuses a rewrite-heavy version pair loudly " +
      "instead of collecting a table-sized changed set") {
    val t = freshTable()
    initRanged(t) // 4 files
    // a compaction-style rewrite: every file replaced
    CowTable.mergeInto(spark, t,
      CowTable.read(spark, t).withColumn("v", $"v" + 1.0), Seq("id"))
    val old = CowTable.maxChangedFilesPerSlice
    CowTable.maxChangedFilesPerSlice = 2
    try {
      val e = intercept[IllegalStateException] {
        CowTable.tableChanges(spark, t, 0, 1, Seq("id"))
      }
      assert(e.getMessage.contains("table rewrite"))
    } finally CowTable.maxChangedFilesPerSlice = old
    // the same pair under the production cap diffs fine
    assert(CowTable.tableChanges(spark, t, 0, 1, Seq("id"))
      .filter($"_change_type" === "update_postimage").count() == 100)
  }

  test("commit race: the second claimant of a version fails loudly") {
    val t = freshTable()
    initRanged(t)
    val m = CowTable.latestManifest(t).get
    val entries = m.files.map(f => CowTable.FileEntry("data", f, -1L, None, None))
    // first claim wins
    CowTable.commitEntries(spark, t, m.version + 1, entries, m.schema)
    val e = intercept[java.nio.file.FileAlreadyExistsException] {
      CowTable.commitEntries(spark, t, m.version + 1, entries, m.schema)
    }
    assert(e != null)
    // a half-written (claimed but empty) newer manifest is skipped by readers
    Files.createFile(Paths.get(t, "manifest", s"v${m.version + 2}.manifest"))
    assert(CowTable.latestManifest(t).get.version == m.version + 1)
  }
}
