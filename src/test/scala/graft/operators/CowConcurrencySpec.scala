package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Concurrent-writer reconciliation: writers that touch DISJOINT files
  * lose the version race, rebase against the new head, and land —
  * serialized versions, snapshot equal to the sequential application —
  * while genuinely overlapping writers still fail loudly. Races are
  * replayed DETERMINISTICALLY through [[CowTable.preCommitHook]] (a
  * competing commit lands inside the loser's commit window), plus one
  * real two-thread race. */
class CowConcurrencySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cow_conc/" +
      java.util.UUID.randomUUID().toString.take(8)

  /** ids 0..99 split into two files: [0,50) and [50,100). */
  private def fixture(): String = {
    val t = freshTable()
    val df = (0L until 100L).map(i => (i, s"n$i", i * 1.0))
      .toDF("id", "name", "v")
      .withColumn("__f", (col("id") / 50L).cast("int") + 1)
    CowTable.initFiled(df, t, "__f", 2)
    t
  }

  private def src(ids: Seq[Int], tag: String) =
    ids.map(i => (i.toLong, s"$tag$i", i * 10.0)).toDF("id", "name", "v")

  /** One-shot hook: the FIRST commit attempt first lands `competing`. */
  private def raceOnce(competing: () => Unit): Unit = {
    CowTable.preCommitHook = { () =>
      CowTable.preCommitHook = () => ()
      competing()
    }
  }

  test("disjoint merges race, rebase, and both land sequentially") {
    val t = fixture()
    // loser updates 60..64 + inserts 200..204 (file 2); the competing
    // winner updates 10..14 (file 1) from the same base version
    raceOnce(() => CowTable.mergeInto(spark, t,
      src(10 to 14, "w"), Seq("id")))
    try {
      val m2 = CowTable.mergeInto(spark, t,
        src((60 to 64) ++ (200 to 204), "l"), Seq("id"))
      assert(m2.version == 2, s"rebased commit must land at v2: $m2")
    } finally CowTable.preCommitHook = () => ()
    val got = CowTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 105)
    (10 to 14).foreach(i => assert(got(i.toLong) == s"w$i"))
    (60 to 64).foreach(i => assert(got(i.toLong) == s"l$i"))
    (200 to 204).foreach(i => assert(got(i.toLong) == s"l$i"))
    assert(got(0L) == "n0" && got(99L) == "n99")
    // both versions are intact snapshots (time travel sane)
    assert(CowTable.readVersion(spark, t, 1).count() == 100)
  }

  test("overlapping merges still fail loudly") {
    val t = fixture()
    raceOnce(() => CowTable.mergeInto(spark, t,
      src(10 to 14, "w"), Seq("id")))
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        // same file 1: keys 20..24 live in [0,50) too
        CowTable.mergeInto(spark, t, src(20 to 24, "l"), Seq("id"))
      }
      assert(e.getMessage.contains("rewrites"), e.getMessage)
    } finally CowTable.preCommitHook = () => ()
    // the winner's merge survived untouched
    val got = CowTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(10L) == "w10" && got(20L) == "n20")
  }

  test("a concurrent insert of the same source keys is a conflict") {
    val t = fixture()
    // both writers insert key 300 — disjoint FILES (insert-only), but
    // a rebase would silently duplicate the key
    raceOnce(() => CowTable.mergeInto(spark, t,
      src(300 to 300, "w"), Seq("id")))
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        CowTable.mergeInto(spark, t, src(300 to 300, "l"), Seq("id"))
      }
      assert(e.getMessage.contains("source keys"), e.getMessage)
    } finally CowTable.preCommitHook = () => ()
    assert(CowTable.read(spark, t).filter($"id" === 300L).count() == 1)
  }

  test("disjoint deletes race, rebase, and both land") {
    val t = fixture()
    raceOnce(() => CowTable.deleteWhere(spark, t, $"id" < 10L))
    try {
      val m2 = CowTable.deleteWhere(spark, t, $"id" >= 90L)
      assert(m2.version == 2, s"rebased delete must land at v2: $m2")
    } finally CowTable.preCommitHook = () => ()
    val ids = CowTable.read(spark, t).select("id").collect()
      .map(_.getLong(0)).sorted
    assert(ids.toSeq == (10L until 90L).toSeq)
  }

  test("overlapping deletes on one file still fail loudly") {
    val t = fixture()
    raceOnce(() => CowTable.deleteWhere(spark, t, $"id" < 10L))
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        CowTable.deleteWhere(spark, t, $"id" >= 20L && $"id" < 30L)
      }
      assert(e.getMessage.contains("delete"), e.getMessage)
    } finally CowTable.preCommitHook = () => ()
    assert(CowTable.read(spark, t).count() == 90)
  }

  test("two real threads merging disjoint ranges both land") {
    val t = fixture()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    def runner(ids: Seq[Int], tag: String) = new Thread(() => {
      try {
        gate.await()
        CowTable.mergeInto(spark, t, src(ids, tag), Seq("id"))
      } catch { case e: Throwable => errs.add(e) }
    })
    val a = runner(0 to 4, "a")
    val b = runner(95 to 99, "b")
    a.start(); b.start(); gate.countDown()
    a.join(120000); b.join(120000)
    assert(errs.isEmpty, s"a merge failed: ${errs.peek()}")
    val m = CowTable.latestManifest(t).get
    assert(m.version == 2, s"both merges must commit: $m")
    val got = CowTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (0 to 4).foreach(i => assert(got(i.toLong) == s"a$i"))
    (95 to 99).foreach(i => assert(got(i.toLong) == s"b$i"))
    assert(got.size == 100)
  }

  // ------------------------------------------------ round-14 coverage:
  // EVERY committer retries, not just mergeInto/deleteWhere

  /** Build a table whose small tail is compactable: four 25-row files. */
  private def tailFixture(): String = {
    val t = freshTable()
    val df = (0L until 100L).map(i => (i, s"n$i", i * 1.0))
      .toDF("id", "name", "v")
      .withColumn("__f", (col("id") / 25L).cast("int") + 1)
    CowTable.initFiled(df, t, "__f", 4)
    t
  }

  test("compaction racing a disjoint merge rebases; both land; result = sequential") {
    val t = tailFixture()
    // make files 1-2 (ids 0..49) the small tail by deleting most of
    // their rows first? No — all four are same-sized; compact ALL of
    // them while a merge INSERTS new keys (insert-only = no base file
    // rewritten, disjoint from the tail by construction)
    raceOnce(() => CowTable.mergeInto(spark, t,
      src(500 to 504, "w"), Seq("id")))
    val m2 =
      try CowTable.compactTable(spark, t, targetBytes = 1L << 20)
      finally { CowTable.preCommitHook = () => () }
    assert(m2.version == 2, s"rebased compaction must land at v2: $m2")
    // sequential equality: merge-then-compact of the same inputs
    val got = CowTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 105)
    (500 to 504).foreach(i => assert(got(i.toLong) == s"w$i",
      "the interleaved merge's rows must survive the rebased compaction"))
    assert(got(0L) == "n0" && got(99L) == "n99")
  }

  test("compaction racing a merge that rewrites its tail fails loudly") {
    val t = tailFixture()
    // the competing merge UPDATES id 10 — rewrites tail file 1
    raceOnce(() => CowTable.mergeInto(spark, t,
      src(10 to 10, "w"), Seq("id")))
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        CowTable.compactTable(spark, t, targetBytes = 1L << 20)
      }
      assert(e.getMessage.contains("compactTable"), e.getMessage)
    } finally CowTable.preCommitHook = () => ()
    // the merge survived; nothing was lost
    assert(CowTable.read(spark, t).filter($"name" === "w10").count() == 1)
  }

  test("compaction racing a delete INSIDE its tail fails loudly; outside carries") {
    val t = tailFixture()
    raceOnce(() => CowTable.deleteWhere(spark, t, $"id" === 7L))
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        CowTable.compactTable(spark, t, targetBytes = 1L << 20)
      }
      assert(e.getMessage.contains("delete inside"), e.getMessage)
    } finally CowTable.preCommitHook = () => ()
    assert(CowTable.read(spark, t).count() == 99)
  }

  test("Z-order compaction rebases over a disjoint insert too") {
    val t = tailFixture()
    raceOnce(() => CowTable.mergeInto(spark, t,
      src(600 to 602, "z"), Seq("id")))
    val m2 =
      try CowTable.compactTableZorder(spark, t, targetBytes = 1L << 20,
        zCols = Seq("id", "v"))
      finally { CowTable.preCommitHook = () => () }
    assert(m2.version == 2, s"$m2")
    assert(CowTable.read(spark, t).count() == 103)
  }

  test("rewriteDeletes racing a delete in an UNTOUCHED file rebases and carries the fresh DV") {
    val t = tailFixture()
    // our rewrite targets file 1 only (ids 0..24 carry the only DVs)
    CowTable.deleteWhere(spark, t, $"id" < 5L)
    // competing delete lands in file 4 (ids 75..99) during our commit
    raceOnce(() => CowTable.deleteWhere(spark, t, $"id" === 80L))
    val m2 =
      try CowTable.rewriteDeletes(spark, t)
      finally { CowTable.preCommitHook = () => () }
    assert(m2.version == 3, s"rebased rewrite must land at v3: $m2")
    assert(m2.dvs.nonEmpty,
      "the interleaved delete's DV must carry through the rebase")
    val ids = CowTable.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(ids == (5L until 100L).toSet - 80L,
      "sequential equality: both deletes applied exactly once")
  }

  test("rewriteDeletes racing a delete inside a file it rewrites fails loudly") {
    val t = tailFixture()
    CowTable.deleteWhere(spark, t, $"id" < 5L)
    raceOnce(() => CowTable.deleteWhere(spark, t, $"id" === 7L))
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        CowTable.rewriteDeletes(spark, t)
      }
      assert(e.getMessage.contains("rewriteDeletes"), e.getMessage)
    } finally CowTable.preCommitHook = () => ()
    assert(CowTable.read(spark, t).count() == 94)
  }

  test("disjoint-key MOR upserts race, rebase, and both land") {
    val t = fixture()
    raceOnce(() => CowTable.upsertMor(spark, t,
      src((10 to 12) ++ (300 to 301), "w"), Seq("id")))
    val m2 =
      try CowTable.upsertMor(spark, t,
        src((60 to 62) ++ (400 to 401), "l"), Seq("id"))
      finally { CowTable.preCommitHook = () => () }
    assert(m2.version == 2, s"rebased upsert must land at v2: $m2")
    val got = CowTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 104)
    (10 to 12).foreach(i => assert(got(i.toLong) == s"w$i"))
    (60 to 62).foreach(i => assert(got(i.toLong) == s"l$i"))
    assert(got(300L) == "w300" && got(400L) == "l400")
    // no key duplicated by the race
    assert(CowTable.read(spark, t).groupBy($"id").count()
      .filter($"count" > 1L).count() == 0L)
  }

  test("upserts racing on the SAME key fail loudly instead of duplicating") {
    val t = fixture()
    raceOnce(() => CowTable.upsertMor(spark, t,
      src(700 to 700, "w"), Seq("id")))
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        CowTable.upsertMor(spark, t, src(700 to 700, "l"), Seq("id"))
      }
      assert(e.getMessage.contains("source keys"), e.getMessage)
    } finally CowTable.preCommitHook = () => ()
    assert(CowTable.read(spark, t).filter($"id" === 700L).count() == 1)
  }

  test("DSv2 append (streaming epoch apply) rebases over any interleaved commit") {
    val t = fixture()
    val m0 = CowTable.latestManifest(t).get
    // stage an append file the DSv2 way, then lose the race to a merge
    val dir = CowTable.newDataDir(t, m0.version + 1)
    src(800 to 801, "s").coalesce(1).write.mode("overwrite").parquet(dir)
    val staged = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).toSeq
    raceOnce(() => CowTable.mergeInto(spark, t,
      src(10 to 12, "w"), Seq("id")))
    val m2 =
      try CowTable.replaceFilesCommit(spark, t, m0, Nil, staged)
      finally { CowTable.preCommitHook = () => () }
    assert(m2.version == 2, s"rebased append must land at v2: $m2")
    val got = CowTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 102 && got(800L) == "s800" && got(10L) == "w10")
  }

  test("a rebased commit preserves a concurrent metadata-only schema refinement") {
    val t = fixture()
    val v0 = CowTable.latestManifest(t).get.version
    // the competing winner is a metadata-only alterTable: no rename/
    // drop/widen, so its whole effect is assigning stable field ids —
    // compatible under schemaCompatible, hence NOT a rebase conflict
    raceOnce(() => CowTable.alterTable(spark, t))
    val m2 =
      try CowTable.mergeInto(spark, t, src(500 to 501, "w"), Seq("id"))
      finally { CowTable.preCommitHook = () => () }
    assert(m2.version == v0 + 2, s"rebased merge must land: $m2")
    val sch = m2.schema
    assert(sch.fields.forall(_.metadata.contains("graft.fid")),
      "the interleaved field-id assignment must survive the rebase, " +
        s"got schema ${sch.json}")
    // and the merge's own effect landed too
    val got = CowTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 102 && got(500L) == "w500" && got(0L) == "n0")
  }

  test("every stats commit declares v3; counted dv lines round-trip " +
      "through the reader") {
    val t = fixture()
    def header(v: Int): String =
      scala.io.Source.fromFile(
        java.nio.file.Paths.get(t, "manifest", s"v$v.manifest").toFile)
        .getLines().next()
    val v0 = CowTable.latestManifest(t).get.version
    assert(header(v0) == "graft-cow-manifest-v3")
    val m = CowTable.deleteWhere(spark, t, $"id" < 3L)
    assert(m.dvRunCounts.nonEmpty, "delete must record run counts")
    assert(header(m.version) == "graft-cow-manifest-v3",
      "v3 keeps dv lines (delta-sized) in the text, counted form intact")
    // the reader round-trips the counted form
    assert(CowTable.readManifest(t, m.version).dvRunCounts == m.dvRunCounts)
    assert(CowTable.read(spark, t).count() == 97)
  }

  test("two real threads: compaction vs streaming-style upsert both land") {
    val t = tailFixture()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val a = new Thread(() => {
      try { gate.await()
        CowTable.upsertMor(spark, t, src(900 to 904, "u"), Seq("id")) }
      catch { case e: Throwable => errs.add(e) }
    })
    val b = new Thread(() => {
      try { gate.await()
        CowTable.compactTable(spark, t, targetBytes = 1L << 20) }
      catch { case e: Throwable => errs.add(e) }
    })
    a.start(); b.start(); gate.countDown()
    a.join(120000); b.join(120000)
    // insert-only upsert touches no base file: BOTH must land in some
    // serial order (the upsert's appended rows survive a concurrent
    // compaction because the rebase carries head entries)
    assert(errs.isEmpty, s"a committer failed: ${errs.peek()}")
    assert(CowTable.latestManifest(t).get.version == 2)
    val got = CowTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 105)
    (900 to 904).foreach(i => assert(got(i.toLong) == s"u$i"))
    assert(got(0L) == "n0" && got(99L) == "n99")
  }
}
