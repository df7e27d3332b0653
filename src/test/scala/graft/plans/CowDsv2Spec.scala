package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.CowTable

/** The CoW lakehouse as a DSv2 table: SELECT / INSERT INTO / DELETE
  * FROM / UPDATE / MERGE INTO *statements* through [[GraftCatalog]],
  * group-based copy-on-write with runtime group filtering, the
  * deletion-vector fast path for convertible DELETEs, time travel, and
  * CTAS. */
class CowDsv2Spec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")

  private def freshTable(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cow_dsv2/" +
      java.util.UUID.randomUUID().toString.take(8)

  /** 80 rows in 4 deterministic files (id-clustered: file k holds
    * ids [20k, 20k+20)). */
  private def fixture(): String = {
    val t = freshTable()
    val df = (0L until 80L).map(i => (i, (i / 20 + 1).toInt, i * 10, s"n$i"))
      .toDF("id", "fid", "v", "name")
    CowTable.initFiled(df, t, "fid", 4)
    t
  }

  private def sqlTable(t: String): String = s"graft.`$t`"

  test("SELECT sees the DV-aware snapshot; metadata columns work") {
    val t = fixture()
    CowTable.deleteWhere(spark, t, $"id" % 10 === 3)
    val got = spark.sql(s"SELECT id, v FROM ${sqlTable(t)}")
      .as[(Long, Long)].collect().sortBy(_._1)
    val want = (0L until 80L).filter(_ % 10 != 3).map(i => (i, i * 10))
    assert(got.toSeq == want)
    // _file / _pos: 4 distinct files; positions are per-file row indexes
    val meta = spark.sql(
      s"SELECT _file, _pos, id FROM ${sqlTable(t)} WHERE id < 40")
      .collect()
    assert(meta.map(_.getString(0)).distinct.length == 2)
    assert(meta.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 20))
  }

  test("filter pushdown prunes files at scan planning") {
    val t = fixture()
    val table = new CowDsv2Table(t)
    val b = table.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
      .asInstanceOf[CowScanBuilder]
    val residual = b.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 60L)))
    assert(residual.length == 1, "filters stay residual (file-prune only)")
    val scan = b.build().asInstanceOf[CowBatchScan]
    assert(scan.planInputPartitions().length == 1,
      "stats pruning reaches DSv2 scan planning")
    // and the full read still returns exactly the matching rows
    val n = spark.sql(s"SELECT count(*) AS n FROM ${sqlTable(t)} " +
      "WHERE id >= 60").head().getLong(0)
    assert(n == 20)
  }

  test("INSERT INTO appends as a new version without touching old files") {
    val t = fixture()
    val before = CowTable.latestManifest(t).get
    spark.sql(s"INSERT INTO ${sqlTable(t)} VALUES " +
      "(100, 1000, 'x100'), (101, 1010, 'x101')")
    val after = CowTable.latestManifest(t).get
    assert(after.version == before.version + 1)
    assert(before.files.toSet.subsetOf(after.files.toSet))
    val got = CowTable.read(spark, t).count()
    assert(got == 82)
    assert(CowTable.read(spark, t).filter($"id" === 100L)
      .select("name").head().getString(0) == "x100")
  }

  test("convertible DELETE takes the deletion-vector fast path") {
    val t = fixture()
    val before = CowTable.latestManifest(t).get
    spark.sql(s"DELETE FROM ${sqlTable(t)} WHERE id >= 70")
    val after = CowTable.latestManifest(t).get
    assert(after.version == before.version + 1)
    assert(after.files.toSet == before.files.toSet,
      "metadata-only delete must not rewrite data files")
    assert(after.dvs.size > before.dvs.size, "a DV was written")
    assert(CowTable.read(spark, t).count() == 70)
    assert(spark.sql(s"SELECT count(*) AS n FROM ${sqlTable(t)}")
      .head().getLong(0) == 70)
  }

  test("non-convertible DELETE rewrites only the matching group") {
    val t = fixture()
    val before = CowTable.latestManifest(t).get
    // the subquery defeats filter conversion -> group-based COW path;
    // all matches live in file 4 (ids 60..79)
    spark.sql(s"DELETE FROM ${sqlTable(t)} WHERE id IN " +
      "(SELECT id * 2 FROM range(30, 40))")
    val after = CowTable.latestManifest(t).get
    assert(after.version == before.version + 1)
    val kept = before.files.toSet.intersect(after.files.toSet)
    assert(kept.size == 3,
      s"runtime group filtering must keep the 3 untouched files, kept=$kept")
    val got = CowTable.read(spark, t).select("id").as[Long]
      .collect().sorted
    val want = (0L until 80L).filterNot(i => i >= 60 && i < 80 && i % 2 == 0)
    assert(got.toSeq == want)
  }

  test("UPDATE rewrites matching groups, preserves the rest") {
    val t = fixture()
    CowTable.deleteWhere(spark, t, $"id" === 5L) // a DV must survive
    spark.sql(s"UPDATE ${sqlTable(t)} SET v = v + 1, name = 'upd' " +
      "WHERE id >= 60 AND id < 65")
    val got = CowTable.read(spark, t)
      .select("id", "v", "name").as[(Long, Long, String)]
      .collect().sortBy(_._1)
    assert(got.length == 79)
    assert(!got.exists(_._1 == 5L), "the DV survives the update")
    got.foreach { case (id, v, name) =>
      if (id >= 60 && id < 65) assert(v == id * 10 + 1 && name == "upd")
      else assert(v == id * 10 && name == s"n$id")
    }
  }

  test("MERGE INTO: delete/update/insert actions match the relational oracle") {
    val t = fixture()
    val before = CowTable.latestManifest(t).get
    // source: even ids in [40, 100) with doubled v; kill ids in [40, 50)
    (40L until 100L by 2).map(i => (i, i * 20, s"m$i", i < 50))
      .toDF("id", "v", "name", "kill")
      .createOrReplaceTempView("dsv2_merge_src")
    spark.sql(
      s"""MERGE INTO ${sqlTable(t)} t
         |USING (SELECT id, v, name, kill FROM dsv2_merge_src) s
         |ON t.id = s.id
         |WHEN MATCHED AND s.kill THEN DELETE
         |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.name = s.name
         |WHEN NOT MATCHED THEN INSERT (id, v, name)
         |  VALUES (s.id, s.v, s.name)""".stripMargin)
    val after = CowTable.latestManifest(t).get
    assert(after.version == before.version + 1)
    // matches live in files 3 and 4 (ids >= 40) — files 1,2 carried
    assert(before.files.toSet.intersect(after.files.toSet).size == 2,
      "merge rewrote only the matched groups")
    val got = CowTable.read(spark, t)
      .select("id", "v", "name").as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq
    val base = (0L until 80L).map(i => (i, i * 10, s"n$i"))
    val want = (base.filterNot { case (i, _, _) =>
        i >= 40 && i < 50 && i % 2 == 0 } // killed
      .map { case (i, v, n) =>
        if (i >= 50 && i % 2 == 0) (i, i * 20, s"m$i") else (i, v, n) } ++
      (80L until 100L by 2).map(i => (i, i * 20, s"m$i"))) // inserted
      .sortBy(_._1)
    assert(got == want)
  }

  test("VERSION AS OF time travel reads older snapshots") {
    val t = fixture()
    spark.sql(s"DELETE FROM ${sqlTable(t)} WHERE id < 40")
    assert(spark.sql(s"SELECT count(*) AS n FROM ${sqlTable(t)}")
      .head().getLong(0) == 40)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM ${sqlTable(t)} VERSION AS OF 0")
      .head().getLong(0) == 80)
  }

  test("TIMESTAMP AS OF resolves at-or-before; pre-history fails loudly") {
    val t = fixture()
    val v0 = CowTable.latestManifest(t).get.version
    CowTable.deleteWhere(spark, t, $"id" < 10L)
    val base = 1700000000000L
    CowTable.stampCommitTime(t, v0, base)
    CowTable.stampCommitTime(t, v0 + 1, base + 1000L)
    // boundary: a read at exactly a commit's instant sees that commit
    assert(CowTable.snapshotAsOf(t, base).version == v0)
    // mid-window resolves backward to the newest at-or-before commit
    assert(CowTable.snapshotAsOf(t, base + 500L).version == v0)
    assert(CowTable.readAsOf(spark, t, base + 500L).count() == 80)
    // second boundary and beyond: the newer snapshot
    assert(CowTable.snapshotAsOf(t, base + 1000L).version == v0 + 1)
    assert(CowTable.readAsOf(spark, t, base + 99999L).count() == 70)
    // SQL surface (alongside the VERSION AS OF case)
    assert(spark.sql(s"SELECT count(*) AS n FROM ${sqlTable(t)} " +
      s"TIMESTAMP AS OF timestamp_millis(${base + 500L})")
      .head().getLong(0) == 80L)
    assert(spark.sql(s"SELECT count(*) AS n FROM ${sqlTable(t)} " +
      s"TIMESTAMP AS OF timestamp_millis(${base + 1000L})")
      .head().getLong(0) == 70L)
    // pre-history: a loud error, never the oldest surviving snapshot
    val e = intercept[IllegalArgumentException] {
      CowTable.snapshotAsOf(t, base - 1L)
    }
    assert(e.getMessage.contains("earliest retained"))
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM ${sqlTable(t)} " +
        s"TIMESTAMP AS OF timestamp_millis(${base - 1L})").collect()
    }
    assert(rootCauses(e2).exists(_.getMessage != null) &&
      rootCauses(e2).exists(c => Option(c.getMessage)
        .exists(_.contains("earliest retained"))), s"got: $e2")
  }

  test("CTAS creates a table readable and mergeable by both APIs") {
    val t = freshTable()
    spark.sql(s"CREATE TABLE ${sqlTable(t)} AS " +
      "SELECT id, id * 3 AS w FROM range(0, 50)")
    assert(CowTable.read(spark, t).count() == 50)
    assert(CowTable.read(spark, t).filter($"id" === 7L)
      .select("w").head().getLong(0) == 21)
    // the scala-API merge composes with a SQL-created table
    CowTable.mergeInto(spark, t,
      Seq((7L, 700L), (50L, 150L)).toDF("id", "w"), Seq("id"))
    val got = spark.sql(s"SELECT w FROM ${sqlTable(t)} WHERE id IN (7, 50)")
      .as[Long].collect().sorted
    assert(got.toSeq == Seq(150L, 700L))
  }

  test("row-level SQL writes on a partitioned table keep exact tuples") {
    val t = freshTable()
    val df = (0L until 100L).map(i => (i, s"r${i / 25}", i * 2))
      .toDF("id", "region", "v")
    CowTable.initPartitioned(df, t, Seq("region"))
    spark.sql(s"UPDATE ${sqlTable(t)} SET v = v + 1 WHERE id % 5 = 0")
    val m = CowTable.latestManifest(t).get
    // every data file of the rewritten snapshot still records its tuple
    val parts = CowTable.entriesDF(spark, t, m)
      .filter(col("kind") === "data").select("part").collect()
    assert(parts.nonEmpty && parts.forall(!_.isNullAt(0)),
      "a rewritten file lost its partition tuple")
    // partition pruning stays exact after the SQL rewrite
    val planned = CowTable.pruneDataFiles(spark, t, m, $"region" === "r2")
    assert(planned.nonEmpty && planned.size < m.files.size)
    assert(planned.forall(_.contains("__p_region=r2")))
    // and the rows are right
    val got = CowTable.read(spark, t).select("id", "v")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(got.length == 100)
    got.foreach { case (id, v) =>
      assert(v == id * 2 + (if (id % 5 == 0) 1 else 0)) }
  }

  private def inMorMode[T](f: => T): T = {
    spark.conf.set(CowDsv2.MorModeConf, "mor")
    try f finally spark.conf.set(CowDsv2.MorModeConf, "cow")
  }

  test("merge-on-read MERGE: DVs + appends, every base file carried") {
    val t = fixture()
    val before = CowTable.latestManifest(t).get
    (40L until 100L by 2).map(i => (i, i * 20, s"m$i", i < 50))
      .toDF("id", "v", "name", "kill")
      .createOrReplaceTempView("dsv2_mor_merge_src")
    inMorMode {
      spark.sql(
        s"""MERGE INTO ${sqlTable(t)} t
           |USING (SELECT id, v, name, kill FROM dsv2_mor_merge_src) s
           |ON t.id = s.id
           |WHEN MATCHED AND s.kill THEN DELETE
           |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.name = s.name
           |WHEN NOT MATCHED THEN INSERT (id, v, name)
           |  VALUES (s.id, s.v, s.name)""".stripMargin)
    }
    val after = CowTable.latestManifest(t).get
    assert(after.version == before.version + 1)
    assert(before.files.toSet.subsetOf(after.files.toSet),
      "merge-on-read must not remove/rewrite base data files")
    assert(after.dvs.size > before.dvs.size,
      "deleted + updated rows must land as deletion vectors")
    assert(after.files.size > before.files.size,
      "updated images + inserts must land as appended files")
    // identical relational outcome to the copy-on-write merge test
    val got = CowTable.read(spark, t)
      .select("id", "v", "name").as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq
    val base = (0L until 80L).map(i => (i, i * 10, s"n$i"))
    val want = (base.filterNot { case (i, _, _) =>
        i >= 40 && i < 50 && i % 2 == 0 }
      .map { case (i, v, n) =>
        if (i >= 50 && i % 2 == 0) (i, i * 20, s"m$i") else (i, v, n) } ++
      (80L until 100L by 2).map(i => (i, i * 20, s"m$i")))
      .sortBy(_._1)
    assert(got == want)
    // and the DSv2 read agrees with the Scala-API read
    assert(spark.sql(s"SELECT count(*) AS n FROM ${sqlTable(t)}")
      .head().getLong(0) == want.length.toLong)
  }

  test("merge-on-read UPDATE splits into DV + re-insert; DVs compose") {
    val t = fixture()
    CowTable.deleteWhere(spark, t, $"id" === 5L) // a prior DV must survive
    val before = CowTable.latestManifest(t).get
    inMorMode {
      spark.sql(s"UPDATE ${sqlTable(t)} SET v = v + 1, name = 'upd' " +
        "WHERE id >= 60 AND id < 65")
    }
    val after = CowTable.latestManifest(t).get
    assert(before.files.toSet.subsetOf(after.files.toSet))
    assert(after.dvs.size > before.dvs.size)
    val got = CowTable.read(spark, t)
      .select("id", "v", "name").as[(Long, Long, String)]
      .collect().sortBy(_._1)
    assert(got.length == 79 && !got.exists(_._1 == 5L))
    got.foreach { case (id, v, name) =>
      if (id >= 60 && id < 65) assert(v == id * 10 + 1 && name == "upd")
      else assert(v == id * 10 && name == s"n$id")
    }
    // rewriteDeletes materializes the MOR state losslessly
    CowTable.rewriteDeletes(spark, t)
    assert(CowTable.latestManifest(t).get.dvs.isEmpty)
    assert(CowTable.read(spark, t).count() == 79)
  }

  test("merge-on-read non-convertible DELETE writes only DVs") {
    val t = fixture()
    val before = CowTable.latestManifest(t).get
    inMorMode {
      spark.sql(s"DELETE FROM ${sqlTable(t)} WHERE id IN " +
        "(SELECT id * 2 FROM range(30, 40))")
    }
    val after = CowTable.latestManifest(t).get
    assert(after.files.toSet == before.files.toSet,
      "a MOR delete adds no data files and removes none")
    assert(after.dvs.size > before.dvs.size)
    val got = CowTable.read(spark, t).select("id").as[Long].collect().sorted
    val want = (0L until 80L).filterNot(i => i >= 60 && i % 2 == 0)
    assert(got.toSeq == want)
  }

  test("merge-on-read rewrites on a partitioned table keep exact tuples") {
    val t = freshTable()
    val df = (0L until 100L).map(i => (i, s"r${i / 25}", i * 2))
      .toDF("id", "region", "v")
    CowTable.initPartitioned(df, t, Seq("region"))
    inMorMode {
      spark.sql(s"UPDATE ${sqlTable(t)} SET v = v + 1 WHERE id % 5 = 0")
    }
    val m = CowTable.latestManifest(t).get
    val parts = CowTable.entriesDF(spark, t, m)
      .filter(col("kind") === "data").select("part").collect()
    assert(parts.nonEmpty && parts.forall(!_.isNullAt(0)),
      "a MOR-appended file lost its partition tuple")
    val planned = CowTable.pruneDataFiles(spark, t, m, $"region" === "r2")
    assert(planned.forall(_.contains("__p_region=r2")))
    val got = CowTable.read(spark, t).select("id", "v")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(got.length == 100)
    got.foreach { case (id, v) =>
      assert(v == id * 2 + (if (id % 5 == 0) 1 else 0)) }
  }

  // ---- round-15: phantom protection on the DSv2 row-level delta path
  // (the connector never sees the MERGE's ON keys, so a lost race must
  // refuse loudly when the interleaved commit added data files — a
  // silent rebase would land duplicate keys, the exact anomaly the
  // Scala path's source-key check refuses)

  /** One-shot deterministic race: the FIRST commit attempt first lands
    * `competing` (CowConcurrencySpec's replay technique). */
  private def raceOnce(competing: () => Unit): Unit = {
    CowTable.preCommitHook = { () =>
      CowTable.preCommitHook = () => ()
      competing()
    }
  }

  private def rootCauses(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq

  test("MOR MERGE racing a concurrent insert of the same key fails loudly, never duplicates") {
    val t = fixture()
    Seq((500L, 1L, "sql")).toDF("id", "v", "name")
      .createOrReplaceTempView("dsv2_race_src")
    // the competing winner inserts the SAME key from the same base
    raceOnce(() => CowTable.mergeInto(spark, t,
      Seq((500L, 26, 123L, "conc")).toDF("id", "fid", "v", "name"),
      Seq("id")))
    try {
      val e = intercept[Exception] {
        inMorMode {
          spark.sql(
            s"""MERGE INTO ${sqlTable(t)} t
               |USING dsv2_race_src s ON t.id = s.id
               |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.name = s.name
               |WHEN NOT MATCHED THEN INSERT (id, v, name)
               |  VALUES (s.id, s.v, s.name)""".stripMargin)
        }
      }
      assert(rootCauses(e).exists(c =>
        c.isInstanceOf[java.util.ConcurrentModificationException] &&
          c.getMessage.contains("phantom")), s"got: $e")
    } finally CowTable.preCommitHook = () => ()
    assert(spark.sql(s"SELECT count(*) AS n FROM ${sqlTable(t)} " +
      "WHERE id = 500").head().getLong(0) == 1L,
      "the race must leave exactly the winner's row, never a duplicate")
  }

  test("MOR DELETE rebases over a concurrent MOR delete in another file") {
    val t = fixture()
    val v0 = CowTable.latestManifest(t).get.version
    // competing MOR delete in file 4 (ids 60..79): adds NO data files,
    // touches a file our delete does not — a sound rebase
    raceOnce(() => CowTable.deleteWhere(spark, t, $"id" === 70L))
    try inMorMode {
      // subquery keeps the DELETE non-convertible => row-level delta path
      spark.sql(s"DELETE FROM ${sqlTable(t)} WHERE id IN " +
        "(SELECT id FROM range(0, 5))")
    } finally CowTable.preCommitHook = () => ()
    val m = CowTable.latestManifest(t).get
    assert(m.version == v0 + 2, s"both deletes must land: $m")
    val ids = spark.sql(s"SELECT id FROM ${sqlTable(t)}")
      .as[Long].collect().toSet
    assert(ids == (5L until 80L).toSet - 70L,
      "sequential equality: both deletes applied exactly once")
  }

  test("a stale-base DSv2 commit rebases when disjoint, refuses on conflict") {
    val t = fixture()
    val table = new CowDsv2Table(t) // pins the base version
    val before = table.manifest
    CowTable.deleteWhere(spark, t, $"id" === 0L) // someone else commits
    // disjoint (pure append, nothing removed): the stale base VALIDATES
    // against the real head and rebases — both writers land, and the
    // interleaved delete survives the rebased commit
    val m2 = CowTable.rowLevelCommit(spark, "INSERT INTO", t, before)
    assert(m2.version == before.version + 2, s"$m2")
    assert(CowTable.read(spark, t).filter($"id" === 0L).count() == 0,
      "the interleaved delete was lost by the rebase")
    // conflicting: a stale-base commit REMOVING a file the interleaved
    // delete targeted still fails loudly
    val table2 = new CowDsv2Table(t)
    val base2 = table2.manifest
    CowTable.deleteWhere(spark, t, $"id" === 1L)
    val ex = intercept[java.util.ConcurrentModificationException] {
      CowTable.rowLevelCommit(spark, "DELETE", t, base2,
        removed = base2.files)
    }
    assert(ex.getMessage.contains("concurrent"))
  }
}
