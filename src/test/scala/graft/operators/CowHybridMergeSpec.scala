package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Cost-based COW/MOR hybrid merge: the write mode flips PER FILE from
  * match density — a clustered delta group-rewrites its dense file, a
  * scattered delta leaves every file in place behind deletion vectors,
  * and one mixed delta does both in a single commit — while the
  * relational result always equals the plain merge semantics. */
class CowHybridMergeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cow_hyb/" +
      java.util.UUID.randomUUID().toString.take(8)

  /** ids 0..199 in 4 files of 50 contiguous ids. */
  private def fixture(): String = {
    val t = freshTable()
    val df = (0L until 200L).map(i => (i, s"n$i", i * 1.0))
      .toDF("id", "name", "v")
      .withColumn("__f", (col("id") / 50L).cast("int") + 1)
    CowTable.initFiled(df, t, "__f", 4)
    t
  }

  private def rows(t: String): Map[Long, (String, Double)] =
    CowTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap

  private def merge(t: String, s: Seq[(Long, String, Double)]) =
    CowTable.mergeIntoHybrid(spark, t, s.toDF("id", "name", "v"),
      Seq("id"))

  private def expect(before: Map[Long, (String, Double)],
      s: Seq[(Long, String, Double)]): Map[Long, (String, Double)] =
    before ++ s.map(r => r._1 -> ((r._2, r._3)))

  test("a clustered delta group-rewrites its dense file (no DVs)") {
    val t = fixture()
    val before = rows(t)
    val m0 = CowTable.latestManifest(t).get
    // 40 of file 1's 50 rows match — density 0.8 >= 0.3 -> COW
    val s = (0L until 40L).map(i => (i, s"u$i", i * 10.0))
    val m = merge(t, s)
    assert(m.dvs.isEmpty, "dense merge must not write DVs")
    val file1 = m0.files.find(_.contains("__f=1")).get
    assert(!m.files.contains(file1), "dense file must be rewritten")
    assert(m0.files.filterNot(_ == file1).forall(m.files.contains),
      "untouched files must carry by reference")
    assert(rows(t) == expect(before, s))
  }

  test("a scattered delta keeps every file behind deletion vectors") {
    val t = fixture()
    val before = rows(t)
    val m0 = CowTable.latestManifest(t).get
    // one match per file (density 1/50 < 0.3) + a fresh insert -> MOR
    val s = Seq(5L, 55L, 105L, 155L).map(i => (i, s"u$i", i * 10.0)) :+
      ((500L, "new", 1.0))
    val m = merge(t, s)
    assert(m0.files.forall(m.files.contains),
      "scattered merge must not rewrite any base file")
    assert(m.dvs.nonEmpty, "scattered matches must land as DVs")
    // exactly 4 single-position runs
    val runs = spark.read.parquet(m.dvs: _*).collect()
    assert(runs.length == 4 && runs.forall(
      r => r.getLong(r.fieldIndex("len")) == 1L), s"runs: ${runs.toSeq}")
    assert(rows(t) == expect(before, s))
  }

  test("one mixed delta flips the mode per file in a single commit") {
    val t = fixture()
    val before = rows(t)
    val m0 = CowTable.latestManifest(t).get
    // dense in file 2 (45/50), one scattered match in file 4
    val s = (50L until 95L).map(i => (i, s"u$i", i * 10.0)) :+
      ((180L, "u180", 1800.0))
    val m = merge(t, s)
    val file2 = m0.files.find(_.contains("__f=2")).get
    val file4 = m0.files.find(_.contains("__f=4")).get
    assert(!m.files.contains(file2), "dense file must group-rewrite")
    assert(m.files.contains(file4), "sparse file must stay (MOR)")
    assert(m.dvs.nonEmpty)
    val runs = spark.read.parquet(m.dvs: _*).collect()
    assert(runs.length == 1 &&
      runs.head.getLong(runs.head.fieldIndex("len")) == 1L,
      s"only file 4's single match may DV: ${runs.toSeq}")
    assert(rows(t) == expect(before, s), "mixed merge diverged")
    // version arithmetic: ONE commit for the whole choice
    assert(m.version == m0.version + 1)
  }

  test("hybrid respects DVs: an already-deleted key re-inserts") {
    val t = fixture()
    CowTable.deleteWhere(spark, t, $"id" === 7L)
    val before = rows(t)
    assert(!before.contains(7L))
    val s = Seq((7L, "back", 70.0), (8L, "u8", 80.0))
    merge(t, s)
    val after = rows(t)
    assert(after(7L) == (("back", 70.0)), "deleted key must re-insert")
    assert(after(8L) == (("u8", 80.0)))
    assert(after.size == before.size + 1)
  }

  test("evolveSchema: a mixed COW/MOR merge absorbs a source-added column") {
    import org.apache.spark.sql.functions._
    val t = fixture()
    // dense on file 1 (40 of 50 keys -> COW rewrite) + scattered
    // stragglers (MOR) + inserts, all carrying NEW column `tag`
    val src = ((0L until 40L).map(i => (i, s"u$i", i * 2.0, s"t$i")) ++
      Seq((60L, "u60", 120.0, "t60"), (110L, "u110", 220.0, "t110"),
        (300L, "i300", 600.0, "t300")))
      .toDF("id", "name", "v", "tag")
    val m1 = CowTable.mergeIntoHybrid(spark, t, src, Seq("id"),
      evolveSchema = true)
    val sch = m1.schema
    assert(sch.fieldNames.toSeq == Seq("id", "name", "v", "tag"))
    val got = CowTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getString(3))))).toMap
    assert(got.size == 201)
    // merged rows (COW-rewritten, MOR postimages, inserts) carry tag
    (0L until 40L).foreach(i =>
      assert(got(i) == ((s"u$i", i * 2.0, Some(s"t$i")))))
    assert(got(60L) == (("u60", 120.0, Some("t60"))))
    assert(got(300L) == (("i300", 600.0, Some("t300"))))
    // carried rows NULL-extend: COW-carried unmatched (file 1's
    // 40..49) and fully untouched files alike
    (40L until 60L).foreach(i =>
      assert(got(i) == ((s"n$i", i * 1.0, None))))
    assert(got(150L) == (("n150", 150.0, None)))
  }
}
