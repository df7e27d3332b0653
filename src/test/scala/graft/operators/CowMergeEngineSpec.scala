package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The one merge engine under its three rules: `mergeInto` (every
  * matched file rewrites), `upsertMor` (every match dies by deletion
  * vector) and `mergeIntoHybrid` (per-file density; forced to either
  * extreme here) must each produce exactly what a plain-DataFrame model
  * of the merge produces, row for row, on a table that already carries
  * a DV delete — and each rule must leave its own file shape. */
class CowMergeEngineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val Deleted = 17L

  /** ids 0..199 in 4 files of 50 contiguous ids; id 17 DV-deleted. */
  private def fixture(): String = {
    val t = s"${System.getProperty("java.io.tmpdir")}/graft_cow_engine/" +
      java.util.UUID.randomUUID().toString.take(8)
    val df = (0L until 200L).map(i => (i, s"n$i", i * 1.0))
      .toDF("id", "name", "v")
      .withColumn("__f", (col("id") / 50L).cast("int") + 1)
    CowTable.initFiled(df, t, "__f", 4)
    CowTable.deleteWhere(spark, t, $"id" === Deleted)
    t
  }

  /** A seeded delta: updates of live ids, the DV-deleted id, fresh
    * inserts, and a `kill` flag on some updates (read only by the
    * deleteCond case). */
  private def delta(seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val updates = rnd.shuffle((0L until 200L).filterNot(_ == Deleted).toList)
      .take(5 + rnd.nextInt(30))
    val inserts = rnd.shuffle((200L until 260L).toList).take(1 + rnd.nextInt(8))
    ((Deleted :: updates) ++ inserts).map(i =>
      (i, s"s${seed}_$i", rnd.nextInt(1000) / 4.0, rnd.nextInt(4) == 0))
      .toDF("id", "name", "v", "kill")
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.select("id", "name", "v").orderBy("id").collect().toSeq

  /** Upsert model: every target row whose key the source carries is
    * replaced by the source row; every other source row inserts. */
  private def upsertModel(before: DataFrame, src: DataFrame): Seq[Row] =
    sorted(before.join(src, Seq("id"), "left_anti")
      .unionByName(src.select("id", "name", "v")))

  private val seeds = Seq(1L, 2L, 3L)

  private def checkRule(name: String, shape: (CowTable.Manifest,
      CowTable.Manifest) => Unit)(run: (String, DataFrame) => CowTable.Manifest)
      : Unit = test(s"$name equals the DataFrame model on seeded deltas") {
    seeds.foreach { seed =>
      val t = fixture()
      val m0 = CowTable.latestManifest(t).get
      val before = CowTable.read(spark, t).localCheckpoint()
      val src = delta(seed)
      val expected = upsertModel(before, src)
      val m = run(t, src)
      assert(m.version == m0.version + 1, s"seed $seed: one version")
      val got = sorted(CowTable.read(spark, t))
      assert(got == expected, s"seed $seed diverged from the model")
      assert(got.exists(_.getLong(0) == Deleted),
        s"seed $seed: the DV-deleted key must insert")
      shape(m0, m)
    }
  }

  private def noNewDv(m0: CowTable.Manifest, m: CowTable.Manifest): Unit =
    assert(m.dvs.toSet.subsetOf(m0.dvs.toSet), "rewrite-all must add no DV")

  private def noRemovedFile(m0: CowTable.Manifest, m: CowTable.Manifest): Unit = {
    assert(m0.files.forall(m.files.contains), "DV-all must remove no base file")
    assert(m.dvs.size > m0.dvs.size, "DV-all must add a DV")
  }

  checkRule("mergeInto (rewrite every matched file)", noNewDv)((t, s) =>
    CowTable.mergeInto(spark, t, s, Seq("id")))

  checkRule("upsertMor (DV every match)", noRemovedFile)((t, s) =>
    CowTable.upsertMor(spark, t, s, Seq("id")))

  checkRule("mergeIntoHybrid at denseFraction 0.0 (all rewrite)", noNewDv)((t, s) =>
    CowTable.mergeIntoHybrid(spark, t, s, Seq("id"), denseFraction = 0.0))

  checkRule("mergeIntoHybrid at denseFraction 1.01 (all DV)", noRemovedFile)((t, s) =>
    CowTable.mergeIntoHybrid(spark, t, s, Seq("id"), denseFraction = 1.01))

  test("mergeInto with deleteCond and insert = false equals its model") {
    seeds.foreach { seed =>
      val t = fixture()
      val before = CowTable.read(spark, t).localCheckpoint()
      val src = delta(seed)
      // matched rows with kill die, other matched rows update,
      // unmatched source rows are dropped
      val expected = sorted(before.join(src, Seq("id"), "left_anti")
        .unionByName(src.join(before.select("id"), Seq("id"), "left_semi")
          .filter(!$"kill").select("id", "name", "v")))
      CowTable.mergeInto(spark, t, src, Seq("id"),
        deleteCond = Some($"kill"), insert = false)
      assert(sorted(CowTable.read(spark, t)) == expected,
        s"seed $seed diverged from the model")
    }
  }

  test("an empty source commits nothing on all three entries") {
    val t = fixture()
    val v0 = CowTable.latestManifest(t).get.version
    val empty = Seq.empty[(Long, String, Double)].toDF("id", "name", "v")
    CowTable.mergeInto(spark, t, empty, Seq("id"))
    CowTable.upsertMor(spark, t, empty, Seq("id"))
    CowTable.mergeIntoHybrid(spark, t, empty, Seq("id"))
    assert(CowTable.latestManifest(t).get.version == v0)
  }
}
