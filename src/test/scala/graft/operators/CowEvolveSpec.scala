package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Stable-column-id schema evolution ([[CowTable.alterTable]]):
  * rename, drop, and type widening as METADATA-ONLY commits — no data
  * file rewritten — with reads resolving renamed fields through their
  * recorded prior names on every path (Scala snapshot read, DSv2/SQL,
  * stats pruning, min/max planning), widened fields upcasting through
  * the parquet reader's native promotion, and mutations (merge, DV
  * delete) working on the evolved schema over pre-evolution files. */
class CowEvolveSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cow_evolve/" +
      java.util.UUID.randomUUID().toString.take(8)

  /** 100 rows over 4 ranged files: (id long, v int, name string,
    * note string). */
  private def fixture(): String = {
    val t = freshTable()
    val df = (0L until 100L).map(i =>
        (i, i.toInt, s"n$i", s"note$i"))
      .toDF("id", "v", "name", "note")
      .withColumn("__f", (col("id") / 25L).cast("int") + 1)
    CowTable.initFiled(df, t, "__f", 4)
    t
  }

  test("rename + widen + drop is one metadata-only commit; old files' values survive") {
    val t = fixture()
    val m0 = CowTable.latestManifest(t).get
    val m1 = CowTable.alterTable(spark, t,
      renames = Map("v" -> "val"), drops = Seq("note"),
      widens = Map("v" -> LongType))
    assert(m1.version == m0.version + 1)
    assert(m1.files == m0.files, "no data file may be rewritten")
    val sch = m1.schema
    assert(sch.fieldNames.toSeq == Seq("id", "val", "name"))
    assert(sch("val").dataType == LongType)
    assert(CowTable.prevNamesOf(sch("val")) == Seq("v"))
    assert(sch.fields.forall(f => CowTable.fieldIdOf(f).isDefined),
      "first evolution must assign stable ids")
    // pre-evolution values readable under the new name at the new type
    val got = CowTable.read(spark, t).select("id", "val", "name")
      .as[(Long, Long, String)].collect().toMap2
    assert(got.size == 100 && got((7L, 7L)) == "n7")
    // dropped column is gone
    assert(!CowTable.read(spark, t).columns.contains("note"))
  }

  private implicit class Tup3Ops(rows: Array[(Long, Long, String)]) {
    def toMap2: Map[(Long, Long), String] =
      rows.map(r => (r._1, r._2) -> r._3).toMap
  }

  test("post-evolution writes store the widened type; mixed files read as one") {
    val t = fixture()
    CowTable.alterTable(spark, t, renames = Map("v" -> "val"),
      drops = Seq("note"), widens = Map("v" -> LongType))
    // merge rows whose widened value EXCEEDS int range — proves the
    // new files physically store long
    val src = Seq((200L, 3000000007L, "big"), (10L, 4000000009L, "upd"))
      .toDF("id", "val", "name")
    CowTable.mergeInto(spark, t, src, Seq("id"))
    val got = CowTable.read(spark, t)
      .select("id", "val").as[(Long, Long)].collect().toMap
    assert(got(200L) == 3000000007L && got(10L) == 4000000009L)
    assert(got(11L) == 11L, "pre-evolution row survived the merge")
    assert(got.size == 101)
  }

  test("DV delete on the RENAMED column hits pre-evolution files; reads stay exact") {
    val t = fixture()
    CowTable.alterTable(spark, t, renames = Map("v" -> "val"),
      widens = Map("v" -> LongType))
    val m = CowTable.deleteWhere(spark, t, col("val") % 10L === 3L)
    assert(m.dvs.nonEmpty, "delete must land as a DV")
    val ids = CowTable.read(spark, t).select("id").as[Long].collect().toSet
    assert(ids == (0L until 100L).filter(_ % 10 != 3).toSet)
  }

  test("stats pruning stays exact through rename+widen (old sidecar keys fold)") {
    val t = fixture()
    CowTable.alterTable(spark, t, renames = Map("v" -> "val"),
      widens = Map("v" -> LongType))
    // files hold id ranges [0,25) [25,50) [50,75) [75,100); val == id
    val (planned, total) = CowTable.pruneReport(spark, t,
      col("val") >= 30L && col("val") <= 40L)
    assert(total == 4 && planned == 1,
      s"pre-evolution stats must prune under the new name: $planned/$total")
    val n = CowTable.readWhere(spark, t,
      col("val") >= 30L && col("val") <= 40L).count()
    assert(n == 11L)
    // min/max planning resolves old stats under the new name too
    assert(CowTable.minWhere(spark, t, "val", col("id") >= 50L)
      .contains(50L))
  }

  test("SQL/DSv2 read path resolves renamed + widened columns on old files") {
    val t = fixture()
    CowTable.alterTable(spark, t, renames = Map("v" -> "val"),
      drops = Seq("note"), widens = Map("v" -> LongType))
    CowTable.deleteWhere(spark, t, col("val") === 5L)
    spark.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val rows = spark.sql(
      s"SELECT id, val, name FROM graft.`$t` WHERE val BETWEEN 3 AND 7")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((3L, 3L, "n3"), (4L, 4L, "n4"),
      (6L, 6L, "n6"), (7L, 7L, "n7")))
  }

  test("int -> decimal(p,0) widens metadata-only; old files upcast, merges mix") {
    val t = fixture()
    CowTable.alterTable(spark, t, widens = Map("v" -> DecimalType(12, 0)))
    val m = CowTable.latestManifest(t).get
    assert(m.schema("v").dataType === DecimalType(12, 0))
    // pre-widen files serve their int values upcast natively
    val s = CowTable.read(spark, t)
      .agg(sum($"v")).head().getDecimal(0)
    assert(s.longValueExact() === (0L until 100L).sum)
    // a merge writes true decimals; the mixed set reads as one
    val src = Seq((7L, new java.math.BigDecimal(99999999999L), "u7", "x"))
      .toDF("id", "v", "name", "note")
      .select($"id", $"v".cast(DecimalType(12, 0)).as("v"), $"name", $"note")
    CowTable.mergeInto(spark, t, src, Seq("id"))
    assert(CowTable.read(spark, t).filter($"id" === 7L)
      .head().getDecimal(1).longValueExact() === 99999999999L)
    // stats pruning stays exact across the widen (old sidecar ints
    // parse into the decimal stats struct)
    val (planned, total) = CowTable.pruneReport(spark, t,
      $"v" >= 10 && $"v" <= 20)
    assert(total >= 4 && planned < total)
    assert(CowTable.readWhere(spark, t, $"v" >= 10 && $"v" <= 20)
      .count() === 11L)
    // too-narrow and nonzero-scale targets are refused
    intercept[IllegalArgumentException] {
      CowTable.alterTable(spark, fixture(),
        widens = Map("v" -> DecimalType(8, 0)))
    }
    intercept[IllegalArgumentException] {
      CowTable.alterTable(spark, fixture(),
        widens = Map("v" -> DecimalType(12, 2)))
    }
  }

  test("guards: partition columns, invalid widenings, historical-name reuse") {
    val t = freshTable()
    CowTable.initPartitioned((0L until 40L).map(i =>
        (i, i.toInt, s"p${i % 4}")).toDF("id", "v", "p"), t, Seq("p"))
    intercept[IllegalArgumentException] {
      CowTable.alterTable(spark, t, renames = Map("p" -> "p2"))
    }
    intercept[IllegalArgumentException] {
      CowTable.alterTable(spark, t, widens = Map("v" -> StringType))
    }
    val t2 = fixture()
    CowTable.alterTable(spark, t2, renames = Map("v" -> "val"))
    // resurrecting the historical name must be refused on both surfaces
    intercept[IllegalArgumentException] {
      CowTable.alterTable(spark, t2, renames = Map("name" -> "v"))
    }
    val bad = (0L until 3L).map(i => (i, i + 1L, s"x$i", 1L))
      .toDF("id", "val", "name", "v")
    intercept[IllegalArgumentException] {
      CowTable.mergeInto(spark, t2, bad, Seq("id"), evolveSchema = true)
    }
  }

  test("a DROPPED column's name is tombstoned: re-add is refused on " +
      "every evolution surface, and the tombstone survives later commits") {
    val t = fixture()
    // note was renamed first, so its prev chain must tombstone too
    CowTable.alterTable(spark, t, renames = Map("note" -> "remark"))
    CowTable.alterTable(spark, t, drops = Seq("remark"))
    val m = CowTable.latestManifest(t).get
    assert(m.droppedNames == Set("remark", "note"))
    // old files still physically carry the column under its old name —
    // a re-add would resolve their stale values into the new field
    intercept[IllegalArgumentException] {
      CowTable.alterTable(spark, t, adds = Seq("remark" -> LongType))
    }
    intercept[IllegalArgumentException] {
      CowTable.alterTable(spark, t, adds = Seq("note" -> StringType))
    }
    intercept[IllegalArgumentException] {
      CowTable.alterTable(spark, t, renames = Map("name" -> "note"))
    }
    val bad = (0L until 3L).map(i => (i, (i + 1).toInt, s"x$i", 1L))
      .toDF("id", "v", "name", "note")
    val e1 = intercept[IllegalArgumentException] {
      CowTable.mergeInto(spark, t, bad, Seq("id"), evolveSchema = true)
    }
    assert(e1.getMessage.contains("historical column name"))
    val e2 = intercept[IllegalArgumentException] {
      CowTable.upsertMor(spark, t, bad, Seq("id"), evolveSchema = true)
    }
    assert(e2.getMessage.contains("historical column name"))
    // tombstones ride ordinary data commits (the drop's guard must
    // outlive retention cleanup of the manifest that recorded it)
    CowTable.mergeInto(spark, t,
      (0L until 3L).map(i => (i, (i + 10).toInt, s"y$i"))
        .toDF("id", "v", "name"),
      Seq("id"))
    assert(CowTable.latestManifest(t).get.droppedNames ==
      Set("remark", "note"))
    // a FRESH name still evolves fine
    val ok = (0L until 3L).map(i => (i, (i + 1).toInt, s"z$i", 7L))
      .toDF("id", "v", "name", "memo")
    CowTable.mergeInto(spark, t, ok, Seq("id"), evolveSchema = true)
    assert(CowTable.latestManifest(t).get.schema.fieldNames
      .contains("memo"))
  }

  test("the transparent skip RULE prunes through the rename-resolution projection") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val t = fixture()
    CowTable.alterTable(spark, t, renames = Map("v" -> "val"),
      widens = Map("v" -> LongType))
    graft.plans.CowSkipApi.enable(spark)
    // plain read().filter — no readWhere anywhere; the predicate is on
    // the RENAMED column, old sidecar stats keyed by the prior name
    val q = CowTable.read(spark, t)
      .filter(col("val") >= 30L && col("val") <= 40L)
    val planned = q.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
    assert(planned.size == 1,
      s"rule must prune 4 ranged files to 1 through the projection: " +
        s"${planned.size}")
    assert(q.count() == 11L)
    // soundness guard: a USER projection that remaps names must NOT be
    // treated as rename resolution — pruning `id AS val` with val's
    // stats would drop every file here (val = id + 1000, so no file's
    // val range overlaps [30,40]) and return 0 rows
    val t2 = freshTable()
    CowTable.init((0L until 100L).map(i => (i, i + 1000L, s"n$i"))
      .toDF("id", "val", "name")
      .repartitionByRange(4, col("id")), t2)
    CowTable.alterTable(spark, t2, renames = Map("name" -> "label"))
    val remapped = CowTable.read(spark, t2)
      .select(col("id").as("val"), col("label"))
      .filter(col("val") >= 30L && col("val") <= 40L)
    assert(remapped.count() == 11L,
      "a user x-AS-y remap must never prune with y's stats")
  }

  test("ALTER TABLE SQL statements drive the same evolution") {
    val t = fixture()
    spark.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    spark.sql(s"ALTER TABLE graft.`$t` RENAME COLUMN v TO val")
    spark.sql(s"ALTER TABLE graft.`$t` ALTER COLUMN val TYPE bigint")
    spark.sql(s"ALTER TABLE graft.`$t` DROP COLUMN note")
    val sch = CowTable.latestManifest(t).get.schema
    assert(sch.fieldNames.toSeq == Seq("id", "val", "name"))
    assert(sch("val").dataType == LongType)
    assert(CowTable.prevNamesOf(sch("val")) == Seq("v"))
    val got = spark.sql(s"SELECT val FROM graft.`$t` WHERE id = 42")
      .as[Long].head()
    assert(got == 42L)
    // an unsupported widening is refused loudly through SQL too
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$t` ALTER COLUMN val TYPE string")
    }
    assert(e.getMessage.contains("widen") ||
      e.getMessage.toLowerCase.contains("cannot"), e.getMessage)
  }

  test("the change feed speaks the latest schema: a rename/widen/drop is change-free") {
    val t = fixture()
    val v0 = CowTable.latestManifest(t).get.version
    CowTable.alterTable(spark, t, renames = Map("v" -> "val"),
      drops = Seq("note"), widens = Map("v" -> LongType))
    val v1 = CowTable.latestManifest(t).get.version
    // metadata-only evolution nets out — no false pre/post storm
    val evoSlice = CowTable.tableChanges(spark, t, v0, v1, Seq("id"))
    assert(evoSlice.count() == 0L,
      "a metadata-only rename/widen/drop must be change-free in the feed")
    assert(evoSlice.columns.contains("val") &&
      !evoSlice.columns.contains("v") && !evoSlice.columns.contains("note"),
      s"feed must speak the latest schema: ${evoSlice.columns.toSeq}")
    // a post-evolution merge emits its changes under the NEW names,
    // with pre-evolution rows' preimages mapped forward
    CowTable.mergeInto(spark, t,
      Seq((10L, 4000000009L, "upd"), (300L, 300L, "new"))
        .toDF("id", "val", "name"), Seq("id"))
    val v2 = CowTable.latestManifest(t).get.version
    val slice = CowTable.tableChanges(spark, t, v1, v2, Seq("id"))
      .select("id", "val", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(slice == Set(
      (10L, 10L, "update_preimage"),        // old value under NEW name/type
      (10L, 4000000009L, "update_postimage"),
      (300L, 300L, "insert")), s"got $slice")
    // a consumer following across the evolution reconstructs exactly
    val seen = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    val hi = graft.streaming.CowFollow.catchUp(spark, t, Seq("id"), v0) {
      (s, v) => seen += ((v, s.count()))
    }
    assert(hi == v2 && seen.toSeq == Seq((v1, 0L), (v2, 3L)))
  }

  test("a rename chain (two renames) resolves files from every generation") {
    val t = fixture()
    CowTable.alterTable(spark, t, renames = Map("v" -> "val"))
    CowTable.mergeInto(spark, t,
      Seq((300L, 300, "gen2", "note300")).toDF("id", "val", "name", "note"),
      Seq("id"))
    CowTable.alterTable(spark, t, renames = Map("val" -> "value"),
      widens = Map("val" -> LongType))
    CowTable.mergeInto(spark, t,
      Seq((400L, 5000000001L, "gen3", "note400"))
        .toDF("id", "value", "name", "note"), Seq("id"))
    val sch = CowTable.latestManifest(t).get.schema
    assert(CowTable.prevNamesOf(sch("value")) == Seq("v", "val"))
    val got = CowTable.read(spark, t).select("id", "value")
      .as[(Long, Long)].collect().toMap
    assert(got(7L) == 7L, "generation-1 file (physical name v)")
    assert(got(300L) == 300L, "generation-2 file (physical name val)")
    assert(got(400L) == 5000000001L, "generation-3 file (physical name value)")
    assert(got.size == 102)
  }

  test("ALTER TABLE ADD COLUMN appends nullable; old rows NULL-extend") {
    val t = fixture()
    spark.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val m0 = CowTable.latestManifest(t).get
    spark.sql(s"ALTER TABLE graft.`$t` ADD COLUMN score double")
    val m1 = CowTable.latestManifest(t).get
    assert(m1.files == m0.files, "ADD COLUMN must be metadata-only")
    val sch = m1.schema
    assert(sch.fieldNames.toSeq == Seq("id", "v", "name", "note", "score"))
    assert(sch("score").nullable &&
      CowTable.fieldIdOf(sch("score")).isDefined)
    // every path NULL-extends: Scala snapshot read and DSv2/SQL
    assert(CowTable.read(spark, t)
      .filter(col("score").isNull).count() === 100L)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$t` WHERE score IS NULL")
      .head().getLong(0) === 100L)
    // a resurrected historical name refuses
    CowTable.alterTable(spark, t, renames = Map("note" -> "memo"))
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$t` ADD COLUMN note string")
    }
    assert(e.getMessage.contains("collides"), e.getMessage)
  }

  test("upsertMor evolves the schema inside the delta commit (CDC new-field)") {
    val t = fixture()
    val m0 = CowTable.latestManifest(t).get
    // the upstream added `score`: one MOR upsert absorbs it — DVs kill
    // the matched rows, postimages carry the new column, untouched
    // files NULL-extend, NO base file rewrites
    val src = (40L until 60L).map(i => (i, (2 * i).toInt, s"u$i",
        s"unote$i", i * 0.5)).toDF("id", "v", "name", "note", "score")
    val m1 = CowTable.upsertMor(spark, t, src, Seq("id"),
      evolveSchema = true)
    assert(m0.files.forall(m1.files.contains), "MOR must not rewrite")
    val sch = m1.schema
    assert(sch.fieldNames.toSeq ==
      Seq("id", "v", "name", "note", "score"))
    assert(sch("score").nullable)
    val rows = CowTable.read(spark, t).collect()
      .map(r => r.getLong(0) ->
        (r.getString(2), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toMap
    assert(rows.size == 100)
    (40L until 60L).foreach(i => assert(rows(i) == (s"u$i", Some(i * 0.5))))
    (0L until 40L).foreach(i => assert(rows(i) == (s"n$i", None)))
    // a second evolving upsert with NO new columns is a plain upsert
    val m2 = CowTable.upsertMor(spark, t, src, Seq("id"),
      evolveSchema = true)
    assert(m2.version == m1.version + 1 &&
      m2.schemaJson == m1.schemaJson)
    // historical-name resurrection refuses loudly
    CowTable.alterTable(spark, t, renames = Map("note" -> "memo"))
    val bad = (0L until 3L).map(i => (i, i.toInt, s"x$i", s"m$i", 0.0, "zz"))
      .toDF("id", "v", "name", "memo", "score", "note")
    val e = intercept[IllegalArgumentException] {
      CowTable.upsertMor(spark, t, bad, Seq("id"), evolveSchema = true)
    }
    assert(e.getMessage.contains("historical"), e.getMessage)
  }

  test("MERGE WITH SCHEMA EVOLUTION evolves the target inside the statement") {
    val t = fixture()
    spark.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    // source updates ids 40..59 (doubling v), inserts 100..109, and
    // carries a NEW column `flag` the target lacks
    (40L until 110L).filterNot(i => i >= 60L && i < 100L)
      .map(i => (i, (2 * i).toInt, s"m$i", s"mnote$i", i % 3))
      .toDF("id", "v", "name", "note", "flag")
      .createOrReplaceTempView("evolve_merge_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$t` tgt
         |USING evolve_merge_src s
         |ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val sch = CowTable.latestManifest(t).get.schema
    assert(sch.fieldNames.toSeq == Seq("id", "v", "name", "note", "flag"))
    assert(sch("flag").nullable && sch("flag").dataType == LongType)
    val rows = CowTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> (r.getInt(1),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(rows.size === 110)
    // untouched pre-evolution rows NULL-extend
    (0L until 40L).foreach(i => assert(rows(i) == (i.toInt, None)))
    // matched rows took the update INCLUDING the evolved column
    (40L until 60L).foreach(i =>
      assert(rows(i) == ((2 * i).toInt, Some(i % 3))))
    // inserts carry it too
    (100L until 110L).foreach(i =>
      assert(rows(i) == ((2 * i).toInt, Some(i % 3))))
    // idempotent surface: a second merge with NO new columns is a
    // plain merge (no spurious evolution commit)
    val vBefore = CowTable.latestManifest(t).get.version
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$t` tgt
         |USING evolve_merge_src s
         |ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect()
    assert(CowTable.latestManifest(t).get.version == vBefore + 1,
      "a no-evolution merge must commit exactly one version")
  }
}
