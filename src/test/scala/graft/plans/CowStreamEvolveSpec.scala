package graft.plans

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.CowTable

/** Mid-stream schema evolution through the update-mode streaming sink
  * ([[CowStreamingUpsertWrite]]): a restart whose write schema grew a
  * column evolves the table in the first epoch's delta commit;
  * pre-evolution rows NULL-extend; historical-name resurrection is
  * refused at sink build. */
class CowStreamEvolveSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")

  private def freshBase() = java.nio.file.Files.createTempDirectory(
    "graft_stream_evolve")

  private def writeSlice(df: org.apache.spark.sql.DataFrame,
      dir: java.nio.file.Path, name: String, mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("slice")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.head
    java.nio.file.Files.createDirectories(dir)
    val dest = dir.resolve(name)
    java.nio.file.Files.move(java.nio.file.Paths.get(part), dest)
    dest.toFile.setLastModified(mtime)
    ()
  }

  private def run(base: java.nio.file.Path, t: String,
      schema: StructType): Unit = {
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(base.resolve("in").toString)
      .writeStream.outputMode("update")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .option("upsertKeys", "k")
      .toTable(s"graft.`$t`")
    try q.processAllAvailable() finally q.stop()
  }

  test("restart with a wider source evolves the table in ONE delta " +
      "commit; pre-evolution rows NULL-extend") {
    val base = freshBase()
    val t = base.resolve("t").toString
    val narrow = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType)))
    val wide = StructType(narrow.fields :+ StructField("extra", StringType))
    writeSlice(spark.range(10).select($"id".as("k"),
      ($"id" * 1.0).as("v")), base.resolve("in"), "00.parquet", 1000000L)
    run(base, t, narrow)
    val mid = CowTable.latestManifest(t).get
    assert(mid.version == 1 &&
      !mid.schema.fieldNames.contains("extra"))
    // source adds `extra`: keys 5..14 update/insert with a value
    writeSlice(spark.range(5, 15).select($"id".as("k"),
      ($"id" * 2.0).as("v"), concat(lit("x"), $"id").as("extra")),
      base.resolve("in"), "01.parquet", 1010000L)
    run(base, t, wide)
    val m = CowTable.latestManifest(t).get
    assert(m.version == 2, "evolution + data must be ONE epoch commit")
    assert(m.schema.fieldNames.contains("extra"))
    assert(m.dvs.nonEmpty, "updates must stay merge-on-read")
    val rows = CowTable.read(spark, t).collect()
      .map(r => r.getLong(r.fieldIndex("k")) ->
        (r.getDouble(r.fieldIndex("v")),
          Option(r.getString(r.fieldIndex("extra"))))).toMap
    assert(rows.size == 15)
    (0L until 5L).foreach(k => assert(rows(k) == ((k * 1.0, None)),
      s"pre-evolution row $k must NULL-extend"))
    (5L until 15L).foreach(k =>
      assert(rows(k) == ((k * 2.0, Some(s"x$k")))))
  }

  test("an evolved column may not resurrect a renamed-away name") {
    val base = freshBase()
    val t = base.resolve("t").toString
    val narrow = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType)))
    writeSlice(spark.range(5).select($"id".as("k"), ($"id" * 1.0).as("v")),
      base.resolve("in"), "00.parquet", 1000000L)
    run(base, t, narrow)
    CowTable.alterTable(spark, t, renames = Map("v" -> "v2"))
    // a restart whose source re-adds the historical name "v" must fail
    // loudly at the first epoch, not silently fork the column
    writeSlice(spark.range(5).select($"id".as("k"), ($"id" * 1.0).as("v2"),
      lit(1.0).as("v")), base.resolve("in"), "01.parquet", 1010000L)
    val wide = StructType(Seq(StructField("k", LongType),
      StructField("v2", DoubleType), StructField("v", DoubleType)))
    val e = intercept[Exception] { run(base, t, wide) }
    def causes(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: causes(x.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(
      _.contains("historical column name"))), s"got: $e")
  }
}
