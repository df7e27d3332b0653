package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The driver-side commit metadata of [[CowTable]]: entry rows folded
  * from the new files' parquet footers, and bloom sketches built on the
  * driver, must equal what the Spark jobs they replace compute — the
  * stats scan (`statsEntriesDF`) row for row, byte for byte, and the
  * sketch job sketch for sketch. Where a footer cannot prove a value
  * the driver declines (None) and the commit keeps the job. */
class CowFooterStatsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def dir(): String = java.nio.file.Files
    .createTempDirectory("graft_footer_stats").toString

  private def conf = spark.sparkContext.hadoopConfiguration

  /** Writes `df` (in `parts` files; a tiny row-group size forces several
    * row groups per file) and returns its part files. */
  private def write(df: DataFrame, parts: Int = 2,
      rowGroupBytes: Option[Int] = None,
      opts: Map[String, String] = Map.empty): Seq[String] = {
    val out = dir() + "/d"
    val w = df.repartition(parts).write.options(opts)
    rowGroupBytes.fold(w)(b => w.option("parquet.block.size", b.toString))
      .parquet(out)
    new java.io.File(out).listFiles().map(_.getAbsolutePath)
      .filter(f => f.endsWith(".parquet") &&
        new java.io.File(f).getName.startsWith("part-")).toSeq.sorted
  }

  private def facts(files: Seq[String]) =
    files.map(CowTable.readFooterFacts(conf, _))

  private def scanRows(files: Seq[String]): Seq[String] =
    CowTable.statsEntriesDF(spark, files).collect().map(_.toString).toSeq.sorted

  private def driverRows(files: Seq[String]): Option[Seq[String]] =
    CowTable.driverStatsEntries(spark, facts(files), Map.empty).map(_.map(e =>
      Row(e.kind, e.path, e.bytes, e.numRows.orNull, e.stats.orNull,
        e.part.orNull).toString).sorted)

  /** The driver rows exist and equal the scan's. */
  private def assertSame(files: Seq[String]): Unit = {
    val d = driverRows(files)
    assert(d.isDefined, s"the footers should prove $files")
    assert(d.get == scanRows(files))
  }

  private def jobsOf(body: => Unit): Int = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      ListenerBridge.drain(spark.sparkContext)
      n.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private val strings = Seq("a", "zz", "ü", "日本語", "😀", "Z", "é",
    "\u007f", "")

  test("every stats-eligible type folds from the footer to the scan's row") {
    val df = (0 until 200).map { i =>
      ((i - 100).toByte, (i * 300 - 7000).toShort, i * 70000 - 5,
        i * 10000000000L - 3, (i * 12347L - 1234567L).toString,
        strings(i % strings.size) + i, i % 3 == 0,
        java.sql.Date.valueOf("2020-01-01").toLocalDate.plusDays(i.toLong),
        java.time.LocalDateTime.of(2021, 3, 4, 5, 6).plusSeconds(i * 997L),
        i * 0.5f + 1.5f, i * 2.25 - 1000.125)
    }.toDF("b", "s", "i", "l", "u", "str", "bool", "date", "ntz", "f", "db")
      .select(col("b"), col("s"), col("i"), col("l"),
        // one decimal per physical form: INT32, INT64, FIXED_LEN_BYTE_ARRAY
        (col("u") / 100).cast("decimal(9,2)").as("d9"),
        concat(col("u"), lit(".1234")).cast("decimal(18,4)").as("d18"),
        concat(col("u"), lit("123456789012345.12345")).cast("decimal(30,5)")
          .as("d30"),
        col("str"), col("bool"), col("date"), col("ntz"), col("f"), col("db"))
    assert(df.schema("ntz").dataType == TimestampNTZType)
    assertSame(write(df))
  }

  test("timestamps: INT96 falls back, TIMESTAMP_MICROS folds") {
    val df = (0 until 50).map(i => (i.toLong,
      java.sql.Timestamp.valueOf("2022-05-06 07:08:09").getTime + i * 1234L))
      .toDF("id", "ms").select(col("id"),
        (col("ms") / 1000).cast("timestamp").as("ts"))
    val int96 = write(df)
    assert(driverRows(int96).isEmpty, "INT96 timestamps are not provable")
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try assertSame(write(df))
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }

  test("float and double: NaN and zero extrema fall back, others fold") {
    def files(vs: Seq[Double]) = write(vs.zipWithIndex.map { case (v, i) =>
      (i.toLong, v, v.toFloat) }.toDF("id", "d", "f"), parts = 1)
    assertSame(files(Seq(-3.5, 2.0, 1e300, -1e-300)))
    // zeros inside the range leave both extrema exact
    assertSame(files(Seq(-3.5, 0.0, -0.0, 7.25)))
    for (vs <- Seq(Seq(1.0, Double.NaN, 3.0), Seq(0.0, 4.0),
        Seq(-0.0, 4.0), Seq(-4.0, 0.0), Seq(-4.0, -0.0)))
      assert(driverRows(files(vs)).isEmpty, s"$vs should fall back")
  }

  test("null-only columns, empty strings and multi-row-group files fold") {
    val df = (0 until 3000).map(i => (i.toLong,
      Option.when(i % 2 == 0)(s"v${i % 97}"), Option.empty[Int],
      Option.when(i % 5 != 0)(i * 3L)))
      .toDF("id", "half", "none", "most")
    val files = write(df, parts = 2, rowGroupBytes = Some(4096))
    val groups = files.map(f => graft.Tables.withFooter(conf, f)(
      _.getFooter.getBlocks.size))
    assert(groups.forall(_ > 1), s"expected several row groups: $groups")
    assertSame(files)
  }

  test("a binary statistic parquet does not keep (over 4 KiB) falls back") {
    val big = "x" * 5000
    val df = Seq((1L, big + "a"), (2L, big + "b"), (3L, "c")).toDF("id", "s")
    val files = write(df, parts = 1)
    assert(driverRows(files).isEmpty, "a dropped min/max cannot be proven")
    // short strings in the same shape fold
    assertSame(write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), parts = 1))
  }

  test("a commit's driver-written entries equal the scan's on an evolved " +
      "schema (renamed and widened columns)") {
    val t = dir() + "/t"
    CowTable.init((0 until 100).map(i => (i.toLong, s"n$i", i))
      .toDF("id", "name", "qty").repartition(2), t)
    CowTable.alterTable(spark, t, renames = Map("name" -> "label"),
      widens = Map("qty" -> LongType))
    val before = CowTable.latestManifest(t).get
    CowTable.mergeInto(spark, t, Seq((5L, "x", 50L), (500L, "y", 7L))
      .toDF("id", "label", "qty"), Seq("id"))
    val m = CowTable.latestManifest(t).get
    CowTable.clearEntriesCache()
    val oldPaths = CowTable.entriesDF(spark, t, before)
      .select("path").as[String].collect().toSet
    val added = CowTable.entriesDF(spark, t, m)
      .filter(col("kind") === "data" && !col("path").isin(oldPaths.toSeq: _*))
      .collect().map(_.toString).toSeq.sorted
    assert(added.nonEmpty)
    assert(added == scanRows(added.map(r => r.split(",")(1))))
    assert(CowTable.read(spark, t).filter($"id" === 5L)
      .select("label", "qty").as[(String, Long)].collect().toSeq == Seq(("x", 50L)))
  }

  test("driver-built bloom sketches are byte-identical to the sketch job's") {
    val df = (0 until 3000).map(i => (i.toLong * 7919L, s"k$i", i,
      java.sql.Date.valueOf("2020-01-01").toLocalDate.plusDays(i % 400),
      Option.when(i % 3 != 0)(i.toShort)))
      .toDF("id", "key", "n", "day", "small")
    val files = write(df, parts = 3, rowGroupBytes = Some(8192))
    val specs = Seq("id", "key", "n", "day", "small").map(c =>
      (df.schema(c), CowTable.BloomColSpec(0.01, 1000L)))
    val byJob = CowTable.bloomSketchesDF(spark, files, specs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Array[Byte]](3).toSeq)
      .toMap
    val byDriver = CowTable.driverBloomRows(spark, files, specs).get
      .map(r => (r.getUTF8String(0).toString, r.getUTF8String(1).toString) ->
        r.getBinary(3).toSeq).toMap
    assert(byDriver.keySet == byJob.keySet && byJob.size == 3 * specs.size)
    byJob.foreach { case (k, v) => assert(byDriver(k) == v, s"sketch $k differs") }
  }

  test("the bloom driver build declines prior names, widened types and INT96") {
    val files = write((0 until 10).map(i => (i, java.sql.Timestamp
      .valueOf("2022-01-01 00:00:00"))).toDF("n", "ts"), parts = 1)
    val spec = CowTable.BloomColSpec(0.01, 100L)
    val renamed = StructField("n", IntegerType, metadata = new MetadataBuilder()
      .putStringArray(CowTable.PrevNamesKey, Array("old_n")).build())
    for (f <- Seq(renamed, StructField("n", LongType),
        StructField("ts", TimestampType)))
      assert(CowTable.driverBloomRows(spark, files, Seq((f, spec))).isEmpty, f)
    assert(CowTable.driverBloomRows(spark, files,
      Seq((StructField("n", IntegerType), spec))).isDefined)
  }

  test("both sides of the bloom switch write the same sidecar rows") {
    val t = dir() + "/t"
    val files = write((0 until 500).map(i => (i.toLong, s"k$i")).toDF("id", "key"))
    val specs = Map("key" -> CowTable.BloomColSpec(0.01, 1000L))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("key", StringType)))
    def rows(fileRows: Option[Seq[Long]]): (Int, Set[(String, Seq[Byte])]) = {
      var rel: Option[String] = None
      val jobs = jobsOf { rel = CowTable.buildBloomSidecar(spark, t, 1, files,
        specs, schema, fileRows) }
      val out = spark.read.schema(CowTable.bloomEntrySchema)
        .parquet(s"$t/manifest/${rel.get}").collect()
        .map(r => (r.getString(0), r.getAs[Array[Byte]](3).toSeq)).toSet
      (jobs, out)
    }
    val (driverJobs, driver) = rows(Some(Seq(250L, 250L)))
    val (gatedJobs, gated) =
      rows(Some(Seq(CowTable.BloomDriverRows, 1L)))
    val (largeJobs, large) = rows(None)
    assert(driverJobs == 0, s"the driver build ran $driverJobs jobs")
    assert(gatedJobs > 0 && largeJobs > 0, "past either gate the job runs")
    assert(driver == gated && driver == large && driver.size == 2)
  }

  test("both sides of the entries switch: small carries fold on the " +
      "driver, large ones and unprovable files take the scan") {
    val files = write((0 until 40).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val ff = facts(files)
    val small = Seq(CowTable.FileEntry("data", "/x/a.parquet", 10L, Some(1L), None))
    val big = Seq.fill(CowTable.SmallSidecarEntries.toInt)(small.head)
    val got = CowTable.driverSidecarRows(spark, Some(small), ff, Map.empty, Nil)
    assert(got.map(_.size).contains(1 + files.size))
    assert(CowTable.driverSidecarRows(spark, Some(big), ff, Map.empty, Nil).isEmpty)
    assert(CowTable.driverSidecarRows(spark, None, ff, Map.empty, Nil).isEmpty)
    // a data-free commit of a small carry stays on the driver
    assert(CowTable.driverSidecarRows(spark, Some(big), Nil, Map.empty, Nil)
      .map(_.size).contains(big.size))
    val int96 = facts(write(Seq((1L, java.sql.Timestamp.valueOf(
      "2020-01-01 00:00:00"))).toDF("id", "ts"), parts = 1))
    assert(CowTable.driverSidecarRows(spark, Some(small), int96, Map.empty, Nil)
      .isEmpty)
  }

  test("both sides of the read switch give the metadata answers of the " +
      "entries") {
    // 10,001 entries (above SmallSidecarEntries) and 9,999 (below), each
    // file 10 rows with stats; every answer comes from metadata alone
    def table(n: Int): String = {
      val t = dir() + "/t"
      val es = (0 until n).map(i => CowTable.FileEntry("data",
        s"$t/data/f$i.parquet", 100L, Some(10L),
        Some(s"""{"id":{"min":${i * 10},"max":${i * 10 + 9},"nulls":0}}""")))
      CowTable.commitEntries(spark, t, 0, es,
        StructType(Seq(StructField("id", LongType))))
      t
    }
    for (n <- Seq(CowTable.SmallSidecarEntries.toInt + 1,
        CowTable.SmallSidecarEntries.toInt - 1)) {
      val t = table(n)
      CowTable.clearEntriesCache()
      var count, rows = 0L
      var lo: Option[Any] = None
      val jobs = jobsOf {
        count = CowTable.countWhere(spark, t, $"id" >= 0L)
        rows = CowTable.metadataRowCount(spark, t,
          CowTable.latestManifest(t).get).get
        lo = CowTable.minWhere(spark, t, "id", $"id" >= 20L && $"id" < 1000000L)
      }
      assert(count == 10L * n && rows == 10L * n && lo.contains(20L), n)
      if (n > CowTable.SmallSidecarEntries) assert(jobs > 0, "columnar side")
      else assert(jobs == 0, s"the driver side ran $jobs jobs")
    }
  }
}
