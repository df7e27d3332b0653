package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Bucketed CoW tables + storage-partitioned joins: the writer routes
  * rows by `pmod(xxhash64(col), n)`, the manifest records the spec and
  * each file's bucket id, the DSv2 scan reports KeyGroupedPartitioning
  * backed by the catalog's V2 bucket function — and a join of two
  * co-bucketed tables plans WITHOUT a shuffle on either side. Commits
  * that add non-routed files degrade the report (never correctness);
  * rebucketTable restores it. */
class CowBucketSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cow_bucket/" +
      java.util.UUID.randomUUID().toString.take(8)

  private def walk(p: SparkPlan): Seq[SparkPlan] = (p match {
    case a: AdaptiveSparkPlanExec => Seq(a) ++ walk(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      Seq(q) ++ walk(q.plan)
    case other => Seq(other) ++ other.children.flatMap(walk)
  })

  /** Shuffle count INSIDE the (single) equi-join's subtree — the SPJ
    * claim is about the join inputs, not about later aggregation. */
  private def joinShuffles(df: DataFrame): Int = {
    df.collect() // materialize so AQE's final plan is in place
    val all = walk(df.queryExecution.executedPlan)
    val join = all.collectFirst {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
    }.getOrElse(fail(s"no shuffled equi-join in plan:\n" +
      df.queryExecution.executedPlan))
    join.children.flatMap(walk).count(_.isInstanceOf[ShuffleExchangeLike])
  }

  private def fixturePair(n: Int): (String, String) = {
    val t1 = freshTable()
    val t2 = freshTable()
    CowTable.initBucketed((0L until 2000L).map(i => (i, s"a$i"))
      .toDF("id", "left_name"), t1, "id", n)
    CowTable.initBucketed((0L until 1500L).map(i => (i, i % 13))
      .toDF("id", "right_grp"), t2, "id", n)
    (t1, t2)
  }

  private def withSpj[T](body: => T): T = {
    spark.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val oldB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldV2 = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try body finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldB)
      oldV2 match {
        case Some(v) =>
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None =>
          spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }

  test("writer bucket ids equal the catalog function's, per type") {
    import org.apache.spark.sql.types._
    val n = 16
    // long, int, string, date — the hot bucket-key types
    val longs = (0L until 200L).toDF("v")
      .select($"v", pmod(xxhash64($"v"), lit(n.toLong)).cast("int").as("b"))
      .collect()
    longs.foreach { r =>
      assert(graft.plans.GraftBucket.bucketId(r.getLong(0), LongType, n)
        === r.getInt(1))
    }
    val strs = (0 until 100).map(i => s"k$i").toDF("v")
      .select($"v", pmod(xxhash64($"v"), lit(n.toLong)).cast("int").as("b"))
      .collect()
    strs.foreach { r =>
      assert(graft.plans.GraftBucket.bucketId(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
        StringType, n) === r.getInt(1))
    }
    val ints = (0 until 100).toDF("v")
      .select($"v", pmod(xxhash64($"v"), lit(n.toLong)).cast("int").as("b"))
      .collect()
    ints.foreach { r =>
      assert(graft.plans.GraftBucket.bucketId(r.getInt(0), IntegerType, n)
        === r.getInt(1))
    }
    // null key: the builtin returns the seed unchanged
    val nullRow = Seq[Option[Long]](None).toDF("v")
      .select(pmod(xxhash64($"v"), lit(n.toLong)).cast("int")).head()
    assert(graft.plans.GraftBucket.bucketId(null, LongType, n)
      === nullRow.getInt(0))
  }

  test("initBucketed attributes every file; ids match the rows inside") {
    val t = freshTable()
    CowTable.initBucketed((0L until 1000L).map(i => (i, s"n$i"))
      .toDF("id", "name"), t, "id", 8)
    val m = CowTable.latestManifest(t).get
    assert(m.bucketSpec === Some(("id", 8)))
    val fb = CowTable.fileBuckets(spark, t, m)
    assert(fb.isDefined && fb.get.size === m.files.size)
    // every row of every file hashes to the file's recorded bucket
    m.files.foreach { f =>
      val b = fb.get(CowTable.normalizePath(f))
      val distinct = spark.read.parquet(f)
        .select(pmod(xxhash64($"id"), lit(8L)).cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq
      assert(distinct === Seq(b), s"file $f mixes buckets")
    }
  }

  test("co-bucketed join plans exchange-free; off-switch restores shuffles") {
    withSpj {
      val (t1, t2) = fixturePair(8)
      def q: DataFrame =
        spark.read.table(s"graft.`$t1`")
          .join(spark.read.table(s"graft.`$t2`"), "id")
      assert(joinShuffles(q) === 0, "SPJ did not remove the exchanges")
      // results match the plain computation
      val got = q.agg(count(lit(1)), sum($"right_grp")).head()
      assert(got.getLong(0) === 1500L)
      assert(got.getLong(1) === (0L until 1500L).map(_ % 13).sum)
      // same query without v2 bucketing: both sides shuffle
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      assert(joinShuffles(q) === 2)
    }
  }

  test("different bucket counts do not co-partition (soundness)") {
    withSpj {
      val t1 = freshTable()
      val t2 = freshTable()
      CowTable.initBucketed((0L until 500L).map(i => (i, i * 2))
        .toDF("id", "x"), t1, "id", 8)
      CowTable.initBucketed((0L until 500L).map(i => (i, i * 3))
        .toDF("id", "y"), t2, "id", 4)
      val q = spark.read.table(s"graft.`$t1`")
        .join(spark.read.table(s"graft.`$t2`"), "id")
      assert(joinShuffles(q) > 0,
        "mismatched bucket counts must not zip partitions")
      assert(q.count() === 500L)
    }
  }

  test("merge PRESERVES the bucket layout; SPJ survives ingest") {
    withSpj {
      val (t1, t2) = fixturePair(8)
      // updates + inserts: rewritten and new rows re-route per bucket
      CowTable.mergeInto(spark, t1,
        Seq((7L, "updated"), (1400L, "joins-now")).toDF("id", "left_name"),
        Seq("id"))
      val m = CowTable.latestManifest(t1).get
      val fb = CowTable.fileBuckets(spark, t1, m)
      assert(fb.isDefined, "merge dropped the bucket attribution")
      // the merge's new files carry SINGLE-bucket rows
      m.files.foreach { f =>
        val distinct = spark.read.parquet(f)
          .select(pmod(xxhash64($"id"), lit(8L)).cast("int"))
          .distinct().count()
        assert(distinct === 1L, s"post-merge file $f mixes buckets")
      }
      def q: DataFrame =
        spark.read.table(s"graft.`$t1`")
          .join(spark.read.table(s"graft.`$t2`"), "id")
      assert(joinShuffles(q) === 0, "SPJ lost after a preserving merge")
      assert(q.count() === 1500L)
      assert(q.filter($"id" === 7L).select("left_name").head()
        .getString(0) === "updated")
      // compaction also re-routes (heals) instead of degrading
      CowTable.compactTable(spark, t1, 64L * 1024 * 1024)
      assert(CowTable.fileBuckets(spark, t1,
        CowTable.latestManifest(t1).get).isDefined)
      assert(joinShuffles(q) === 0)
    }
  }

  test("unattributed files degrade the report; rebucket restores it") {
    withSpj {
      val (t1, t2) = fixturePair(8)
      // an out-of-band commit of a NON-routed file (the append shape):
      // entries carry, part JSON has no bucket id
      val m0 = CowTable.latestManifest(t1).get
      val extraDir = java.nio.file.Paths.get(t1, "data", "extra")
      Seq((9000L, "x")).toDF("id", "left_name").coalesce(1)
        .write.mode("overwrite").parquet(extraDir.toString)
      val stream = java.nio.file.Files.list(extraDir)
      val extraFile =
        try {
          import scala.jdk.CollectionConverters._
          stream.iterator().asScala.map(_.toString)
            .find(_.endsWith(".parquet")).get
        } finally stream.close()
      CowTable.commitEntries(spark, t1, m0.version + 1,
        m0.files.map(f => CowTable.FileEntry("data", f, -1L, None, None))
          :+ CowTable.FileEntry("data", extraFile, -1L, None, None),
        m0.schema)
      assert(CowTable.fileBuckets(spark, t1,
        CowTable.latestManifest(t1).get).isEmpty)
      def q: DataFrame =
        spark.read.table(s"graft.`$t1`")
          .join(spark.read.table(s"graft.`$t2`"), "id")
      assert(joinShuffles(q) > 0, "degraded table must shuffle again")
      assert(q.count() === 1500L)
      // restore the layout — SPJ comes back
      CowTable.rebucketTable(spark, t1)
      assert(CowTable.fileBuckets(spark, t1,
        CowTable.latestManifest(t1).get).isDefined)
      assert(joinShuffles(q) === 0)
      assert(q.count() === 1500L)
    }
  }

  test("DSv2 writes route by bucket: INSERT INTO and MERGE keep SPJ") {
    withSpj {
      val (t1, t2) = fixturePair(8)
      // plain SQL append: rows land under __gbucket dirs, attribution
      // recovered at commit
      spark.sql(s"INSERT INTO graft.`$t1` VALUES (1500, 'ins0'), " +
        "(1501, 'ins1')")
      assert(CowTable.fileBuckets(spark, t1,
        CowTable.latestManifest(t1).get).isDefined,
        "INSERT INTO dropped the bucket attribution")
      // SQL MERGE (group-based COW rewrite) keeps it too
      Seq((7L, "sql-updated"), (1502L, "ins2"))
        .toDF("id", "left_name").createOrReplaceTempView("bucket_src")
      spark.sql(s"MERGE INTO graft.`$t1` t USING bucket_src s " +
        "ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      assert(CowTable.fileBuckets(spark, t1,
        CowTable.latestManifest(t1).get).isDefined,
        "MERGE INTO dropped the bucket attribution")
      def q: DataFrame =
        spark.read.table(s"graft.`$t1`")
          .join(spark.read.table(s"graft.`$t2`"), "id")
      assert(joinShuffles(q) === 0, "SPJ lost after SQL writes")
      assert(q.count() === 1500L)
      assert(q.filter($"id" === 7L).select("left_name").head()
        .getString(0) === "sql-updated")
      // merge-on-read deltas route their appended row images as well
      spark.conf.set(graft.plans.CowDsv2.MorModeConf, "mor")
      try {
        Seq((9L, "mor-updated")).toDF("id", "left_name")
          .createOrReplaceTempView("bucket_src_mor")
        spark.sql(s"MERGE INTO graft.`$t1` t USING bucket_src_mor s " +
          "ON t.id = s.id WHEN MATCHED THEN UPDATE SET *")
      } finally spark.conf.unset(graft.plans.CowDsv2.MorModeConf)
      assert(CowTable.fileBuckets(spark, t1,
        CowTable.latestManifest(t1).get).isDefined,
        "MOR delta dropped the bucket attribution")
      assert(joinShuffles(q) === 0)
      assert(q.filter($"id" === 9L).select("left_name").head()
        .getString(0) === "mor-updated")
    }
  }

  test("INSERT INTO clusters by bucket: ~one file per bucket, not per task") {
    withSpj {
      val t = freshTable()
      CowTable.initBucketed((0L until 100L).map(i => (i, s"n$i"))
        .toDF("id", "name"), t, "id", 8)
      val before = CowTable.latestManifest(t).get.files.toSet
      // a deliberately wide source: 16 input partitions × 8 buckets
      // would be up to 128 routed files without the requested
      // clustering; with it, same-bucket rows concentrate
      spark.range(1000, 3000).toDF("id")
        .withColumn("name", concat(lit("w"), $"id"))
        .repartition(16).createOrReplaceTempView("wide_src")
      spark.sql(s"INSERT INTO graft.`$t` SELECT id, name FROM wide_src")
      val m = CowTable.latestManifest(t).get
      val added = m.files.filterNot(before)
      assert(added.nonEmpty && added.size <= 8,
        s"wide insert wrote ${added.size} files — clustering not applied")
      assert(CowTable.fileBuckets(spark, t, m).isDefined)
      assert(spark.read.table(s"graft.`$t`").count() === 2100L)
    }
  }

  test("aggregation on the bucket key is exchange-free too") {
    withSpj {
      val t = freshTable()
      CowTable.initBucketed((0L until 2000L).map(i => (i, i % 7))
        .toDF("id", "g"), t, "id", 8)
      // bucket(id) is a function of id, so KeyGroupedPartitioning
      // satisfies the aggregate's clustered distribution — the whole
      // query runs in one stage over the scan
      val q = spark.read.table(s"graft.`$t`").groupBy($"id")
        .agg(sum($"g").as("s"))
      q.collect()
      val shuffles = walk(q.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeLike])
      assert(shuffles === 0, "bucket-key aggregate still shuffled")
      assert(q.count() === 2000L)
      assert(q.filter($"id" === 13L).head().getLong(1) === 13L % 7)
    }
  }

  test("DV deletes keep the attribution; SPJ rows exclude deleted") {
    withSpj {
      val (t1, t2) = fixturePair(8)
      CowTable.deleteWhere(spark, t1, $"id" % 10L === 3L)
      assert(CowTable.fileBuckets(spark, t1,
        CowTable.latestManifest(t1).get).isDefined)
      val q = spark.read.table(s"graft.`$t1`")
        .join(spark.read.table(s"graft.`$t2`"), "id")
      assert(joinShuffles(q) === 0)
      assert(q.count() === (0L until 1500L).count(_ % 10 != 3))
    }
  }

  test("partially-clustered SPJ handles a skewed side without an exchange") {
    withSpj {
      // left side skewed: 80% of rows on one bucket-key residue class
      val t1 = freshTable()
      val t2 = freshTable()
      val skewed = ((0L until 4000L).map(i => (i % 5, s"s$i")) ++
        (0L until 1000L).map(i => (i + 5L, s"u$i"))).zipWithIndex
        .map { case ((k, v), ix) => (k, s"$v-$ix") }
      CowTable.initBucketed(skewed.toDF("id", "left_name"), t1, "id", 8)
      CowTable.initBucketed((0L until 1005L).map(i => (i, i % 13))
        .toDF("id", "right_grp"), t2, "id", 8)
      val oldPC = spark.conf.getOption(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      val oldPV = spark.conf.getOption(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
        "true")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      try {
        val q = spark.read.table(s"graft.`$t1`")
          .join(spark.read.table(s"graft.`$t2`"), "id")
        assert(joinShuffles(q) === 0,
          "partially-clustered SPJ must stay exchange-free")
        // exact row count: keys 0..4 carry 800 left rows each; keys
        // 5..1004 carry one left row each; the right side has every
        // key 0..1004 exactly once
        assert(q.count() === 5L * 800L + 1000L)
      } finally {
        def restore(k: String, v: Option[String]): Unit = v match {
          case Some(x) => spark.conf.set(k, x)
          case None => spark.conf.unset(k)
        }
        restore("spark.sql.sources.v2.bucketing." +
          "partiallyClusteredDistribution.enabled", oldPC)
        restore("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
          oldPV)
      }
    }
  }

  test("alterTable refuses to rename/drop/widen the bucket column") {
    val t = freshTable()
    CowTable.initBucketed((0L until 100L).map(i => (i.toInt, i % 3))
      .toDF("id", "g"), t, "id", 4)
    // widening int->bigint is widenOk-permitted generally, but on the
    // bucket column it changes the xxhash64 domain for new writes while
    // old files keep their stale attribution — SPJ would then silently
    // drop matches. All three operations must refuse.
    val eW = intercept[IllegalArgumentException] {
      CowTable.alterTable(spark, t,
        widens = Map("id" -> org.apache.spark.sql.types.LongType))
    }
    assert(eW.getMessage.contains("bucket column"))
    val eR = intercept[IllegalArgumentException] {
      CowTable.alterTable(spark, t, renames = Map("id" -> "id2"))
    }
    assert(eR.getMessage.contains("bucket column"))
    val eD = intercept[IllegalArgumentException] {
      CowTable.alterTable(spark, t, drops = Seq("id"))
    }
    assert(eD.getMessage.contains("bucket column"))
    // non-bucket columns still evolve freely on a bucketed table, and
    // the attribution survives the metadata commit
    CowTable.alterTable(spark, t, renames = Map("g" -> "grp"))
    assert(CowTable.fileBuckets(spark, t,
      CowTable.latestManifest(t).get).isDefined)
  }
}
