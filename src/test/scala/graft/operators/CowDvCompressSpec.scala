package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Range-encoded deletion vectors: a dense delete collapses to
  * O(#files) runs, every read path stays exact, the packed per-file
  * broadcast is bounded by runs (never deleted rows), and past the
  * broadcast budget the read falls back to a shuffled range anti-join
  * with identical results. */
class CowDvCompressSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cow_dvc/" +
      java.util.UUID.randomUUID().toString.take(8)

  /** 400 rows, 4 files of 100 ids each, within-file ascending id. */
  private def fixture(): String = {
    val t = freshTable()
    val df = (0L until 400L).map(i => (i, s"n$i", i * 2.0))
      .toDF("id", "name", "v")
      .withColumn("__f", (col("id") / 100L).cast("int") + 1)
    CowTable.initFiledSorted(df, t, "__f", 4, Seq("id"))
    t
  }

  test("DV broadcast decision is metadata-only: zero footer reads on a snapshot read") {
    val t = fixture()
    val m = CowTable.deleteWhere(spark, t, $"id" % 3 === 0L)
    // run counts were recorded in the manifest's dv: lines at commit
    assert(m.dvs.nonEmpty && m.dvs.forall(m.dvRunCounts.contains),
      s"commit must record run counts: $m")
    // a reopened manifest carries them too (the text round-trips)
    val reread = CowTable.latestManifest(t).get
    assert(reread.dvRunCounts == m.dvRunCounts)
    CowTable.driverDvFootersRead.set(0L)
    val n = CowTable.read(spark, t).count()
    assert(n == 400L - 134L)
    assert(CowTable.driverDvFootersRead.get() == 0L,
      "snapshot read opened DV sidecar footers on the driver — the " +
        "broadcast decision must come from the manifest")
    // a second delete stacks a second counted sidecar; still zero
    val m2 = CowTable.deleteWhere(spark, t, $"id" === 1L)
    assert(m2.dvs.size == 2 && m2.dvs.forall(m2.dvRunCounts.contains))
    CowTable.driverDvFootersRead.set(0L)
    assert(CowTable.read(spark, t).count() == n - 1)
    assert(CowTable.driverDvFootersRead.get() == 0L)
  }

  test("dense delete stores one run per touched file; reads stay exact") {
    val t = fixture()
    // kill ids 0..149: file 1 fully dead (one run of 100), file 2 a
    // 50-row prefix run — 150 identities in TWO sidecar rows
    val m = CowTable.deleteWhere(spark, t, $"id" < 150L)
    val runs = spark.read.parquet(m.dvs: _*).collect()
    assert(runs.length == 2, s"expected 2 runs, got ${runs.toSeq}")
    assert(runs.map(_.getLong(runs.head.fieldIndex("len"))).sorted.toSeq
      == Seq(50L, 100L))
    // the DV reader (the broadcast side) is one row per DV'd FILE
    assert(CowTable.dvFiles(spark, m).count() == 2L)
    // Scala read path (packed broadcast + binary-search probe)
    val got = CowTable.read(spark, t).select("id").collect()
      .map(_.getLong(0)).sorted
    assert(got.toSeq == (150L until 400L).toSeq)
    // SQL/DSv2 read path (per-partition run arrays)
    spark.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t`").head().getLong(0)
      == 250L)
    assert(spark.sql(
      s"SELECT MIN(id) FROM graft.`$t`").head().getLong(0) == 150L)
    // a second overlapping delete writes only the FRESH identities —
    // ids 150..199 are file 2's POSITIONS 50..99, one run
    val m2 = CowTable.deleteWhere(spark, t, $"id" < 200L)
    val runs2 = spark.read.parquet(m2.dvs.diff(m.dvs): _*).collect()
    assert(runs2.length == 1 &&
      runs2.head.getLong(runs2.head.fieldIndex("start")) == 50L &&
      runs2.head.getLong(runs2.head.fieldIndex("len")) == 50L,
      s"fresh delta must be file 2's single run [50,100): ${runs2.toSeq}")
    assert(CowTable.read(spark, t).count() == 200L)
  }

  test("beyond the broadcast budget the read falls back, results equal") {
    val t = fixture()
    // scattered delete: every 3rd id → ~134 runs of length 1
    CowTable.deleteWhere(spark, t, $"id" % 3L === 0L)
    val want = (0L until 400L).filter(_ % 3L != 0L)
    assert(CowTable.read(spark, t).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == want)
    val old = spark.conf.getOption(CowTable.DvBroadcastRunsConf)
    try {
      spark.conf.set(CowTable.DvBroadcastRunsConf, "10")
      // with autoBroadcast off, nothing may force a broadcast: the
      // fallback is a shuffled range anti-join
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = CowTable.read(spark, t)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("dvrunscontain"),
        s"fallback must not take the packed-broadcast path: $plan")
      assert(q.select("id").collect().map(_.getLong(0)).sorted.toSeq
        == want, "fallback read diverged")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      old match {
        case Some(v) => spark.conf.set(CowTable.DvBroadcastRunsConf, v)
        case None => spark.conf.unset(CowTable.DvBroadcastRunsConf)
      }
    }
  }

  test("dv_runs_contain binary search matches the naive probe") {
    // random disjoint runs + probes, through the CODEGEN'D path
    val rnd = new scala.util.Random(42)
    val runs = {
      var cur = 0L
      Seq.fill(50) {
        cur += 1 + rnd.nextInt(20)
        val s = cur
        val l = 1L + rnd.nextInt(5)
        cur += l
        (s, l)
      }
    }
    val starts = runs.map(_._1).toArray
    val lens = runs.map(_._2).toArray
    val naive = (i: Long) =>
      runs.exists { case (s, l) => i >= s && i < s + l }
    val path = "/t/data/part-0.parquet"
    val bc = spark.sparkContext.broadcast(new graft.functions.DvRunIndex(
      Map(path -> ((starts, lens)))))
    val runSet = new graft.functions.DvRunSet(Seq("dv"), _ => bc)
    // a range scan, not a local relation: the projection stays in
    // whole-stage codegen instead of folding on the driver
    def probe(p: String) = spark.range(0L, 800L).toDF("i")
      .select(col("i"), graft.functions.DvRunsContain(runSet,
        lit(p), col("i")).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val got = probe(path)
    (0L until 800L).foreach { i =>
      assert(got(i) == naive(i), s"probe $i: got ${got(i)}")
    }
    // a file with no runs (absent from the index) evaluates FALSE
    assert(probe("/t/data/part-1.parquet").values.forall(!_))
    val nulls = Seq((1L)).toDF("i")
      .select(graft.functions.DvRunsContain(runSet,
        lit(null).cast("string"), col("i")).as("hit"))
      .head()
    assert(!nulls.isNullAt(0) && !nulls.getBoolean(0))
  }

  test("run arrays for the DSv2 reader are sorted and exact") {
    val t = fixture()
    // two deletes whose runs interleave per file
    CowTable.deleteWhere(spark, t, $"id" >= 120L && $"id" < 130L)
    CowTable.deleteWhere(spark, t, $"id" >= 100L && $"id" < 105L)
    val m = CowTable.latestManifest(t).get
    val file2 = m.files.find(_.contains("__f=2")).get
    val r = CowTable.dvFiles(spark, m)
      .filter(col("__dv_fp") === CowTable.normalizePath(file2)).head()
    val (starts, lens) = (r.getSeq[Long](1), r.getSeq[Long](2))
    assert(starts.toSeq == starts.sorted.toSeq, "starts must be sorted")
    val pos = starts.zip(lens).flatMap { case (s, l) => s until (s + l) }
    // file 2 holds ids 100..199 at positions 0..99
    assert(pos.toSeq == ((20L until 30L) ++ (0L until 5L)).sorted.toSeq)
  }
}
