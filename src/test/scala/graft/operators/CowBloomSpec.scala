package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{BloomFunctions, BloomKernel}

/** Per-file bloom point-lookup skipping ([[CowTable.declareBloom]] +
  * the bloom pass inside pruneDataFilesExpr): soundness (the file
  * holding the probed key is NEVER pruned), effectiveness (absent keys
  * prune files min/max cannot), the declared-fpp bound, conservative
  * behavior across schema evolution (widen ⇒ type-mismatched rows are
  * ignored, rename ⇒ old rows keep serving), the commit-time
  * auto-sidecar for new files, vacuum liveness, and the round-trip of
  * the bloom lines through the manifest. */
class CowBloomSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cow_bloom/" +
      java.util.UUID.randomUUID().toString.take(8)

  /** ids 0..999 in 10 residue-class files (file i = ids ≡ i mod 10), so
    * every file's [min,max] covers any interior probe — pruning beyond
    * one file can only come from the bloom index. */
  private def fixture(): String = {
    val t = freshTable()
    val df = (0L until 1000L).map(i => (i, s"name$i", (i % 7).toInt))
      .toDF("id", "name", "grp")
      .withColumn("__f", (pmod($"id", lit(10L)) + 1).cast("int"))
    CowTable.initFiled(df, t, "__f", 10)
    CowTable.declareBloom(spark, t,
      Map("id" -> CowTable.BloomColSpec(0.01, 1000L)))
    t
  }

  private def planned(t: String, cond: org.apache.spark.sql.Column): Int =
    CowTable.pruneDataFiles(spark, t,
      CowTable.latestManifest(t).get, cond).size

  private def plannedNoBloom(t: String,
      cond: org.apache.spark.sql.Column): Int = {
    val m = CowTable.latestManifest(t).get
    CowTable.pruneDataFilesExpr(spark, t, m,
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(cond),
      useBloom = false).size
  }

  test("present key: containing file kept, absent keys prune below minmax") {
    val t = fixture()
    // interior present key: minmax keeps all 10, bloom must keep the
    // residue file of 503 (plus at most declared-fpp noise)
    assert(plannedNoBloom(t, $"id" === 503L) === 10)
    val b = planned(t, $"id" === 503L)
    assert(b >= 1 && b <= 3, s"bloom plan $b out of [1,3]")
    assert(CowTable.readWhere(spark, t, $"id" === 503L).count() === 1L)
    // IN over two present keys: both residue files kept, others prune
    val in = planned(t, $"id".isin(101L, 502L))
    val inNoBloom = plannedNoBloom(t, $"id".isin(101L, 502L))
    assert(inNoBloom === 10)
    assert(in >= 2 && in <= 4, s"IN bloom plan $in out of [2,4]")
    assert(CowTable.readWhere(spark, t, $"id".isin(101L, 502L))
      .count() === 2L)
  }

  test("absent in-range key prunes to fpp noise; rows still exact") {
    // doubled key space => odd values are absent but in-range
    val t = freshTable()
    val df = (0L until 1000L).map(i => (2 * i, s"n$i"))
      .toDF("id", "name")
      .withColumn("__f", (pmod($"id" / 2, lit(10L)) + 1).cast("int"))
    CowTable.initFiled(df, t, "__f", 10)
    CowTable.declareBloom(spark, t,
      Map("id" -> CowTable.BloomColSpec(0.01, 1000L)))
    assert(plannedNoBloom(t, $"id" === 501L) === 10)
    val b = planned(t, $"id" === 501L)
    assert(b <= 2, s"absent-key bloom plan $b > 2")
    assert(CowTable.readWhere(spark, t, $"id" === 501L).count() === 0L)
  }

  test("false-positive rate stays within ~2.5x the declared fpp") {
    // one sketch of 5000 items at 1% fpp, probed with 10000 absent
    // values: expected ~100 false positives, bound at 250
    val sketch = (0L until 5000L).toDF("v")
      .agg(BloomFunctions.bloom_sketch($"v", 5000L, 0.01).as("s"))
      .head().getAs[Array[Byte]](0)
    val st = BloomKernel.deserialize(sketch)
    val fps = (1000000L until 1010000L).count(v =>
      st.mightContain(
        BloomKernel.hash1(v, org.apache.spark.sql.types.LongType),
        BloomKernel.hash2(v, org.apache.spark.sql.types.LongType)))
    assert(fps <= 250, s"observed $fps false positives in 10000 probes")
    // and zero false negatives, the sound direction
    val fns = (0L until 5000L).count(v =>
      !st.mightContain(
        BloomKernel.hash1(v, org.apache.spark.sql.types.LongType),
        BloomKernel.hash2(v, org.apache.spark.sql.types.LongType)))
    assert(fns === 0)
  }

  test("non-eligible predicates never open the bloom index") {
    val t = fixture()
    val before = CowTable.bloomPrunesConsulted.get()
    // range predicate: no equality conjunct on a declared column
    planned(t, $"id" >= 10L && $"id" <= 20L)
    // equality on an UNDECLARED column
    planned(t, $"grp" === 3)
    // non-literal equality
    planned(t, $"id" === $"grp" + 1L)
    assert(CowTable.bloomPrunesConsulted.get() === before)
    // an eligible conjunct does open it
    planned(t, $"id" === 77L)
    assert(CowTable.bloomPrunesConsulted.get() === before + 1)
  }

  test("commit auto-sidecars its new files; merge rows stay exact") {
    val t = fixture()
    val relsBefore = CowTable.latestManifest(t).get.bloomRels.size
    // insert-only merge: new EVEN ids past 999 (1000+2k)
    val src = (0 until 50).map(k => (1000L + 2 * k, s"new$k", 9))
      .toDF("id", "name", "grp")
    CowTable.mergeInto(spark, t, src, Seq("id"))
    val m = CowTable.latestManifest(t).get
    assert(m.bloomRels.size === relsBefore + 1,
      "merge commit did not add a bloom sidecar")
    // absent odd key inside the new files' range: minmax keeps the new
    // file(s), the auto-built sketch prunes them
    val mm = plannedNoBloom(t, $"id" === 1001L)
    val b = planned(t, $"id" === 1001L)
    assert(mm >= 1 && b < mm, s"auto sidecar did not prune ($b vs $mm)")
    assert(CowTable.readWhere(spark, t, $"id" === 1050L)
      .select("name").head().getString(0) === "new25")
  }

  test("widen: stale-typed rows are ignored (conservative), new files probe") {
    val t = freshTable()
    val df = (0 until 1000).map(i => (i, s"n$i"))
      .toDF("id", "name")
      .withColumn("__f", (pmod($"id", lit(10)) + 1).cast("int"))
    CowTable.initFiled(df, t, "__f", 10)
    CowTable.declareBloom(spark, t,
      Map("id" -> CowTable.BloomColSpec(0.01, 1000L)))
    CowTable.alterTable(spark, t,
      widens = Map("id" -> org.apache.spark.sql.types.LongType))
    // pre-widen sketches hashed INT values; the probe domain is now
    // BIGINT, so those rows must not serve — all files kept
    assert(planned(t, $"id" === 503L) === 10)
    assert(CowTable.readWhere(spark, t, $"id" === 503L).count() === 1L)
    // a post-widen merge writes bigint files whose sketches do serve
    val src = (0 until 40).map(k => (5000L + 2 * k, s"w$k"))
      .toDF("id", "name")
    CowTable.mergeInto(spark, t, src, Seq("id"))
    val mm = plannedNoBloom(t, $"id" === 5001L)
    val b = planned(t, $"id" === 5001L)
    assert(mm >= 1 && b < mm,
      s"post-widen sidecar did not prune ($b vs $mm)")
  }

  test("rename: probes under the new name keep serving from old rows") {
    val t = fixture()
    CowTable.alterTable(spark, t, renames = Map("id" -> "doc_id"))
    assert(plannedNoBloom(t, $"doc_id" === 503L) === 10)
    val b = planned(t, $"doc_id" === 503L)
    assert(b >= 1 && b <= 3, s"renamed bloom plan $b out of [1,3]")
    assert(CowTable.readWhere(spark, t, $"doc_id" === 503L).count() === 1L)
  }

  test("int literal probes a bigint column; string literal stays conservative") {
    val t = freshTable()
    val df = (0L until 1000L).map(i => (2 * i, s"n$i")).toDF("id", "name")
      .withColumn("__f", (pmod($"id" / 2, lit(10L)) + 1).cast("int"))
    CowTable.initFiled(df, t, "__f", 10)
    CowTable.declareBloom(spark, t,
      Map("id" -> CowTable.BloomColSpec(0.01, 1000L)))
    // Column-DSL int literal against the bigint column: the analyzer
    // wraps it in CAST, which folds back to a typed probe
    val b = planned(t, $"id" === 501) // Int literal
    assert(b <= 2, s"int-literal probe did not prune ($b)")
    // a castable string literal coerces to the column type — probing
    // it is exactly Spark's comparison semantics
    val bs = planned(t, $"id" === "501")
    assert(bs <= 2, s"coerced-string probe did not prune ($bs)")
    // a literal that cannot take the column's type yields no probe
    val before = CowTable.bloomPrunesConsulted.get()
    CowTable.pruneDataFiles(spark, t, CowTable.latestManifest(t).get,
      $"id" === "not-a-number")
    assert(CowTable.bloomPrunesConsulted.get() === before)
  }

  test("vacuum keeps live bloom sidecars; pruning survives") {
    val t = fixture()
    CowTable.mergeInto(spark, t,
      Seq((2000L, "x", 1)).toDF("id", "name", "grp"), Seq("id"))
    CowTable.mergeInto(spark, t,
      Seq((2002L, "y", 1)).toDF("id", "name", "grp"), Seq("id"))
    CowTable.vacuum(spark, t, keepVersions = 1)
    val m = CowTable.latestManifest(t).get
    assert(m.bloomRels.nonEmpty)
    m.bloomRels.foreach { rel =>
      assert(Files.isDirectory(Paths.get(t, "manifest").resolve(rel)),
        s"live bloom sidecar $rel vacuumed away")
    }
    val b = planned(t, $"id" === 503L)
    assert(b >= 1 && b <= 3)
    assert(CowTable.readWhere(spark, t, $"id" === 503L).count() === 1L)
  }

  test("protocol: every stats commit declares v3 (sidecar-only file " +
      "list); bloom lines ride v3 and round-trip") {
    val t = fixture()
    val m = CowTable.latestManifest(t).get
    val head = scala.io.Source.fromFile(
      Paths.get(t, "manifest", s"v${m.version}.manifest").toFile)
    val lines = try head.getLines().toList finally head.close()
    assert(lines.head === "graft-cow-manifest-v3")
    // no per-data-file path lines — only prefixed metadata + end
    assert(lines.tail.forall(l => l == "end" || l.contains(":")))
    assert(m.bloomCols.nonEmpty && m.bloomRels.nonEmpty,
      "bloom declaration must round-trip through the v3 parse")
    val plain = freshTable()
    CowTable.init((0L until 10L).toDF("id").repartition(1), plain)
    val pv = CowTable.latestManifest(plain).get.version
    val h2 = scala.io.Source.fromFile(
      Paths.get(plain, "manifest", s"v$pv.manifest").toFile)
    val l2 = try h2.getLines().next() finally h2.close()
    assert(l2 === "graft-cow-manifest-v3")
  }

  test("bloom-guided MERGE discovery prunes the scattered candidate set") {
    val t = fixture() // ids 0..999 scattered over 10 residue files
    val m = CowTable.latestManifest(t).get
    val src = Seq((503L, "u503", 1), (777L, "u777", 2))
      .toDF("id", "name", "grp")
    // range bound alone keeps all 10 (every file's range overlaps);
    // the key sketches cut discovery to the two touched files (+fpp)
    val cand = CowTable.mergeCandidateFiles(spark, t, m, src, Seq("id"))
    assert(cand.size >= 2 && cand.size <= 4,
      s"bloom-guided discovery kept ${cand.size} of 10")
    // over the key cap the probe stands down: range-bounded fallback
    val oldCap = CowTable.bloomMergeMaxKeys
    CowTable.bloomMergeMaxKeys = 1
    try assert(CowTable.mergeCandidateFiles(spark, t, m, src,
      Seq("id")).size === 10)
    finally CowTable.bloomMergeMaxKeys = oldCap
    // the guided merge lands the same result as the semantics demand
    CowTable.mergeInto(spark, t, src, Seq("id"))
    assert(CowTable.readWhere(spark, t, $"id" === 503L)
      .select("name").head().getString(0) === "u503")
    assert(CowTable.read(spark, t).count() === 1000L)
  }

  test("consolidation folds sidecars to one; pruning decisions identical") {
    val t = fixture()
    // three ingests => three more sidecars
    (0 until 3).foreach { k =>
      CowTable.mergeInto(spark, t,
        Seq((2000L + 2 * k, s"m$k", 1)).toDF("id", "name", "grp"),
        Seq("id"))
    }
    val before = CowTable.latestManifest(t).get
    assert(before.bloomRels.size === 4)
    val oldDirs = before.bloomRels.map(Paths.get(t, "manifest").resolve(_))
    def decisions(): Seq[Seq[String]] =
      Seq($"id" === 503L, $"id" === 2000L, $"id" === 2001L).map(c =>
        CowTable.pruneDataFiles(spark, t,
          CowTable.latestManifest(t).get, c))
    val preDecisions = decisions()
    CowTable.consolidateBlooms(spark, t)
    val after = CowTable.latestManifest(t).get
    assert(after.bloomRels.size === 1)
    assert(decisions() === preDecisions,
      "consolidation changed a pruning decision")
    assert(CowTable.readWhere(spark, t, $"id" === 2000L).count() === 1L)
    // old rels serve old manifests until vacuum drops those versions,
    // then their dirs go while the consolidated one survives
    CowTable.vacuum(spark, t, keepVersions = 1)
    oldDirs.foreach(d => assert(!Files.isDirectory(d),
      s"replaced bloom sidecar $d survived vacuum"))
    assert(Files.isDirectory(
      Paths.get(t, "manifest").resolve(after.bloomRels.head)))
    assert(decisions() === preDecisions)
  }

  test("transparent skip rule composes with the bloom index") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val t = fixture()
    graft.plans.CowSkipApi.enable(spark)
    val q = CowTable.read(spark, t).filter($"id" === 503L)
    val planned = q.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.count(_.contains("/data/"))
    assert(planned >= 1 && planned <= 3,
      s"transparent rule planned $planned files; bloom should cut 10 to ~1")
    assert(q.count() === 1L)
  }

  test("CALL graft.cow_declare_bloom declares + backfills from SQL") {
    spark.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val t = freshTable()
    val df = (0L until 1000L).map(i => (i, s"n$i")).toDF("id", "name")
      .withColumn("__f", (pmod($"id", lit(10L)) + 1).cast("int"))
    CowTable.initFiled(df, t, "__f", 10)
    spark.sql(s"CALL graft.cow_declare_bloom(table => '$t', " +
      "cols => 'id', fpp => 0.01, items_per_file => 1000)").collect()
    val m = CowTable.latestManifest(t).get
    assert(m.bloomCols.contains("id") && m.bloomRels.nonEmpty)
    val b = planned(t, $"id" === 503L)
    assert(b >= 1 && b <= 3, s"SQL-declared bloom plan $b out of [1,3]")
  }

  test("declareBloom validations") {
    val t = freshTable()
    CowTable.init((0L until 10L).map(i => (i, i * 0.5))
      .toDF("id", "score").repartition(1), t)
    intercept[IllegalArgumentException] {
      CowTable.declareBloom(spark, t,
        Map("nope" -> CowTable.BloomColSpec()))
    }
    intercept[IllegalArgumentException] {
      CowTable.declareBloom(spark, t,
        Map("score" -> CowTable.BloomColSpec())) // double: refused
    }
    intercept[IllegalArgumentException] {
      CowTable.BloomColSpec(fpp = 1.5)
    }
  }

  test("merge discovery probes at the TARGET type; lossy types stand down") {
    val t = fixture() // bigint id, residue layout, bloom-declared
    val m = CowTable.latestManifest(t).get
    // an int-typed source key is coercible (the equi-join would match),
    // but the sketches hashed bigint values — the probe must cast, or
    // it proves touched files absent and the merge duplicate-inserts
    val cInt = CowTable.mergeCandidateFiles(spark, t, m,
      Seq(5, 15).toDF("id"), Seq("id"))
    val cLong = CowTable.mergeCandidateFiles(spark, t, m,
      Seq(5L, 15L).toDF("id"), Seq("id"))
    assert(cInt.toSet == cLong.toSet,
      "int-keyed probe diverged from the bigint-keyed one")
    assert(cInt.nonEmpty && cInt.size < m.files.size,
      s"bloom never engaged (kept ${cInt.size} of ${m.files.size})")
    // soundness: the kept set covers every matching row
    assert(spark.read.parquet(cInt: _*)
      .filter($"id".isin(5L, 15L)).count() === 2L)
    // a NON-lossless source type (double) must not bloom-prune at all:
    // the residue layout makes range pruning keep everything, so a
    // full candidate set proves the bloom pass stood down
    val cDbl = CowTable.mergeCandidateFiles(spark, t, m,
      Seq(5.0, 15.0).toDF("id"), Seq("id"))
    assert(cDbl.size == m.files.size)
  }

  private def bloomDirsOnDisk(t: String): Set[String] = {
    val s = java.nio.file.Files.walk(Paths.get(t))
    try {
      val it = s.iterator()
      val buf = scala.collection.mutable.Set[String]()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("bloom-v"))
          buf += p.toString
      }
      buf.toSet
    } finally s.close()
  }

  test("an abandoned consolidate deletes its orphan sidecar dir") {
    val t = fixture()
    // a merge adds new files => the commit auto-sidecars a second rel
    CowTable.mergeInto(spark, t,
      (1000L until 1010L).map(i => (i, s"name$i", (i % 7).toInt))
        .toDF("id", "name", "grp"), Seq("id"))
    assert(CowTable.latestManifest(t).get.bloomRels.size >= 2)
    val before = bloomDirsOnDisk(t)
    // a competing METADATA-ONLY commit (no new files => no new sidecar)
    // lands inside the consolidate's commit window; its validate
    // refuses (the live-file fold is stale) and the already-written
    // consolidated rel must not leak — no manifest will ever
    // reference it, so vacuum could never reclaim it
    CowTable.preCommitHook = { () =>
      CowTable.preCommitHook = () => ()
      CowTable.alterTable(spark, t, renames = Map("grp" -> "grp2"))
      ()
    }
    try intercept[java.util.ConcurrentModificationException] {
      CowTable.consolidateBlooms(spark, t)
    } finally CowTable.preCommitHook = () => ()
    assert(bloomDirsOnDisk(t) == before,
      "abandoned consolidate leaked its sidecar dir")
    // the index still serves exactly after the abandoned attempt
    val b = planned(t, $"id" === 503L)
    assert(b >= 1 && b <= 3)
  }

  test("declareBloom retry does not leak the first attempt's backfill") {
    val t = freshTable()
    val df = (0L until 100L).map(i => (i, s"n$i", (i % 7).toInt))
      .toDF("id", "name", "grp")
      .withColumn("__f", (pmod($"id", lit(5L)) + 1).cast("int"))
    CowTable.initFiled(df, t, "__f", 5)
    // first attempt loses the version race to a rename; the retry
    // rebuilds a FRESH backfill against the new head, so the first
    // attempt's rel must be deleted, not orphaned
    CowTable.preCommitHook = { () =>
      CowTable.preCommitHook = () => ()
      CowTable.alterTable(spark, t, renames = Map("name" -> "nm"))
      ()
    }
    try CowTable.declareBloom(spark, t,
      Map("id" -> CowTable.BloomColSpec(0.01, 1000L)))
    finally CowTable.preCommitHook = () => ()
    val m = CowTable.latestManifest(t).get
    assert(m.bloomRels.size == 1)
    assert(bloomDirsOnDisk(t).size == 1,
      s"leaked backfill dirs: ${bloomDirsOnDisk(t)} vs rels ${m.bloomRels}")
  }
}
