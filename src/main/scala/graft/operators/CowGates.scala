package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.CowTable._

/** The lakehouse gates: each builds a fresh [[CowTable]] fixture from
  * the TPC-H-shaped test data, runs one operator on it, and is checked
  * value-exact against a DuckDB oracle. One [[Gate]] record per gate
  * ([[gates]]) feeds the driver's query and oracle maps and the bench's
  * build/op split. */
object CowGates {

  // ------------------------------------------------------------- gate
  // Merge a doubled-price even-orderkey slice into a snapshot of the
  // odd-ish orders (keys % 4 != 0): exercises update (matched, status
  // not F), delete (matched source rows with status F), insert (keys
  // % 4 == 0 absent from the target), and untouched carry (odd keys
  // never in the source). The gate reads the final table content —
  // oracle is the same MERGE expressed as anti-join/join/anti-join
  // UNION ALL in DuckDB. Fresh table per invocation (UUID dir) so
  // repeated verifies never double-merge.
  private def freshGateTable(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cow/" +
      java.util.UUID.randomUUID().toString.take(8)

  private def lhMergeBuild(s: SparkSession, dir: String): String = {
    val table = freshGateTable()
    init(Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(4)) =!= 0), table)
    table
  }

  private def lhMergeOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    val source = Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    mergeInto(s, table, source, Seq("o_orderkey"),
      deleteCond = Some(col("o_orderstatus") === "F"), insert = true)
    read(s, table)
  }

  val lhMergeSql: String =
    """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 0),
      |source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT * FROM target
      |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
      |UNION ALL
      |SELECT s.* FROM source s JOIN target t USING (o_orderkey)
      |WHERE s.o_orderstatus <> 'F'
      |UNION ALL
      |SELECT s.* FROM source s
      |WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target)""".stripMargin

  /** Gate: the COST-BASED COW/MOR HYBRID merge ([[mergeIntoHybrid]]).
    * Fixture: the 32-file NTILE stats-prune table (o_orderkey%7=1
    * pre-deleted by DV); source: a dense ~10% o_custkey interval
    * (clustered — covers a few files nearly whole) UNION the scattered
    * o_orderkey%83 stragglers, prices doubled. With threshold 0.25
    * (exactly representable, so the density comparison is
    * `matched*4 >= total` in BOTH engines) the interval's files must
    * group-rewrite and the stragglers' files must stay behind DVs —
    * the oracle re-derives the rewritten/MOR file tallies from the
    * NTILE bucket algebra and the full relational result from the
    * merge semantics, bigint-exact: one file on the wrong side of the
    * density cut, one lost update, or one dropped re-insert fails the
    * hash. */
  private def lhMergeHybridOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    val source = Tables.orders(s, dir)
      .filter(($"o_custkey" >= lo && $"o_custkey" <= hi) ||
        pmod($"o_orderkey", lit(83)) === 0)
      .withColumn("o_totalprice", $"o_totalprice" * 2)
    val m0 = latestManifest(table).get
    val m1 = mergeIntoHybrid(s, table, source, Seq("o_orderkey"),
      denseFraction = 0.25)
    val keptN = m1.files.map(normalize).toSet
    val rewritten = m0.files.count(f => !keptN.contains(normalize(f)))
    val morFiles = dvTargets(s, m1.dvs.filterNot(m0.dvs.toSet),
      m1.dvRunCounts).size.toLong
    read(s, table)
      .agg(count(lit(1)).as("n"),
        count_distinct($"o_orderkey").as("n_keys"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("n_rewritten", lit(rewritten.toLong))
      .withColumn("n_mor", lit(morFiles))
  }

  // lazy: StatsPruneFiles is declared later in the object body
  lazy val lhMergeHybridSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 4 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 4 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |src AS (SELECT o_orderkey, o_custkey, o_orderstatus,
       |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
       |  FROM orders, b
       |  WHERE (o_custkey BETWEEN b.lo AND b.hi) OR o_orderkey % 83 = 0),
       |live AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 1),
       |res AS (
       |  SELECT * FROM live
       |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
       |  UNION ALL SELECT * FROM src),
       |filed AS (SELECT o_orderkey, o_custkey,
       |    NTILE($StatsPruneFiles)
       |      OVER (ORDER BY o_custkey, o_orderkey) AS f
       |  FROM orders),
       |audit AS (SELECT f, COUNT(*) AS total,
       |    SUM(CASE WHEN o_orderkey % 7 <> 1 AND (
       |        o_custkey BETWEEN (SELECT lo FROM b)
       |          AND (SELECT hi FROM b)
       |        OR o_orderkey % 83 = 0) THEN 1 ELSE 0 END) AS matched
       |  FROM filed GROUP BY f)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM res) AS n,
       |  (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM res)
       |    AS n_keys,
       |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    FROM res) AS sum_price,
       |  (SELECT CAST(SUM(CASE WHEN matched * 4 >= total THEN 1 ELSE 0
       |    END) AS BIGINT) FROM audit) AS n_rewritten,
       |  (SELECT CAST(SUM(CASE WHEN matched > 0 AND matched * 4 < total
       |    THEN 1 ELSE 0 END) AS BIGINT) FROM audit) AS n_mor""".stripMargin

  /** Gate: streaming-shaped ingest (init + an insert-only merge, each
    * half of orders by orderkey parity — the merge's full-outer output
    * partitioning leaves a genuine multi-file arrival-ordered tail);
    * [[compactTableZorder]] rewrites the whole
    * tail clustered on (o_custkey, o_orderkey). The emitted per-z-cell
    * aggregate recomputes the gate-exact Morton code from the COLUMNS at
    * read time, so it pins exact content preservation through
    * merge + z-compaction regardless of physical layout — the oracle is
    * the same aggregate straight over orders. The layout property
    * itself (contiguous z-ranges per rewritten file, pruning recovery,
    * right-sized files carried by reference) is spec-measured on the
    * real written files in CowTableSpec. */
  private def lhCompactZorderBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
    val table = freshGateTable()
    init(ord.filter(pmod($"o_orderkey", lit(2)) === 1), table)
    mergeInto(s, table, ord.filter(pmod($"o_orderkey", lit(2)) === 0),
      Seq("o_orderkey"))
    table
  }

  private def lhCompactZorderOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val sizes = latestManifest(table).get.files.map(f =>
      Files.size(Paths.get(f)))
    compactTableZorder(s, table, targetBytes = math.max(1L, sizes.sum / 2),
      zCols = Seq("o_custkey", "o_orderkey"),
      smallThreshold = Some(sizes.max + 1))
    val t = read(s, table)
    val m = t.agg(max($"o_custkey"), max($"o_orderkey")).head()
    val (mx, my) = (m.getLong(0), m.getLong(1))
    t.withColumn("zv", Layout.zValue(
        Seq(expr(s"(o_custkey * ${Layout.ZLevels}) div ${mx + 1}"),
          expr(s"(o_orderkey * ${Layout.ZLevels}) div ${my + 1}")),
        Layout.ZBits))
      .groupBy($"zv")
      .agg(count(lit(1)).as("n"),
        count_distinct($"o_custkey").as("n_cust"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
  }

  val lhCompactZorderSql: String = {
    val z = Layout.zValueSql(Seq("xq", "yq"), Layout.ZBits)
    s"""SELECT ($z) AS zv, COUNT(*) AS n,
       |  COUNT(DISTINCT o_custkey) AS n_cust,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    AS sum_price
       |FROM (SELECT
       |    ((o_custkey * ${Layout.ZLevels}) //
       |      (SELECT MAX(o_custkey) + 1 FROM orders)) AS xq,
       |    ((o_orderkey * ${Layout.ZLevels}) //
       |      (SELECT MAX(o_orderkey) + 1 FROM orders)) AS yq,
       |    o_custkey, o_totalprice
       |  FROM orders) q
       |GROUP BY 1""".stripMargin
  }

  /** Gate: two stacked merge-on-read deletes (different predicates, so
    * the second DV accumulates on top of the first and overlapping row
    * identities are deduplicated) against a snapshot of orders, read
    * back through the DV-applying reader and aggregated per status —
    * the oracle is the same aggregate over orders with both delete
    * predicates negated. That no data file was touched, the DV-file
    * mechanics, and rewriteDeletes equivalence are spec-pinned on real
    * files in CowTableSpec. */
  private def lhDeleteVectorsBuild(s: SparkSession, dir: String): String = {
    val table = freshGateTable()
    init(Tables.orders(s, dir), table)
    table
  }

  private def lhDeleteVectorsOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    deleteWhere(s, table, col("o_orderstatus") === "F" &&
      pmod(col("o_orderkey"), lit(10)) === 3)
    deleteWhere(s, table, pmod(col("o_custkey"), lit(97)) === 5)
    read(s, table).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        count_distinct(col("o_custkey")).as("n_cust"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
  }

  val lhDeleteVectorsSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  COUNT(DISTINCT o_custkey) AS n_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 3)
      |  AND NOT (o_custkey % 97 = 5)
      |GROUP BY 1""".stripMargin

  /** Gate: the change feed across a MERGE (v0→v1, the lh_merge
    * construction) followed by a merge-on-read DELETE (v1→v2), read as
    * one v0→v2 diff. The oracle rebuilds the same classification
    * relationally: deletes are target keys absent from the final state,
    * inserts are final keys absent from the target, and matched keys
    * whose row content differs emit a pre/post image pair. Only
    * o_totalprice can differ for a matched key (the update rewrites it;
    * every other column rides along from the same orders row), so the
    * oracle's difference test is that single column in both engines. */
  private def lhChangesBuild(s: SparkSession, dir: String): String = {
    val table = lhMergeBuild(s, dir)
    lhMergeOp(s, dir, table)
    deleteWhere(s, table, pmod(col("o_custkey"), lit(5)) === 2)
    table
  }

  private def lhChangesOp(s: SparkSession, dir: String,
      table: String): DataFrame =
    tableChanges(s, table, 0, 2, Seq("o_orderkey"))

  /** Gate: the SAME v0→v2 diff delivered through the DSv2 STREAMING
    * source ([[graft.streaming.CowFeedProvider]]) — a real micro-batch
    * replay into the memory sink, offsets = table versions, the batch
    * staged and read back through the source's own machinery. Shares
    * lh_changes' relational oracle, pinning that the streaming feed and
    * the batch API deliver identical change sets. */
  private def lhChangesStreamOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    val ckpt = Files.createTempDirectory("graft_feed_gate").toString
    val name = "lh_changes_stream_" +
      java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    // per-slice diff joins run at the stream's frozen partition count:
    // size it from the replayed table's bytes (clamped no-op at scale)
    val q = graft.streaming.StreamTune.withAdaptivePartitions(s,
      graft.streaming.StreamTune.dirBytes(Paths.get(table))) {
      s.readStream.format("graft.streaming.CowFeedProvider")
        .option("table", table).option("keys", "o_orderkey").load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
    }
    try q.processAllAvailable() finally q.stop()
    s.table(name).drop("_commit_version")
  }

  val lhChangesSql: String =
    """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 0),
      |source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT * FROM target
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
      |  UNION ALL
      |  SELECT s.* FROM source s JOIN target t USING (o_orderkey)
      |  WHERE s.o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT s.* FROM source s
      |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target)),
      |final AS (SELECT * FROM merged WHERE o_custkey % 5 <> 2)
      |SELECT t.*, 'delete' AS _change_type FROM target t
      |WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM final)
      |UNION ALL
      |SELECT f.*, 'insert' FROM final f
      |WHERE f.o_orderkey NOT IN (SELECT o_orderkey FROM target)
      |UNION ALL
      |SELECT t.*, 'update_preimage'
      |FROM target t JOIN final f USING (o_orderkey)
      |WHERE t.o_totalprice <> f.o_totalprice
      |UNION ALL
      |SELECT f.*, 'update_postimage'
      |FROM final f JOIN target t USING (o_orderkey)
      |WHERE t.o_totalprice <> f.o_totalprice""".stripMargin

  /** Fixture for the evolution-spanning change feed: v0 init (with an
    * INT `o_flag` column so the widen leg is exercised), v1 merge
    * (updates + deletes + inserts), v2 `alterTable` (rename
    * o_orderpriority→o_priority, widen o_flag int→bigint, add o_note)
    * — metadata-only, change-FREE in the feed — and v3 a
    * merge-on-read delete. */
  private def lhChangesEvolveBuild(s: SparkSession, dir: String): String = {
    val table = freshGateTable()
    def withFlag(df: DataFrame): DataFrame =
      df.withColumn("o_flag", pmod(col("o_orderkey"), lit(100)).cast("int"))
    init(withFlag(Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(4)) =!= 0)), table)
    val source = withFlag(Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2))
    mergeInto(s, table, source, Seq("o_orderkey"),
      deleteCond = Some(col("o_orderstatus") === "F"), insert = true)
    alterTable(s, table,
      renames = Map("o_orderpriority" -> "o_priority"),
      widens = Map("o_flag" -> LongType),
      adds = Seq(("o_note", StringType)))
    deleteWhere(s, table, pmod(col("o_custkey"), lit(5)) === 2)
    table
  }

  /** Gate: change-feed REPLAY ACROSS A SCHEMA-EVOLUTION BOUNDARY — the
    * streaming CDF consumer starts against the EVOLVED table and
    * replays from v0 with `maxVersionsPerBatch=1`, so every slice is
    * one version pair staged under ITS OWN schema vintage: the v0→v1
    * slice speaks the pre-alter schema and must rename forward,
    * up-cast the widened column, and NULL-extend the added one
    * ([[alignFeedSlice]]); the v1→v2 slice IS the alter and must be
    * change-free (metadata-only evolution, like layout maintenance);
    * the v2→v3 slice already speaks the evolved schema. The output
    * keeps `_commit_version`, so the oracle pins not just the change
    * set but WHICH version each change replayed from. */
  private def lhChangesEvolveOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    val ckpt = Files.createTempDirectory("graft_feed_evolve").toString
    val name = "lh_changes_evolve_" +
      java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    val q = graft.streaming.StreamTune.withAdaptivePartitions(s,
      graft.streaming.StreamTune.dirBytes(Paths.get(table))) {
      s.readStream.format("graft.streaming.CowFeedProvider")
        .option("table", table).option("keys", "o_orderkey")
        .option("maxVersionsPerBatch", "1").load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
    }
    try q.processAllAvailable() finally q.stop()
    s.table(name)
  }

  val lhChangesEvolveSql: String =
    """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice, o_orderdate, o_orderpriority,
      |    CAST(o_orderkey % 100 AS INT) AS o_flag FROM orders),
      |target AS (SELECT * FROM base WHERE o_orderkey % 4 <> 0),
      |source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority,
      |    o_flag
      |  FROM base WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT * FROM target
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
      |  UNION ALL
      |  SELECT s.* FROM source s JOIN target t USING (o_orderkey)
      |  WHERE s.o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT s.* FROM source s
      |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target))
      |SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice,
      |  t.o_orderdate, t.o_orderpriority AS o_priority,
      |  CAST(t.o_flag AS BIGINT) AS o_flag, CAST(NULL AS VARCHAR) AS o_note,
      |  'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
      |FROM target t JOIN source s USING (o_orderkey)
      |WHERE s.o_orderstatus = 'F'
      |UNION ALL
      |SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
      |  s.o_orderdate, s.o_orderpriority, CAST(s.o_flag AS BIGINT),
      |  CAST(NULL AS VARCHAR), 'insert', CAST(1 AS BIGINT)
      |FROM source s
      |WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target)
      |UNION ALL
      |SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice,
      |  t.o_orderdate, t.o_orderpriority, CAST(t.o_flag AS BIGINT),
      |  CAST(NULL AS VARCHAR), 'update_preimage', CAST(1 AS BIGINT)
      |FROM target t JOIN source s USING (o_orderkey)
      |WHERE s.o_orderstatus <> 'F' AND t.o_totalprice <> s.o_totalprice
      |UNION ALL
      |SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
      |  s.o_orderdate, s.o_orderpriority, CAST(s.o_flag AS BIGINT),
      |  CAST(NULL AS VARCHAR), 'update_postimage', CAST(1 AS BIGINT)
      |FROM source s JOIN target t USING (o_orderkey)
      |WHERE s.o_orderstatus <> 'F' AND t.o_totalprice <> s.o_totalprice
      |UNION ALL
      |SELECT m.o_orderkey, m.o_custkey, m.o_orderstatus, m.o_totalprice,
      |  m.o_orderdate, m.o_orderpriority, CAST(m.o_flag AS BIGINT),
      |  CAST(NULL AS VARCHAR), 'delete', CAST(3 AS BIGINT)
      |FROM merged m WHERE m.o_custkey % 5 = 2""".stripMargin

  /** Files for the stats-pruning gate: a 32-file layout keyed by exact
    * NTILE over (o_custkey, o_orderkey) — each file IS one ntile
    * bucket, so the per-file custkey min/max (and therefore the set of
    * files an interval predicate must read) is reproducible in DuckDB
    * with the same window function. Production tables get equivalent
    * locality from [[compactTableZorder]]; NTILE is gate-only
    * oracle-ability, as in [[Layout.scZorderPrune]]. */
  val StatsPruneFiles = 32

  /** Gate: REAL manifest-stats data skipping end-to-end. Build a CoW
    * table of orders clustered by custkey (32 one-bucket files), stack
    * a merge-on-read DELETE on top, then answer an interval query
    * through [[readWhere]] — files that cannot contain the interval
    * never reach the scan, DV entries still apply to the files that do.
    * The emitted row carries the aggregate AND the planned/total file
    * counts; the oracle recomputes the aggregate from orders and the
    * planned count from the same NTILE bucket min/max intersection —
    * bigint-exact, so the gate fails if the pruner reads one file too
    * many or too few. */
  private def lhStatsPruneBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val table = freshGateTable()
    // distributed NTILE: identical bucket assignment (the order is a
    // total order), no single-partition WindowExec (guide §2)
    val filed = GlobalNtile.withBucket(Tables.orders(s, dir), "__f",
      StatsPruneFiles, Seq($"o_custkey", $"o_orderkey"))
    initFiled(filed, table, "__f", StatsPruneFiles)
    deleteWhere(s, table, pmod($"o_orderkey", lit(7)) === 1)
    table
  }

  private def lhStatsPruneOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10) // ~10% custkey interval
    val cond = $"o_custkey" >= lo && $"o_custkey" <= hi
    val (planned, total) = pruneReport(s, table, cond)
    readWhere(s, table, cond)
      .agg(count(lit(1)).as("n"),
        count_distinct($"o_custkey").as("n_cust"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("planned_files", lit(planned.toLong))
      .withColumn("total_files", lit(total.toLong))
  }

  /** Gate: the change-feed STREAMING SOURCE composed with a
    * PARTITIONED table — the lh_stream_part discipline on the source
    * side. A status-partitioned table takes (v1) a DV delete scoped to
    * partition F and (v2) a merge scoped to partition P; the feed
    * replays through the real `MicroBatchStream` and the gate pins,
    * bigint-exact: the delete's candidate scan planned exactly the F
    * partition's file count (partition pruning on the write path),
    * every file the merge rewrote carries partition tuple P (the slice
    * staging is partition-bounded, not table-bounded), and the
    * partition-pruned CONSUMER (`WHERE o_orderstatus='F'`) sees the
    * delete epoch's rows and NOTHING from the P-scoped merge. */
  /** Fixture half (bench-split): the partitioned table + the two
    * committed versions the feed will replay. */
  private def lhFeedPartBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val t = freshGateTable()
    initPartitioned(Tables.orders(s, dir).coalesce(1), t,
      Seq("o_orderstatus"))
    deleteWhere(s, t,
      $"o_orderstatus" === "F" && pmod($"o_orderkey", lit(5)) === 0) // v1
    val srcP = Tables.orders(s, dir).filter($"o_orderstatus" === "P")
      .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
    mergeInto(s, t, srcP, Seq("o_orderkey")) // v2 — touches P files only
    t
  }

  private def lhFeedPartOp(s: SparkSession, dir: String,
      t: String): DataFrame = {
    import s.implicits._
    // the delete's candidate-scan plan, measured against the PRE-delete
    // snapshot (v0) — metadata-only either way, so it rides the op half
    val m0 = readManifest(t, 0)
    val plannedF =
      pruneDataFiles(s, t, m0, $"o_orderstatus" === "F").size
    val totalF = m0.files.size
    // every file the merge replaced must carry partition tuple P
    val m1 = readManifest(t, 1)
    val m2 = readManifest(t, 2)
    val m2N = m2.files.map(normalize).toSet
    val removedN = m1.files.map(normalize).filterNot(m2N.contains)
    val nonP =
      if (removedN.isEmpty) 0L
      else entriesDF(s, t, m1).filter(col("kind") === "data" &&
        normalizeSql(col("path")).isInCollection(removedN) &&
        !coalesce(col("part"), lit(""))
          .contains("\"o_orderstatus\":\"P\"")).count()
    val ckpt = Files.createTempDirectory("graft_feed_part").toString
    val name = "lh_feed_part_" +
      java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    val q = graft.streaming.StreamTune.withAdaptivePartitions(s,
      graft.streaming.StreamTune.dirBytes(Paths.get(t))) {
      s.readStream.format("graft.streaming.CowFeedProvider")
        .option("table", t).option("keys", "o_orderkey").load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
    }
    try q.processAllAvailable() finally q.stop()
    val feed = s.table(name)
    val fSide = feed.filter($"o_orderstatus" === "F") // pruned consumer
    val pSide = feed.filter($"o_orderstatus" === "P")
    fSide.agg(
        sum(when($"_change_type" === "delete", 1L).otherwise(0L))
          .as("n_f_delete"),
        sum(when($"_change_type" =!= "delete", 1L).otherwise(0L))
          .as("n_f_other"))
      .crossJoin(pSide.agg(
        sum(when($"_change_type" === "update_preimage", 1L).otherwise(0L))
          .as("n_p_pre"),
        sum(when($"_change_type" === "update_postimage", 1L).otherwise(0L))
          .as("n_p_post")))
      .withColumn("n_nonp_rewritten", lit(nonP))
      .withColumn("planned_files_f", lit(plannedF.toLong))
      .withColumn("total_files", lit(totalF.toLong))
  }

  val lhFeedPartSql: String =
    """SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
      |   WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0) AS n_f_delete,
      |  CAST(0 AS BIGINT) AS n_f_other,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
      |   WHERE o_orderstatus = 'P') AS n_p_pre,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
      |   WHERE o_orderstatus = 'P') AS n_p_post,
      |  CAST(0 AS BIGINT) AS n_nonp_rewritten,
      |  CAST(1 AS BIGINT) AS planned_files_f,
      |  (SELECT CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
      |   FROM orders) AS total_files""".stripMargin

  /** Gate: in-place SCHEMA EVOLUTION through MERGE. The lh_merge
    * construction (update / delete / insert / carry), but the source
    * carries a NEW column (`o_flag` = orderkey mod 3): the merge
    * commits a schema-versioned manifest, rewritten rows carry the
    * value, untouched files are NOT rewritten — their rows NULL-extend
    * at read time through the manifest schema — and a stacked
    * merge-on-read DELETE proves DVs survive the evolution. The oracle
    * rebuilds the same final state relationally with CAST(NULL AS
    * BIGINT) for pre-evolution rows. */
  private def lhEvolveOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    val source = Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("o_flag", pmod(col("o_orderkey"), lit(3)))
    mergeInto(s, table, source, Seq("o_orderkey"),
      deleteCond = Some(col("o_orderstatus") === "F"), insert = true,
      evolveSchema = true)
    deleteWhere(s, table, pmod(col("o_custkey"), lit(11)) === 2)
    read(s, table)
  }

  val lhEvolveSql: String =
    """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 0),
      |source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority,
      |    o_orderkey % 3 AS o_flag
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT t.*, CAST(NULL AS BIGINT) AS o_flag FROM target t
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
      |  UNION ALL
      |  SELECT s.* FROM source s JOIN target t USING (o_orderkey)
      |  WHERE s.o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT s.* FROM source s
      |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target))
      |SELECT * FROM merged WHERE o_custkey % 11 <> 2""".stripMargin

  /** Gate: STABLE-COLUMN-ID schema evolution v2 ([[alterTable]]) —
    * rename + int→bigint widen + drop as ONE metadata-only commit over
    * the 32-file NTILE fixture, composed with a PRE-evolution DV
    * delete, a POST-evolution MERGE (update/insert, values exceeding
    * int range to prove physical widening), and a POST-evolution DV
    * delete predicated on the RENAMED column (must hit pre-evolution
    * files through the prior-name resolution). `planned_files` is the
    * stats-prune count on the renamed column taken right after the
    * alter — old sidecar stats keyed by the historical name must still
    * prune exactly (the oracle re-derives the count from the same
    * NTILE bucket algebra) — and the full final rows hash against the
    * relational oracle with pre/post-evolution rows mixed. */
  private def lhEvolve2Build(s: SparkSession, dir: String): String = {
    import s.implicits._
    val table = freshGateTable()
    val filed = GlobalNtile.withBucket(
      Tables.orders(s, dir)
        .withColumn("o_qty", pmod($"o_orderkey", lit(1000L)).cast("int")),
      "__f", StatsPruneFiles, Seq($"o_custkey", $"o_orderkey"))
    initFiled(filed, table, "__f", StatsPruneFiles)
    deleteWhere(s, table, pmod($"o_orderkey", lit(7)) === 1) // pre-evo DV
    table
  }

  private def lhEvolve2Op(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    alterTable(s, table,
      renames = Map("o_custkey" -> "o_cust"),
      drops = Seq("o_orderpriority"),
      widens = Map("o_qty" -> LongType))
    // stats pruning on the RENAMED column, old sidecar keys folded —
    // taken before the merge so the file layout is still the oracle-
    // reproducible NTILE bucketing
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    val (planned, total) = pruneReport(s, table,
      $"o_cust" >= lo && $"o_cust" <= hi)
    val source = Tables.orders(s, dir)
      .filter(pmod($"o_orderkey", lit(5)) === 0)
      .select($"o_orderkey", $"o_custkey".as("o_cust"), $"o_orderstatus",
        ($"o_totalprice" * 2).as("o_totalprice"), $"o_orderdate",
        (pmod($"o_orderkey", lit(1000L)) + 3000000000L).as("o_qty"))
    mergeInto(s, table, source, Seq("o_orderkey"))
    deleteWhere(s, table, pmod($"o_cust", lit(11)) === 2) // post-evo DV
    read(s, table)
      .withColumn("planned_files", lit(planned.toLong))
      .withColumn("total_files", lit(total.toLong))
  }

  val lhEvolve2Sql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 4 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 4 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |f AS (SELECT o_custkey,
       |    NTILE($StatsPruneFiles) OVER (ORDER BY o_custkey, o_orderkey)
       |      AS fid
       |  FROM orders),
       |st AS (SELECT fid, MIN(o_custkey) AS mn, MAX(o_custkey) AS mx
       |  FROM f GROUP BY 1),
       |planned AS (SELECT COUNT(*) AS c FROM st, b
       |  WHERE mn <= b.hi AND mx >= b.lo),
       |tgt AS (SELECT o_orderkey, o_custkey AS o_cust, o_orderstatus,
       |    o_totalprice, o_orderdate,
       |    CAST(o_orderkey % 1000 AS BIGINT) AS o_qty
       |  FROM orders WHERE o_orderkey % 7 <> 1),
       |src AS (SELECT o_orderkey, o_custkey AS o_cust, o_orderstatus,
       |    o_totalprice * 2 AS o_totalprice, o_orderdate,
       |    o_orderkey % 1000 + 3000000000 AS o_qty
       |  FROM orders WHERE o_orderkey % 5 = 0),
       |merged AS (
       |  SELECT * FROM tgt
       |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
       |  UNION ALL
       |  SELECT * FROM src)
       |SELECT m.*, (SELECT c FROM planned) AS planned_files,
       |  CAST($StatsPruneFiles AS BIGINT) AS total_files
       |FROM merged m WHERE o_cust % 11 <> 2""".stripMargin

  /** Gate: the OPTIMIZER-RULE form of data skipping
    * ([[graft.plans.CowSkipRule]]) end-to-end — the query is a PLAIN
    * `read().filter(interval)`, no readWhere call anywhere; Catalyst
    * re-plans the scan over the surviving files and the gate reads the
    * planned file count off the OPTIMIZED PLAN itself. Same fixture
    * and same bigint-exact NTILE oracle as lh_stats_prune, so the two
    * gates pin that the manual API and the transparent rule make
    * identical skipping decisions. */
  private def lhSkipRuleOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    graft.plans.CowSkipApi.enable(s)
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    val q = read(s, table)
      .filter($"o_custkey" >= lo && $"o_custkey" <= hi)
    val planned = q.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.count(_.contains("/data/"))
    q.agg(count(lit(1)).as("n"),
        count_distinct($"o_custkey").as("n_cust"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("planned_files", lit(planned.toLong))
      .withColumn("total_files", lit(StatsPruneFiles.toLong))
  }

  /** Gate: the SQL surface end-to-end — `FROM cow_read('$table')` with
    * a plain WHERE, over the stats-pruning fixture (DV delete
    * included). Registered TVF resolves to the DV-applied snapshot; the
    * aggregate must match the relational oracle exactly. */
  private def lhSqlReadOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    s.sql(
      s"""SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_price
         |FROM cow_read('$table')
         |WHERE o_custkey BETWEEN $lo AND $hi""".stripMargin)
  }

  /** Gate: the SQL WRITE surface end-to-end — the lh_merge construction
    * driven entirely from SQL: `CALL graft.cow_merge(...)` (the DSv2
    * stored-procedure catalog, [[graft.plans.GraftCatalog]]) performs
    * the merge, `FROM cow_read(...)` reads the result — no Scala API in
    * the op path. Same relational MERGE oracle as lh_merge, so the SQL
    * and Scala surfaces are pinned to identical semantics. */
  private def lhSqlMergeOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    graft.functions.GraftFunctions.register(s)
    Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .createOrReplaceTempView("lh_sql_merge_src")
    s.sql(s"CALL graft.cow_merge(table => '$table', " +
      "source => 'lh_sql_merge_src', keys => 'o_orderkey', " +
      "delete_cond => 'o_orderstatus = ''F''')").collect()
    s.sql(s"SELECT * FROM cow_read('$table')")
  }

  /** Gate: the `MERGE INTO` *statement* through the DSv2 row-level
    * operation stack ([[graft.plans.CowDsv2Table]] — group-based
    * copy-on-write, runtime group filtering, executor-side parquet
    * writes, one replacing manifest commit), reading back through the
    * same catalog. Pinned to the SAME relational MERGE oracle as
    * lh_merge and lh_sql_merge, so all three merge surfaces — Scala
    * API, CALL procedure, SQL statement — share one semantics. */
  private def lhMergeStmtOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .createOrReplaceTempView("lh_merge_stmt_src")
    s.sql(
      s"""MERGE INTO graft.`$table` t
         |USING lh_merge_stmt_src s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND s.o_orderstatus = 'F' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    s.sql(s"SELECT * FROM graft.`$table`")
  }

  /** Gate: `MERGE WITH SCHEMA EVOLUTION` — the SQL statement evolves
    * the target INSIDE the merge (the single most common evolution
    * trigger in CDC ingestion: the source adds a field and every
    * downstream merge absorbs it). The analyzer hands the source-only
    * column to [[graft.plans.GraftCatalog.alterTable]] as an AddColumn
    * change (one metadata-only commit, stable-id discipline, old files
    * untouched — their rows NULL-extend at scan), then plans the
    * row-level MERGE against the evolved schema, so `UPDATE SET *` /
    * `INSERT *` re-expand to carry the new column. Same relational
    * oracle family as lh_merge/lh_evolve: full mixed-vintage rows with
    * CAST(NULL AS BIGINT) for pre-evolution rows. */
  private def lhMergeEvolveOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("o_flag", pmod(col("o_orderkey"), lit(3)))
      .createOrReplaceTempView("lh_merge_evolve_src")
    s.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$table` t
         |USING lh_merge_evolve_src s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND s.o_orderstatus = 'F' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    s.sql(s"SELECT * FROM graft.`$table`")
  }

  val lhMergeEvolveSql: String =
    """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 0),
      |source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority,
      |    o_orderkey % 3 AS o_flag
      |  FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT t.*, CAST(NULL AS BIGINT) AS o_flag FROM target t
      |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
      |UNION ALL
      |SELECT s.* FROM source s JOIN target t USING (o_orderkey)
      |WHERE s.o_orderstatus <> 'F'
      |UNION ALL
      |SELECT s.* FROM source s
      |WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target)""".stripMargin

  /** Gate: WRITE-AUDIT-PUBLISH over branch refs ([[createBranch]] /
    * [[publishBranch]] / [[dropBranch]]) — how a real pipeline keeps
    * bad data out of `main`. A BAD batch (negated prices) stages on a
    * branch; the audit ([[DataQuality.audit]]'s one-pass range check)
    * counts its violations ON THE BRANCH while the parent stays
    * oracle-identical to its pre-write state (row count + exact
    * decimal price sum); the branch drops without trace. A GOOD batch
    * stages on a second branch, audits clean, and publishes as ONE
    * atomic parent version (delta pinned = 1) whose full state matches
    * the relational MERGE oracle. Branch forks are metadata-only —
    * no data byte copies at any step except the batches' own files. */
  private def lhWapOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val orders = Tables.orders(s, dir)
    def priceAudit(df: DataFrame): Long =
      DataQuality.audit(df, Seq(
          DataQuality.DqInRange("o_totalprice", 0.0, 1e9)))
        .select("violations").head().getLong(0)
    def mainSig(): (Long, Double) = {
      val r = read(s, table).agg(count(lit(1)).as("n"),
        coalesce(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast("double"), lit(0.0)).as("sp")).head()
      (r.getLong(0), r.getDouble(1))
    }
    val vBase = latestManifest(table).get.version
    // WRITE (bad): negated prices, staged on a branch
    val bad = createBranch(s, table, "bad_batch")
    mergeInto(s, bad, orders
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", -col("o_totalprice")), Seq("o_orderkey"))
    // AUDIT on the branch; REJECT
    val badViolations = priceAudit(read(s, bad))
    dropBranch(s, table, "bad_batch")
    val (nAfterReject, spAfterReject) = mainSig()
    // WRITE (good) + AUDIT + PUBLISH
    val good = createBranch(s, table, "good_batch")
    mergeInto(s, good, orders
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2),
      Seq("o_orderkey"),
      deleteCond = Some(col("o_orderstatus") === "F"))
    val goodViolations = priceAudit(read(s, good))
    require(goodViolations == 0L, "good batch failed its audit")
    val published = publishBranch(s, table, "good_batch")
    dropBranch(s, table, "good_batch")
    val (nAfterPublish, spAfterPublish) = mainSig()
    import s.implicits._
    Seq((badViolations, nAfterReject, spAfterReject, goodViolations,
        (published.version - vBase).toLong, nAfterPublish, spAfterPublish))
      .toDF("bad_violations", "main_rows_after_reject",
        "main_price_after_reject", "good_violations",
        "publish_version_delta", "main_rows_after_publish",
        "main_price_after_publish")
  }

  val lhWapSql: String =
    """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 0),
      |source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT * FROM target
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
      |  UNION ALL
      |  SELECT s.* FROM source s JOIN target t USING (o_orderkey)
      |  WHERE s.o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT s.* FROM source s
      |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target))
      |SELECT
      |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0)
      |    AS bad_violations,
      |  (SELECT COUNT(*) FROM target) AS main_rows_after_reject,
      |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    FROM target) AS main_price_after_reject,
      |  CAST(0 AS BIGINT) AS good_violations,
      |  CAST(1 AS BIGINT) AS publish_version_delta,
      |  (SELECT COUNT(*) FROM merged) AS main_rows_after_publish,
      |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    FROM merged) AS main_price_after_publish""".stripMargin

  /** Gate: the same `MERGE INTO` statement in MERGE-ON-READ mode
    * ([[graft.plans.CowDsv2]]'s `SupportsDelta` path): deletes and
    * update-retractions land as deletion vectors, new row images append
    * — NO base data file is rewritten, write cost O(delta). The gate
    * asserts the MOR discipline structurally (every base file carried,
    * DVs written) and pins the result to the SAME relational oracle as
    * lh_merge / lh_sql_merge / lh_merge_stmt, so all four merge
    * surfaces share one semantics. */
  private def lhMergeMorOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    s.conf.set(graft.plans.CowDsv2.MorModeConf, "mor")
    try {
      val before = latestManifest(table).get
      Tables.orders(s, dir)
        .filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .createOrReplaceTempView("lh_merge_mor_src")
      s.sql(
        s"""MERGE INTO graft.`$table` t
           |USING lh_merge_mor_src s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s.o_orderstatus = 'F' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      val after = latestManifest(table).get
      require(before.files.map(normalize).toSet.subsetOf(
        after.files.map(normalize).toSet),
        "merge-on-read MERGE must carry every base data file")
      require(after.dvs.size > before.dvs.size,
        "merge-on-read MERGE must write deletion vectors")
      s.sql(s"SELECT * FROM graft.`$table`")
    } finally s.conf.set(graft.plans.CowDsv2.MorModeConf, "cow")
  }

  /** Gate: a MAINTENANCE query driven entirely from SQL metadata
    * columns — the `_file` column of the unified `cow_read` scan
    * ([[graft.plans.CowSqlFunction]] → [[graft.plans.CowDsv2Table]]).
    * Fixture: the 32-file NTILE stats-prune table, a uniform
    * merge-on-read delete (orderkey % 7 = 1), then a SKEWED one (a ~10%
    * custkey interval, even orderkeys) stacked in the op — so dead-row
    * density varies per file. The query derives per-file live counts
    * from the latest snapshot, per-file total counts from `cow_read(t,
    * 0)` time travel (DV commits carry data files, so `_file` values
    * align across versions), and classifies files with >30% dead rows
    * as rewrite candidates — the report a table maintainer feeds into
    * [[rewriteDeletes]]/[[compactTable]] scheduling, no Scala API and
    * no manifest introspection anywhere. The oracle re-derives every
    * column from the same NTILE bucket algebra, bigint-exact: one file
    * misclassified or one dead row miscounted fails the gate. */
  private def lhFileAuditOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 2, mx / 2 + mx / 10)
    deleteWhere(s, table, $"o_custkey" >= lo && $"o_custkey" <= hi &&
      pmod($"o_orderkey", lit(2)) === 0)
    s.sql(
      s"""WITH live AS (SELECT _file, COUNT(*) AS live_rows
         |    FROM cow_read('$table') GROUP BY _file),
         |  total AS (SELECT _file, COUNT(*) AS total_rows
         |    FROM cow_read('$table', 0) GROUP BY _file),
         |  audit AS (SELECT t.total_rows,
         |      COALESCE(l.live_rows, 0) AS live_rows
         |    FROM total t LEFT JOIN live l ON t._file = l._file)
         |SELECT COUNT(*) AS n_files,
         |  CAST(SUM(total_rows) AS BIGINT) AS total_rows,
         |  CAST(SUM(live_rows) AS BIGINT) AS live_rows,
         |  CAST(SUM(CASE WHEN live_rows * 10 < total_rows * 7
         |    THEN 1 ELSE 0 END) AS BIGINT) AS rewrite_candidates,
         |  CAST(MAX(total_rows - live_rows) AS BIGINT) AS max_dead
         |FROM audit""".stripMargin)
  }

  val lhFileAuditSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 2 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 2 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |filed AS (SELECT o_orderkey, o_custkey,
       |    NTILE($StatsPruneFiles)
       |      OVER (ORDER BY o_custkey, o_orderkey) AS f
       |  FROM orders),
       |audit AS (
       |  SELECT f, COUNT(*) AS total_rows,
       |    SUM(CASE WHEN o_orderkey % 7 = 1 OR (
       |        o_custkey >= (SELECT lo FROM b)
       |        AND o_custkey <= (SELECT hi FROM b)
       |        AND o_orderkey % 2 = 0) THEN 0 ELSE 1 END) AS live_rows
       |  FROM filed GROUP BY f)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(SUM(total_rows) AS BIGINT) AS total_rows,
       |  CAST(SUM(live_rows) AS BIGINT) AS live_rows,
       |  CAST(SUM(CASE WHEN live_rows * 10 < total_rows * 7
       |    THEN 1 ELSE 0 END) AS BIGINT) AS rewrite_candidates,
       |  CAST(MAX(total_rows - live_rows) AS BIGINT) AS max_dead
       |FROM audit""".stripMargin

  /** Gate: SELECTIVE DV materialization — the maintenance pass the
    * lh_file_audit report feeds. Same fixture (32 NTILE files, uniform
    * orderkey%7 delete) plus the skewed interval delete, then
    * `rewriteDeletes(minDeadFraction = 0.3)`: only the dead-heavy
    * interval files rewrite; every other file keeps its bytes and its
    * deletes consolidate into one fresh sidecar. Emits the live row
    * count, the rewritten/kept file tallies, and the surviving DV entry
    * count — each re-derived by the oracle from the same NTILE bucket
    * algebra, bigint-exact, so rewriting one file too many or carrying
    * one stale DV identity fails the gate. */
  private def lhDvMaintOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 2, mx / 2 + mx / 10)
    deleteWhere(s, table, $"o_custkey" >= lo && $"o_custkey" <= hi &&
      pmod($"o_orderkey", lit(2)) === 0)
    val before = latestManifest(table).get
    val after = rewriteDeletes(s, table, minDeadFraction = 0.3)
    val afterN = after.files.map(normalize).toSet
    val rewritten = before.files.count(f => !afterN.contains(normalize(f)))
    require(after.dvs.nonEmpty, "below-threshold files must keep DV entries")
    val kept = dvFiles(s, after).agg(count(lit(1)), sum(col("__dv_n"))).head()
    read(s, table).agg(count(lit(1)).as("n"))
      .withColumn("n_rewritten", lit(rewritten.toLong))
      .withColumn("n_kept_dv", lit(kept.getLong(0)))
      .withColumn("remaining_dead", lit(kept.getLong(1)))
  }

  val lhDvMaintSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 2 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 2 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |filed AS (SELECT o_orderkey, o_custkey,
       |    NTILE($StatsPruneFiles)
       |      OVER (ORDER BY o_custkey, o_orderkey) AS f
       |  FROM orders),
       |audit AS (
       |  SELECT f, COUNT(*) AS total_rows,
       |    SUM(CASE WHEN o_orderkey % 7 = 1 OR (
       |        o_custkey >= (SELECT lo FROM b)
       |        AND o_custkey <= (SELECT hi FROM b)
       |        AND o_orderkey % 2 = 0) THEN 1 ELSE 0 END) AS dead_rows
       |  FROM filed GROUP BY f)
       |SELECT CAST(SUM(total_rows - dead_rows) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN dead_rows * 10 >= total_rows * 3
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_rewritten,
       |  CAST(SUM(CASE WHEN dead_rows > 0 AND dead_rows * 10 < total_rows * 3
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_dv,
       |  CAST(SUM(CASE WHEN dead_rows * 10 < total_rows * 3
       |    THEN dead_rows ELSE 0 END) AS BIGINT) AS remaining_dead
       |FROM audit""".stripMargin

  /** Gate: COMPRESSED (range-encoded) deletion vectors under a dense
    * retention-style delete. Fixture: orders split into
    * [[DvCompressFiles]] files with WITHIN-FILE ascending
    * (o_custkey, o_orderkey) order ([[initFiledSorted]] — the layout
    * key/time-ordered ingest produces), then `DELETE WHERE o_custkey <=
    * max/2`: in every file the dead rows occupy one contiguous position
    * prefix, so the sidecar must hold at most ONE run per touched file
    * regardless of how many thousand rows died. The op emits the
    * read-back aggregate (exercising the packed executor-side DV
    * application on the Scala path), the bigint-exact deleted-row count
    * re-derived from the runs' lengths, and three booleans the driver
    * pins TRUE: runs bounded by the file count, runs ≪ deleted rows,
    * and MEASURED sidecar bytes ≤ the equivalent row-per-delete parquet
    * (written to a scratch dir from the very same identities and
    * cleaned up). One extra run, one miscounted dead row, or a sidecar
    * that stopped compressing fails the gate. */
  private[graft] val DvCompressFiles = 8

  private def lhDvCompressBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val table = freshGateTable()
    val filed = GlobalNtile.withBucket(Tables.orders(s, dir), "__f",
      DvCompressFiles, Seq($"o_custkey", $"o_orderkey"))
    initFiledSorted(filed, table, "__f", DvCompressFiles,
      Seq("o_custkey", "o_orderkey"))
    table
  }

  private def lhDvCompressOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val cut = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0) / 2
    val m = deleteWhere(s, table, $"o_custkey" <= cut)
    val runs = dvRuns(s, m.dvs)
    val nRuns = runs.count()
    val deletedRows = runs.agg(sum($"len")).head().getLong(0)
    val rangeBytes = m.dvs.map(p => Files.size(Paths.get(p))).sum
    // the honest comparison: the SAME identities, row-per-delete
    val rowDir = Paths.get(table, "scratch-rowdv")
    runs.select(col("fp").as("file_path"),
        explode(sequence(col("start"), col("start") + col("len") - 1))
          .as("row_index"))
      .coalesce(1).write.mode("overwrite").parquet(rowDir.toString)
    val rowBytes = listPartFiles(rowDir).map(p => Files.size(Paths.get(p))).sum
    listDir(rowDir).foreach(Files.deleteIfExists(_))
    Files.deleteIfExists(rowDir)
    read(s, table)
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("deleted_rows", lit(deletedRows))
      .withColumn("runs_bounded", lit(nRuns <= DvCompressFiles.toLong))
      .withColumn("runs_compress", lit(nRuns * 16L <= deletedRows))
      .withColumn("sidecar_le_rowform", lit(rangeBytes <= rowBytes))
  }

  val lhDvCompressSql: String =
    """WITH cut AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 2 AS c)
      |SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders, cut
      |    WHERE o_custkey <= c) AS deleted_rows,
      |  TRUE AS runs_bounded, TRUE AS runs_compress,
      |  TRUE AS sidecar_le_rowform
      |FROM orders, cut WHERE o_custkey > c""".stripMargin

  /** Gate: the ONE-CALL maintenance policy `CALL graft.cow_maintain` —
    * selective DV materialization (0.3 threshold), then full small-file
    * compaction (16 MiB target swallows every gate file and
    * materializes the consolidated DVs the selective pass kept), then
    * vacuum to one version. Version arithmetic is deterministic (init,
    * two DV deletes, selective rewrite, compaction = v4) and the final
    * state must be DV-free, so the oracle re-derives the read-back
    * aggregate from the two delete predicates plus both constants —
    * any extra/missing commit or a DV surviving compaction fails the
    * hash. */
  private def lhMaintainOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    graft.functions.GraftFunctions.register(s)
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 2, mx / 2 + mx / 10)
    deleteWhere(s, table, $"o_custkey" >= lo && $"o_custkey" <= hi &&
      pmod($"o_orderkey", lit(2)) === 0)
    val summary = s.sql(s"CALL graft.cow_maintain(table => '$table', " +
      "dead_threshold => 0.3D, target_bytes => 16777216, " +
      "keep_versions => 1)").head()
    val after = latestManifest(table).get
    require(after.dvs.isEmpty,
      "maintenance must end DV-free (compaction materializes kept DVs)")
    require(summary.getInt(0) == after.version,
      "CALL summary must report the final committed version")
    s.sql(
      s"""SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_price,
         |  CAST(${after.version} AS BIGINT) AS final_version,
         |  CAST(${after.dvs.size} AS BIGINT) AS n_dvs
         |FROM cow_read('$table')""".stripMargin)
  }

  val lhMaintainSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 2 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 2 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |live AS (SELECT o.* FROM orders o, b
       |  WHERE o.o_orderkey % 7 <> 1
       |    AND NOT (o.o_custkey >= b.lo AND o.o_custkey <= b.hi
       |      AND o.o_orderkey % 2 = 0))
       |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    AS sum_price,
       |  CAST(4 AS BIGINT) AS final_version,
       |  CAST(0 AS BIGINT) AS n_dvs
       |FROM live""".stripMargin

  /** Gate: one-CALL maintenance RACING a live writer — the advertised
    * deployment shape (scheduled `cow_maintain` next to a streaming
    * upsert) replayed deterministically: an insert-only MOR upsert
    * lands INSIDE the maintenance's first commit window (the
    * [[preCommitHook]] race replay the concurrency spec uses), so
    * `rewriteDeletes` loses the version race, rebases, and must carry
    * the upsert's rows through materialization + compaction. Strict
    * version arithmetic (v0 init, v1+v2 deletes, v3 the interleaved
    * upsert, v4 rewriteDeletes, v5 compaction) plus the full
    * relational oracle: a lost insert, a resurrected deleted row, or a
    * maintenance abort breaks count/hash. */
  private def lhMaintainConcOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    graft.functions.GraftFunctions.register(s)
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 2, mx / 2 + mx / 10)
    deleteWhere(s, table, $"o_custkey" >= lo && $"o_custkey" <= hi &&
      pmod($"o_orderkey", lit(2)) === 0)
    val src = s.range(5).select(
      ($"id" + 9000000000L).as("o_orderkey"),
      ($"id" + 1000L).as("o_custkey"),
      lit("X").as("o_orderstatus"),
      ($"id".cast("double") * 100.5).as("o_totalprice"),
      lit(java.sql.Date.valueOf("1995-01-01"))
        .cast("timestamp_ntz").as("o_orderdate"),
      lit("9-CONC").as("o_orderpriority"))
    preCommitHook = { () =>
      preCommitHook = () => ()
      upsertMor(s, table, src, Seq("o_orderkey"))
      ()
    }
    val summary =
      try s.sql(s"CALL graft.cow_maintain(table => '$table', " +
        "dead_threshold => 0.3D, target_bytes => 16777216, " +
        "keep_versions => 1)").head()
      finally { preCommitHook = () => () }
    val after = latestManifest(table).get
    require(after.dvs.isEmpty,
      "maintenance must end DV-free despite the interleaved writer")
    require(summary.getInt(0) == after.version,
      "CALL summary must report the final committed version")
    s.sql(
      s"""SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_price,
         |  CAST(${after.version} AS BIGINT) AS final_version,
         |  CAST(${after.dvs.size} AS BIGINT) AS n_dvs
         |FROM cow_read('$table')""".stripMargin)
  }

  val lhMaintainConcSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 2 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 2 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |live AS (SELECT o.o_custkey, o.o_totalprice FROM orders o, b
       |  WHERE o.o_orderkey % 7 <> 1
       |    AND NOT (o.o_custkey >= b.lo AND o.o_custkey <= b.hi
       |      AND o.o_orderkey % 2 = 0)
       |  UNION ALL
       |  SELECT 1000 + i AS o_custkey, i * 100.5 AS o_totalprice
       |  FROM generate_series(0, 4) AS g(i))
       |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    AS sum_price,
       |  CAST(5 AS BIGINT) AS final_version,
       |  CAST(0 AS BIGINT) AS n_dvs
       |FROM live""".stripMargin

  /** Gate: the CoW table as a REAL Structured Streaming SINK —
    * `writeStream.toTable("graft.`...`")` over a 3-file file-source
    * replay of orders (staged mtimes + maxFilesPerTrigger=1 pin the
    * micro-batch order); each epoch commits exactly ONE table version
    * through the epoch-idempotent streaming write
    * ([[graft.plans.CowDsv2]]'s `CowStreamingWrite`: deterministic
    * staged paths + epoch high-water record + manifest path-membership
    * replay guard). Strict version arithmetic (create = v0, three
    * epochs = v3) plus the relational oracle: a duplicated, dropped, or
    * re-committed epoch breaks the count/hash. */
  /** Bench-split fixture helper for the streaming gates: write orders
    * slice i (o_orderkey % 3 == i) as ONE parquet file at
    * `<stage>/0i_slice.parquet` with a deterministic mtime, so the op
    * half's "a new file arrives" moment is a RENAME into the watched
    * dir — the orders scans (the fixture cost) stay in the build
    * half. */
  private def stageOrdersSlice(s: SparkSession, dir: String,
      stage: Path, i: Int): Unit = {
    val tmp = Files.createTempDirectory(s"lh_slice_$i")
    Tables.orders(s, dir).filter(pmod(col("o_orderkey"), lit(3)) === i)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = listDir(tmp).map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.head
    Files.createDirectories(stage)
    val dest = stage.resolve(f"0${i}_slice.parquet")
    Files.move(Paths.get(part), dest, StandardCopyOption.REPLACE_EXISTING)
    dest.toFile.setLastModified(1000000L + i * 10000L)
    ()
  }

  /** Rename a staged slice into the watched `in/` dir (same-fs move —
    * preserves the deterministic mtime that pins micro-batch order). */
  private def releaseSlice(base: Path, i: Int): Unit = {
    val f = f"0${i}_slice.parquet"
    Files.createDirectories(base.resolve("in"))
    Files.move(base.resolve("staged").resolve(f),
      base.resolve("in").resolve(f))
    ()
  }

  private def lhStreamSinkBuild(s: SparkSession, dir: String): String = {
    val base = Files.createTempDirectory("lh_stream_sink")
    // three deterministic slices, staged as mtime-ordered single files
    (0 until 3).foreach(stageOrdersSlice(s, dir, base.resolve("staged"), _))
    base.toString
  }

  private def lhStreamSinkOp(s: SparkSession, dir: String,
      baseStr: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val base = Paths.get(baseStr)
    val t = base.resolve("t").toString
    (0 until 3).foreach(releaseSlice(base, _))
    val q = s.readStream.schema(Tables.orders(s, dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(base.resolve("in").toString)
      .writeStream
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .toTable(s"graft.`$t`")
    try q.processAllAvailable() finally q.stop()
    val m = latestManifest(t).get
    require(m.version == 3,
      s"expected create + 3 epoch commits = v3, got v${m.version}")
    s.sql(s"SELECT * FROM graft.`$t`")
  }

  val lhStreamSinkSql: String = "SELECT * FROM orders"

  /** Gate: STREAMING EPOCHS COMPOSED WITH PARTITION PRUNING — a
    * partitioned CoW table (on o_orderstatus) ingests two epoch slices
    * through the streaming sink after a batch-initialized first slice;
    * every streamed file must record its exact partition tuple, so the
    * planned-file count of a partition-pruned read is DERIVABLE: one
    * file per (slice, status) pair present in the data (each
    * single-partition epoch writes exactly one file per routed status
    * dir). The oracle recomputes planned/total as COUNT(DISTINCT
    * (o_orderkey%3, o_orderstatus)) algebra, bigint-exact, alongside
    * the pruned read's aggregate — a streamed file missing its tuple
    * (part=NULL keeps it in every plan) or a split/merged epoch file
    * breaks the count. */
  private def lhStreamPartBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val base = Files.createTempDirectory("lh_stream_part")
    initPartitioned(Tables.orders(s, dir)
      .filter(pmod($"o_orderkey", lit(3)) === 0).coalesce(1),
      base.resolve("t").toString, Seq("o_orderstatus"))
    (1 until 3).foreach(stageOrdersSlice(s, dir, base.resolve("staged"), _))
    base.toString
  }

  private def lhStreamPartOp(s: SparkSession, dir: String,
      baseStr: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val base = Paths.get(baseStr)
    val t = base.resolve("t").toString
    (1 until 3).foreach(releaseSlice(base, _))
    val q = s.readStream.schema(Tables.orders(s, dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(base.resolve("in").toString)
      .writeStream
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .toTable(s"graft.`$t`")
    try q.processAllAvailable() finally q.stop()
    val m = latestManifest(t).get
    require(m.version == 2,
      s"expected init + 2 epoch commits = v2, got v${m.version}")
    val noTuple = entriesDF(s, t, m)
      .filter(col("kind") === "data" && col("part").isNull).count()
    require(noTuple == 0L, s"$noTuple streamed files lost their tuple")
    val (planned, total) = pruneReport(s, t, $"o_orderstatus" === "F")
    readWhere(s, t, $"o_orderstatus" === "F")
      .agg(count(lit(1)).as("n"),
        count_distinct($"o_custkey").as("n_cust"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("planned_files", lit(planned.toLong))
      .withColumn("total_files", lit(total.toLong))
  }

  val lhStreamPartSql: String =
    """WITH pairs AS (SELECT DISTINCT o_orderkey % 3 AS sl, o_orderstatus
      |  FROM orders)
      |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs
      |    WHERE o_orderstatus = 'F') AS planned_files,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS total_files
      |FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  /** Gate: UPDATE-MODE streaming aggregation into a CoW table — the
    * sink surface behind `writeStream.outputMode("update")
    * .option("upsertKeys", ...)`: each epoch's changed groups land as
    * ONE merge-on-read upsert ([[upsertMor]] — matched rows die by
    * range-encoded DV, postimages append, nothing rewrites). The run
    * replays orders as three file-slices (one per micro-batch), STOPS
    * the query after two epochs and RESTARTS it from the checkpoint
    * for the third — so state recovery and the epoch high-water guard
    * are both on the hook. Strict version arithmetic (create + 3
    * upsert epochs = v3, the restart resuming not replaying) plus DVs
    * present, and the final per-custkey aggregate must hash-match the
    * batch recomputation over ALL orders — a dropped epoch, a replayed
    * epoch, or one lost update breaks the count or the sum. */
  private def lhStreamUpsertBuild(s: SparkSession, dir: String): String = {
    val base = Files.createTempDirectory("lh_stream_upsert")
    (0 until 3).foreach(stageOrdersSlice(s, dir, base.resolve("staged"), _))
    base.toString
  }

  /** Input-volume estimate for a staged-slice replay: bytes of every
    * slice the run will feed (staged, evolved-staging, and already-
    * released dirs) — what [[graft.streaming.StreamTune]] sizes the
    * query's state/shuffle partition count from. */
  private def stagedBytes(base: Path): Long =
    Seq("staged", "staged2", "in").map(d =>
      graft.streaming.StreamTune.dirBytes(base.resolve(d))).sum

  private def lhStreamUpsertOp(s: SparkSession, dir: String,
      baseStr: String): DataFrame =
    graft.streaming.StreamTune.withAdaptivePartitions(s,
      stagedBytes(Paths.get(baseStr))) {
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val base = Paths.get(baseStr)
    val t = base.resolve("t").toString
    def run(): Unit = {
      val q = s.readStream.schema(Tables.orders(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(base.resolve("in").toString)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
            .as("total"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .option("upsertKeys", "o_custkey")
        .toTable(s"graft.`$t`")
      try q.processAllAvailable() finally q.stop()
    }
    releaseSlice(base, 0); releaseSlice(base, 1)
    run() // epochs 0, 1
    val mid = latestManifest(t).get
    require(mid.version == 2,
      s"expected create + 2 epoch upserts = v2, got v${mid.version}")
    releaseSlice(base, 2)
    run() // RESTART from the checkpoint -> epoch 2 only
    val m = latestManifest(t).get
    require(m.version == 3,
      s"expected exactly one more upsert after restart, got v${m.version}")
    require(m.dvs.nonEmpty,
      "update epochs must land as merge-on-read deltas (DVs)")
    s.sql(s"SELECT o_custkey, n, total FROM graft.`$t`")
    }

  val lhStreamUpsertSql: String =
    """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** Gate: MID-STREAM SCHEMA EVOLUTION through the update-mode
    * streaming sink — the CDC shape where the upstream adds a field.
    * Phase 1 streams two epoch slices of orders (keys ≡0,1 mod 3) into
    * a fresh CoW table through the upsert sink; the query STOPS, and
    * phase 2 RESTARTS from the same checkpoint with a WIDER source — a
    * slice of keys ≡1,2 mod 3 carrying a new `o_flag` column and
    * re-priced rows. The rebuilt sink resolves the evolved schema
    * ([[evolvedSinkSchema]]) and its first epoch lands schema + data in
    * ONE MOR delta commit: ≡1 rows UPDATE (DV kill + postimage with
    * the flag), ≡2 rows INSERT, ≡0 rows are never rewritten and
    * NULL-extend at read. Strict version arithmetic (create + 2 + 1
    * epochs = v3) plus the full mixed-vintage relational oracle — a
    * dropped flag value, a rewritten ≡0 file, or a non-NULL extension
    * breaks the hash. */
  private def lhStreamUpsertEvolveBuild(s: SparkSession,
      dir: String): String = {
    import s.implicits._
    val base = Files.createTempDirectory("lh_stream_upsert_evolve")
    (0 until 2).foreach(stageOrdersSlice(s, dir, base.resolve("staged"), _))
    // the post-evolution slice: wider schema, updates ≡1 / inserts ≡2
    val tmp = Files.createTempDirectory("lh_sue_wide")
    Tables.orders(s, dir).filter(pmod($"o_orderkey", lit(3)) =!= 0)
      .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
      .withColumn("o_flag", pmod($"o_orderkey", lit(7)))
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = listDir(tmp).map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.head
    val dest = base.resolve("staged2").resolve("02_slice.parquet")
    Files.createDirectories(dest.getParent)
    Files.move(Paths.get(part), dest)
    dest.toFile.setLastModified(1030000L)
    base.toString
  }

  private def lhStreamUpsertEvolveOp(s: SparkSession, dir: String,
      baseStr: String): DataFrame =
    graft.streaming.StreamTune.withAdaptivePartitions(s,
      stagedBytes(Paths.get(baseStr))) {
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val base = Paths.get(baseStr)
    val t = base.resolve("t").toString
    val narrow = Tables.orders(s, dir).schema
    def run(schema: StructType, srcDir: String): Unit = {
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(base.resolve(srcDir).toString)
        .writeStream.outputMode("update")
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .option("upsertKeys", "o_orderkey")
        .toTable(s"graft.`$t`")
      try q.processAllAvailable() finally q.stop()
    }
    releaseSlice(base, 0); releaseSlice(base, 1)
    run(narrow, "in") // epochs 0, 1 at the pre-evolution width
    val mid = latestManifest(t).get
    require(mid.version == 2,
      s"expected create + 2 epoch upserts = v2, got v${mid.version}")
    require(!mid.schema.fieldNames.contains("o_flag"),
      "the table must not carry o_flag before the source grows it")
    // the source ADDS o_flag; the restarted sink must evolve the table
    Files.move(base.resolve("staged2").resolve("02_slice.parquet"),
      base.resolve("in").resolve("02_slice.parquet"))
    run(StructType(narrow.fields :+
      StructField("o_flag", LongType, nullable = true)), "in")
    val m = latestManifest(t).get
    require(m.version == 3,
      s"expected ONE evolving epoch commit after restart, got v${m.version}")
    require(m.schema.fieldNames.contains("o_flag"),
      "the evolving epoch must commit the widened schema")
    require(m.dvs.nonEmpty,
      "the evolving epoch must stay a merge-on-read delta (DVs)")
    s.sql(s"SELECT o_orderkey, o_custkey, o_totalprice, o_flag " +
      s"FROM graft.`$t`")
    }

  val lhStreamUpsertEvolveSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice
      |       ELSE o_totalprice + 1000.0 END AS o_totalprice,
      |  CASE WHEN o_orderkey % 3 = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE o_orderkey % 7 END AS o_flag
      |FROM orders""".stripMargin

  /** Gate: PARTIAL-COLUMN upsert — the CDC shape where the feed
    * carries a column subset. The source brings only (key, price):
    * matched keys get the new price while every column the source
    * does not carry KEEPS its current value (a full-row postimage
    * would need them all and a naive writer would NULL-clobber);
    * inserted keys NULL-extend the absent columns. Still one MOR
    * delta: DV kill + postimage append, with the preserved values
    * read from exactly the candidate files the match discovery
    * already bounded. */
  private def lhMergeBuild2(s: SparkSession, dir: String): String = {
    val table = freshGateTable()
    init(Tables.orders(s, dir), table)
    table
  }

  private def lhUpsertPartialOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val source = Tables.orders(s, dir)
      .filter(pmod($"o_orderkey", lit(4)) === 0)
      .select($"o_orderkey", ($"o_totalprice" * 2).as("o_totalprice"))
      .unionByName(Tables.orders(s, dir)
        .filter(pmod($"o_orderkey", lit(4)) === 1)
        .select(($"o_orderkey" + 1000000000L).as("o_orderkey"),
          lit(-1.0).as("o_totalprice")))
    upsertMor(s, table, source, Seq("o_orderkey"), preserveMissing = true)
    val m = latestManifest(table).get
    require(m.dvs.nonEmpty, "partial upsert must stay merge-on-read")
    read(s, table).select($"o_orderkey", $"o_custkey", $"o_orderstatus",
      $"o_totalprice", $"o_orderpriority")
  }

  val lhUpsertPartialSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 2
      |       ELSE o_totalprice END AS o_totalprice,
      |  o_orderpriority
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey + 1000000000, NULL, NULL, -1.0, NULL
      |FROM orders WHERE o_orderkey % 4 = 1""".stripMargin

  /** Gate: MID-RUN TABLE EVOLUTION absorbed by the update-mode
    * streaming sink — NO restart. While the query is RUNNING (same
    * query object, same fixed pre-alter plan schema), another writer
    * renames a column, adds one, and fills the new column for some
    * keys through the batch partial upsert; the stream's next epoch
    * then speaks the OLD schema and must absorb: its columns rename
    * forward onto the evolved names, and the filled `o_note` values
    * are PRESERVED on the keys the epoch updates (a full-row
    * postimage would NULL-clobber them — the exact failure this
    * closes). Strict version arithmetic (create + 2 epochs + alter +
    * fill + 1 absorbed epoch = v5) plus a full mixed-provenance
    * relational oracle: a clobbered note value, a dropped rename, or
    * a rewritten untouched row breaks the hash. */
  private def lhStreamUpsertMidBuild(s: SparkSession,
      dir: String): String = {
    import s.implicits._
    val base = Files.createTempDirectory("lh_stream_upsert_mid")
    (0 until 2).foreach(stageOrdersSlice(s, dir, base.resolve("staged"), _))
    // the post-evolution slice keeps the query's plan width (narrow —
    // the stream does NOT learn the new columns): keys ≡1 update,
    // keys ≡2 insert, re-priced
    val tmp = Files.createTempDirectory("lh_sum_wide")
    Tables.orders(s, dir).filter(pmod($"o_orderkey", lit(3)) =!= 0)
      .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = listDir(tmp).map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.head
    val dest = base.resolve("staged2").resolve("02_slice.parquet")
    Files.createDirectories(dest.getParent)
    Files.move(Paths.get(part), dest)
    dest.toFile.setLastModified(1030000L)
    base.toString
  }

  private def lhStreamUpsertMidOp(s: SparkSession, dir: String,
      baseStr: String): DataFrame =
    graft.streaming.StreamTune.withAdaptivePartitions(s,
      stagedBytes(Paths.get(baseStr))) {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val base = Paths.get(baseStr)
    val t = base.resolve("t").toString
    Files.createDirectories(base.resolve("in"))
    val q = s.readStream.schema(Tables.orders(s, dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(base.resolve("in").toString)
      .writeStream.outputMode("update")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .option("upsertKeys", "o_orderkey")
      .toTable(s"graft.`$t`")
    try {
      releaseSlice(base, 0); releaseSlice(base, 1)
      q.processAllAvailable() // epochs 0, 1
      require(latestManifest(t).get.version == 2,
        s"expected create + 2 epoch upserts = v2")
      // ANOTHER writer evolves the table while the query runs…
      alterTable(s, t, renames = Map("o_orderpriority" -> "o_priority"),
        adds = Seq(("o_note", StringType)))
      // …and fills the new column for keys ≡0 (mod 5) via the batch
      // partial upsert (only present keys — slices 0 and 1)
      upsertMor(s, t, Tables.orders(s, dir)
        .filter(pmod($"o_orderkey", lit(3)) =!= 2 &&
          pmod($"o_orderkey", lit(5)) === 0)
        .select($"o_orderkey",
          concat(lit("n"), $"o_orderkey").as("o_note")),
        Seq("o_orderkey"), preserveMissing = true)
      // the RUNNING query's next epoch speaks the pre-alter schema
      Files.move(base.resolve("staged2").resolve("02_slice.parquet"),
        base.resolve("in").resolve("02_slice.parquet"))
      q.processAllAvailable()
    } finally q.stop()
    val m = latestManifest(t).get
    require(m.version == 5,
      s"expected create+2 epochs+alter+fill+1 absorbed epoch = v5, " +
        s"got v${m.version}")
    require(m.schema.fieldNames.contains("o_priority") &&
      m.schema.fieldNames.contains("o_note"),
      "the absorbed epoch must keep the evolved schema")
    require(m.dvs.nonEmpty, "the absorbed epoch must stay merge-on-read")
    s.sql(s"SELECT o_orderkey, o_custkey, o_totalprice, o_priority, " +
      s"o_note FROM graft.`$t`")
    }

  val lhStreamUpsertMidSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice
      |       ELSE o_totalprice + 1000.0 END AS o_totalprice,
      |  o_orderpriority AS o_priority,
      |  CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 3 <> 2
      |       THEN 'n' || CAST(o_orderkey AS VARCHAR) END AS o_note
      |FROM orders""".stripMargin

  val lhSqlReadSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 4 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 4 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi)
       |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    AS sum_price
       |FROM orders, b
       |WHERE o_custkey BETWEEN b.lo AND b.hi AND o_orderkey % 7 <> 1""".stripMargin

  /** Gate: METADATA-ONLY COUNT over the stats-pruning fixture (32
    * exact-NTILE custkey files + a merge-on-read delete). An interval
    * count answers interior files from manifest row counts minus their
    * DV entries and scans only the two boundary files; a full-range
    * count (custkey >= 0) is pure metadata — zero files scanned. The
    * oracle re-derives every column from the same NTILE bucket algebra:
    * the counts, the full/partial file split, AND the metadata-answered
    * row total (bucket sizes minus their deleted rows) — so the gate
    * fails if the classifier misjudges one file or the DV subtraction
    * is off by one row. */
  private def lhCountMetaOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    val bMid = countWhereDetailed(s, table,
      $"o_custkey" >= lo && $"o_custkey" <= hi)
    val bAll = countWhereDetailed(s, table, $"o_custkey" >= 0L)
    Seq((bMid.total, bAll.total, bMid.fullFiles.toLong,
      bMid.partialFiles.toLong, bMid.metadataRows, bAll.fullFiles.toLong))
      .toDF("cnt_mid", "cnt_all", "mid_full_files", "mid_partial_files",
        "mid_meta_rows", "all_full_files")
  }

  val lhCountMetaSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 4 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 4 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |f AS (SELECT o_custkey, o_orderkey,
       |    NTILE($StatsPruneFiles) OVER (ORDER BY o_custkey, o_orderkey)
       |      AS fid
       |  FROM orders),
       |st AS (SELECT fid, MIN(o_custkey) AS mn, MAX(o_custkey) AS mx,
       |    COUNT(*) AS n,
       |    SUM(CASE WHEN o_orderkey % 7 = 1 THEN 1 ELSE 0 END) AS ndel
       |  FROM f GROUP BY 1),
       |cls AS (SELECT st.*, (mn >= b.lo AND mx <= b.hi) AS isfull,
       |    (mn <= b.hi AND mx >= b.lo) AS iskeep
       |  FROM st, b)
       |SELECT
       |  (SELECT COUNT(*) FROM orders, b
       |    WHERE o_custkey BETWEEN b.lo AND b.hi AND o_orderkey % 7 <> 1)
       |    AS cnt_mid,
       |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 <> 1)
       |    AS cnt_all,
       |  CAST((SELECT COUNT(*) FROM cls WHERE isfull) AS BIGINT)
       |    AS mid_full_files,
       |  CAST((SELECT COUNT(*) FROM cls WHERE iskeep AND NOT isfull)
       |    AS BIGINT) AS mid_partial_files,
       |  CAST((SELECT COALESCE(SUM(n - ndel), 0) FROM cls WHERE isfull)
       |    AS BIGINT) AS mid_meta_rows,
       |  CAST((SELECT COUNT(*) FROM cls WHERE mn >= 0) AS BIGINT)
       |    AS all_full_files""".stripMargin

  /** Gate: the SQL-path `COUNT(*)` answered from METADATA through
    * DSv2 aggregate pushdown — `SELECT COUNT(*) FROM graft.t` plans a
    * one-row LocalTableScan ([[graft.plans.CowCountLocalScan]]), no
    * file read, with the count proven from entry row counts minus
    * live DV runs ([[metadataRowCount]]). The fixture stacks a DV
    * delete AND a partial-column insert batch on the base so both
    * adjustments are live; the gate REQUIRES the metadata plan shape
    * for the bare count and the scan plan shape for a filtered count
    * (the guard: a residual filter must never reach the metadata
    * path), then emits both counts for the relational oracle. */
  private def lhCountPushBuild(s: SparkSession, dir: String): String = {
    val table = freshGateTable()
    init(Tables.orders(s, dir), table)                             // v0
    deleteWhere(s, table, pmod(col("o_orderkey"), lit(7)) === 3)   // v1
    upsertMor(s, table, Tables.orders(s, dir)                      // v2
        .filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey")),
      Seq("o_orderkey"), preserveMissing = true)
    table
  }

  private def lhCountPushOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val m = latestManifest(table).get
    require(m.version == 2 && m.dvs.nonEmpty,
      "fixture must carry live DV runs under the pushed count")
    val pushedDf = s.sql(s"SELECT COUNT(*) AS cnt FROM graft.`$table`")
    val plan = pushedDf.queryExecution.executedPlan.toString
    require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"bare COUNT(*) must plan metadata-only; got:\n$plan")
    val filteredDf = s.sql(s"SELECT COUNT(*) AS cnt FROM graft.`$table` " +
      "WHERE o_orderkey % 2 = 0")
    val fPlan = filteredDf.queryExecution.executedPlan.toString
    require(!fPlan.contains("LocalTableScan"),
      s"a FILTERED count must scan, never the metadata path; got:\n$fPlan")
    Seq((pushedDf.head().getLong(0), filteredDf.head().getLong(0), true))
      .toDF("cnt", "cnt_filtered", "meta_only")
  }

  val lhCountPushSql: String =
    """SELECT
      |  CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 <> 3)
      |    + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 5 = 0)
      |    AS BIGINT) AS cnt,
      |  CAST((SELECT COUNT(*) FROM orders
      |      WHERE o_orderkey % 7 <> 3 AND o_orderkey % 2 = 0)
      |    + (SELECT COUNT(*) FROM orders
      |      WHERE o_orderkey % 5 = 0 AND o_orderkey % 2 = 0)
      |    AS BIGINT) AS cnt_filtered,
      |  TRUE AS meta_only""".stripMargin

  /** Gate: SQL-path MIN/MAX/COUNT answered from metadata through the
    * same DSv2 complete aggregate pushdown ([[lhCountPush]]'s seam,
    * generalized) — one statement carrying all three collapses to a
    * one-row LocalTableScan. The fixture is the stats-prune build
    * (custkey-clustered NTILE files + a DV delete), so the MIN/MAX
    * candidates come from full DV-free files' stats while the DV'd
    * files are read by the bounded planning job — the values stay
    * row-exact under deletes either way, which is exactly what the
    * relational oracle checks. The filtered twin is pinned OFF the
    * metadata path. */
  private def lhMinmaxPushOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    require(latestManifest(table).exists(_.dvs.nonEmpty),
      "fixture must carry live DV runs under the pushed extrema")
    val pushedDf = s.sql("SELECT MIN(o_custkey) AS mn, " +
      s"MAX(o_custkey) AS mx, COUNT(*) AS cnt FROM graft.`$table`")
    val plan = pushedDf.queryExecution.executedPlan.toString
    require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"bare MIN/MAX/COUNT must plan metadata-only; got:\n$plan")
    val fPlan = s.sql("SELECT MIN(o_custkey) AS mn FROM " +
      s"graft.`$table` WHERE o_orderkey % 2 = 0")
      .queryExecution.executedPlan.toString
    require(!fPlan.contains("LocalTableScan"),
      s"a FILTERED extremum must scan, never the metadata path; got:\n$fPlan")
    val r = pushedDf.head()
    Seq((r.getLong(0), r.getLong(1), r.getLong(2), true))
      .toDF("mn", "mx", "cnt", "meta_only")
  }

  val lhMinmaxPushSql: String =
    """SELECT
      |  CAST((SELECT MIN(o_custkey) FROM orders WHERE o_orderkey % 7 <> 1)
      |    AS BIGINT) AS mn,
      |  CAST((SELECT MAX(o_custkey) FROM orders WHERE o_orderkey % 7 <> 1)
      |    AS BIGINT) AS mx,
      |  CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 <> 1)
      |    AS BIGINT) AS cnt,
      |  TRUE AS meta_only""".stripMargin

  /** Files per partition for the partition-pruning gate (NTILE within
    * each o_orderstatus partition, reproducible in DuckDB). */
  val PartPruneFiles = 8

  /** Gate: PARTITION PRUNING composed with stats skipping, end-to-end.
    * Orders partitioned by o_orderstatus (Hive-style dirs, columns kept
    * in the files, per-file partition tuple in the manifest —
    * Iceberg-style), 8 exact-NTILE custkey files per partition, a DV
    * delete stacked on top. Query 1 (status equality AND a custkey
    * interval) must plan exactly partition O's range-overlapping files;
    * query 2 uses an EXPRESSION on the partition column
    * (lower(status) = 'f') that per-file min/max stats cannot decide —
    * only exact partition-value evaluation prunes it to partition F's
    * 8 files. The oracle re-derives the aggregates AND both planned
    * file counts from the same per-(status, bucket) algebra —
    * bigint-exact. */
  private def lhPartitionPruneBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val table = freshGateTable()
    val filed = Tables.orders(s, dir).withColumn("__f",
      ntile(PartPruneFiles).over(Window.partitionBy($"o_orderstatus")
        .orderBy($"o_custkey", $"o_orderkey")))
    initPartitionedFiled(filed, table, Seq("o_orderstatus"), "__f",
      PartPruneFiles)
    deleteWhere(s, table, pmod($"o_orderkey", lit(7)) === 1)
    table
  }

  private def lhPartitionPruneOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    val cond1 = $"o_orderstatus" === "O" &&
      $"o_custkey" >= lo && $"o_custkey" <= hi
    val (planned1, total) = pruneReport(s, table, cond1)
    val cond2 = lower($"o_orderstatus") === "f"
    val (planned2, _) = pruneReport(s, table, cond2)
    val n2 = readWhere(s, table, cond2).count()
    readWhere(s, table, cond1)
      .agg(count(lit(1)).as("n"),
        count_distinct($"o_custkey").as("n_cust"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("planned_files", lit(planned1.toLong))
      .withColumn("total_files", lit(total.toLong))
      .withColumn("planned_part", lit(planned2.toLong))
      .withColumn("n_part", lit(n2))
  }

  val lhPartitionPruneSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 4 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 4 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |f AS (SELECT o_orderstatus, o_custkey, o_orderkey,
       |    NTILE($PartPruneFiles) OVER (PARTITION BY o_orderstatus
       |      ORDER BY o_custkey, o_orderkey) AS fid
       |  FROM orders),
       |st AS (SELECT o_orderstatus AS ps, fid, MIN(o_custkey) AS mn,
       |    MAX(o_custkey) AS mxk
       |  FROM f GROUP BY 1, 2)
       |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    AS sum_price,
       |  (SELECT COUNT(*) FROM st, b
       |    WHERE ps = 'O' AND mn <= b.hi AND mxk >= b.lo) AS planned_files,
       |  (SELECT COUNT(*) FROM st) AS total_files,
       |  (SELECT COUNT(*) FROM st WHERE LOWER(ps) = 'f') AS planned_part,
       |  (SELECT COUNT(*) FROM orders
       |    WHERE LOWER(o_orderstatus) = 'f' AND o_orderkey % 7 <> 1)
       |    AS n_part
       |FROM orders, b
       |WHERE o_orderstatus = 'O' AND o_custkey BETWEEN b.lo AND b.hi
       |  AND o_orderkey % 7 <> 1""".stripMargin

  /** Gate: METADATA MIN/MAX over a 32-exact-NTILE custkey layout with a
    * DV delete RESTRICTED to the low custkey range (only low-range
    * files carry deletion vectors). An interval MIN/MAX answers the
    * covered interior from per-file stats (DV-free there), SCANS one
    * boundary file, and BOUND-SKIPS the other boundary (its stat cannot
    * move the extremum past the metadata candidate); a query over the
    * DV'd range has no metadata-eligible file and scans everything it
    * keeps. The oracle re-derives the answers AND every file-class
    * count from the same NTILE bucket algebra — bigint-exact, so a
    * misclassified file or an unsound metadata answer fails the gate. */
  private def lhMinMaxBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val table = freshGateTable()
    val filed = GlobalNtile.withBucket(Tables.orders(s, dir), "__f",
      StatsPruneFiles, Seq($"o_custkey", $"o_orderkey"))
    initFiled(filed, table, "__f", StatsPruneFiles)
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    deleteWhere(s, table,
      $"o_custkey" <= mx / 8 && pmod($"o_orderkey", lit(3)) === 0)
    table
  }

  private def lhMinMaxOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    val cond = $"o_custkey" >= lo && $"o_custkey" <= hi
    val bmn = minWhereDetailed(s, table, "o_custkey", cond)
    val bmx = maxWhereDetailed(s, table, "o_custkey", cond)
    val cond2 = $"o_custkey" <= mx / 8
    val bmn2 = minWhereDetailed(s, table, "o_custkey", cond2)
    Seq((bmn.value.get.asInstanceOf[Long], bmx.value.get.asInstanceOf[Long],
      bmn.metaFiles.toLong, bmn.scannedFiles.toLong,
      bmn.boundSkippedFiles.toLong, bmn.prunedFiles.toLong,
      bmx.scannedFiles.toLong, bmx.boundSkippedFiles.toLong,
      bmn2.value.get.asInstanceOf[Long], bmn2.metaFiles.toLong,
      bmn2.scannedFiles.toLong))
      .toDF("mn", "mxv", "mn_meta", "mn_scan", "mn_skip", "mn_pruned",
        "mx_scan", "mx_skip", "mn2", "mn2_meta", "mn2_scan")
  }

  val lhMinMaxMetaSql: String =
    s"""WITH bb AS (SELECT mx, mx // 4 AS lo, mx // 4 + mx // 10 AS hi,
       |    mx // 8 AS d
       |  FROM (SELECT MAX(o_custkey) AS mx FROM orders)),
       |f AS (SELECT o_custkey, o_orderkey,
       |    NTILE($StatsPruneFiles) OVER (ORDER BY o_custkey, o_orderkey)
       |      AS fid
       |  FROM orders),
       |st AS (SELECT fid, MIN(o_custkey) AS mn, MAX(o_custkey) AS mxk,
       |    SUM(CASE WHEN o_custkey <= (SELECT d FROM bb)
       |      AND o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS ndv
       |  FROM f GROUP BY 1),
       |cls AS (SELECT st.*, (mn <= bb.hi AND mxk >= bb.lo) AS iskeep,
       |    (mn >= bb.lo AND mxk <= bb.hi AND ndv = 0) AS ismeta,
       |    (mn <= bb.d) AS iskeep2,
       |    (mxk <= bb.d AND ndv = 0) AS ismeta2
       |  FROM st, bb),
       |cand AS (SELECT MIN(CASE WHEN ismeta THEN mn END) AS cmin,
       |    MAX(CASE WHEN ismeta THEN mxk END) AS cmax,
       |    COUNT(*) FILTER (ismeta) AS nmeta,
       |    COUNT(*) FILTER (NOT iskeep) AS npruned,
       |    COUNT(*) FILTER (iskeep AND NOT ismeta AND mn < cmin_)
       |      AS mnscan,
       |    COUNT(*) FILTER (iskeep AND NOT ismeta AND mn >= cmin_)
       |      AS mnskip,
       |    COUNT(*) FILTER (iskeep AND NOT ismeta AND mxk > cmax_)
       |      AS mxscan,
       |    COUNT(*) FILTER (iskeep AND NOT ismeta AND mxk <= cmax_)
       |      AS mxskip,
       |    COUNT(*) FILTER (iskeep2 AND ismeta2) AS nmeta2,
       |    COUNT(*) FILTER (iskeep2 AND NOT ismeta2) AS mn2scan
       |  FROM cls,
       |    (SELECT MIN(CASE WHEN ismeta THEN mn END) AS cmin_,
       |       MAX(CASE WHEN ismeta THEN mxk END) AS cmax_ FROM cls))
       |SELECT
       |  (SELECT MIN(o_custkey) FROM orders, bb
       |    WHERE o_custkey BETWEEN bb.lo AND bb.hi
       |      AND NOT (o_custkey <= bb.d AND o_orderkey % 3 = 0)) AS mn,
       |  (SELECT MAX(o_custkey) FROM orders, bb
       |    WHERE o_custkey BETWEEN bb.lo AND bb.hi
       |      AND NOT (o_custkey <= bb.d AND o_orderkey % 3 = 0)) AS mxv,
       |  CAST(nmeta AS BIGINT) AS mn_meta,
       |  CAST(mnscan AS BIGINT) AS mn_scan,
       |  CAST(mnskip AS BIGINT) AS mn_skip,
       |  CAST(npruned AS BIGINT) AS mn_pruned,
       |  CAST(mxscan AS BIGINT) AS mx_scan,
       |  CAST(mxskip AS BIGINT) AS mx_skip,
       |  (SELECT MIN(o_custkey) FROM orders, bb
       |    WHERE o_custkey <= bb.d
       |      AND NOT (o_custkey <= bb.d AND o_orderkey % 3 = 0)) AS mn2,
       |  CAST(nmeta2 AS BIGINT) AS mn2_meta,
       |  CAST(mn2scan AS BIGINT) AS mn2_scan
       |FROM cand""".stripMargin

  /** Gate: per-file BLOOM point-lookup skipping — the shape min/max
    * stats provably cannot serve. Fixture: orders in a residue-class
    * layout (file i holds keys ≡ i mod 32), so every file's
    * [min,max] spans nearly the whole keyspace and an equality lookup
    * keeps ~all files under range stats; the declared bloom index on
    * o_orderkey must then prune to the containing file (+ at most the
    * declared-fpp false positives). Probes:
    *  - k_max (global max key): minmax alone already plans exactly 1
    *    file — the bloom pass must NOT prune below it
    *    (bloom_lt_minmax = false pins the no-false-negative boundary);
    *  - k_mid (largest key ≤ max/2) and k_gap (smallest absent
    *    in-range key): the minmax plan is the near-total residue count
    *    (bigint-exact from the oracle's mod-32 min/max algebra) while
    *    the bloom plan must be strictly smaller AND within the
    *    fpp envelope (≤ total/4 — at 1% fpp on 32 files the failure
    *    probability is ~1e-10, deterministic in practice because the
    *    sketches are deterministic functions of the data);
    *  - k_auto: after an insert-only MERGE lands new keys at odd
    *    offsets past max (new files whose sketches the COMMIT builds
    *    automatically), some absent even-offset key must bloom-prune
    *    strictly below its minmax plan — the existence proof that
    *    post-declaration commits sidecar their own files.
    * Row counts and the matched rows' price sums are fully
    * oracle-exact through the same readWhere that consults the index,
    * pinning soundness (a pruned file never hides a matching row). */
  private def lhBloomBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val table = freshGateTable()
    // the indexed column is o_key2 = 2·o_orderkey: the testdata keys
    // are DENSE, so the doubled key space gives deterministic
    // absent-in-range probe values (every odd number) while keeping
    // the per-file min/max algebra oracle-exact (2·min, 2·max)
    val filed = Tables.orders(s, dir)
      .withColumn("o_key2", $"o_orderkey" * 2L)
      .withColumn("__f",
        (pmod($"o_orderkey", lit(StatsPruneFiles.toLong)) + 1).cast("int"))
    initFiled(filed, table, "__f", StatsPruneFiles)
    declareBloom(s, table,
      Map("o_key2" -> BloomColSpec(fpp = 0.01, itemsPerFile = 1L << 16)))
    table
  }

  private def lhBloomOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, dir)
    val mx = orders.agg(max($"o_orderkey")).head().getLong(0)
    val kMid = orders.filter($"o_orderkey" <= mx / 2)
      .agg(max($"o_orderkey")).head().getLong(0)
    // the three measured lookups plan in ONE batched job
    // ([[pruneReportBloomBatch]] — triple-identical to the read path's
    // own per-probe planning, spec-pinned) and aggregate through ONE
    // IN-readWhere (the same skipping machinery, probing all three
    // keys); the old per-probe shape was 3 planning jobs + 1 read job
    // PER PROBE — driver-latency-bound, the round-16 drift surface
    val probes = Seq(("k_max", 2L * mx), ("k_mid", 2L * kMid),
      ("k_gap", 2L * kMid + 1L)) // odd => absent, in range
    val rpt = probes.zip(pruneReportBloomBatch(s, table,
      probes.map(p => $"o_key2" === p._2)))
    val got = readWhere(s, table,
        $"o_key2".isin(probes.map(_._2): _*))
      .groupBy($"o_key2")
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double").as("sp"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val measured = rpt.map { case ((label, k), (b, mm, tot)) =>
      val (n, sp) = got.getOrElse(k, (0L, 0.0))
      (label, mm.toLong, tot.toLong, b * 4 <= tot, b < mm, n, sp)
    }
    // insert-only merge: 500 new keys past max (all o_key2 still
    // EVEN) — the commit must bloom-sidecar its new files unasked.
    // The testdata's keys are DENSE (0..N contiguous), so key k < 500
    // maps to new key mx+k+1 directly — same rows a rank-window would
    // produce, with no single-partition WindowExec in the op half
    val src = orders.filter($"o_orderkey" < 500L)
      .withColumn("o_orderkey", lit(mx) + $"o_orderkey" + 1L)
      .withColumn("o_key2", $"o_orderkey" * 2L)
    mergeInto(s, table, src, Seq("o_orderkey"))
    // absent odd values inside the new files' [2(mx+1), 2(mx+500)] —
    // the whole 6-candidate existence sweep is one more batched job
    val candidates = (0 to 5).map(j => 2L * mx + 3L + 2L * j)
    val auto = pruneReportBloomBatch(s, table,
      candidates.map(k => $"o_key2" === k)).exists { case (b, mm, _) =>
      b < mm
    }
    val nCand = readWhere(s, table,
      $"o_key2".isin(candidates: _*)).count()
    val rAuto = ("k_auto", -1L, -1L, auto, auto, nCand, 0.0)
    (measured :+ rAuto)
      .toDF("probe", "minmax_files", "total_files", "bloom_pruned",
        "bloom_lt_minmax", "n_rows", "sum_price")
  }

  val lhBloomPruneSql: String =
    s"""WITH mx AS (SELECT MAX(o_orderkey) AS mx FROM orders),
       |kmid AS (SELECT MAX(o_orderkey) AS k FROM orders
       |  WHERE o_orderkey <= (SELECT mx // 2 FROM mx)),
       |st AS (SELECT o_orderkey % $StatsPruneFiles AS f,
       |    2 * MIN(o_orderkey) AS mn, 2 * MAX(o_orderkey) AS mxk
       |  FROM orders GROUP BY 1)
       |SELECT 'k_max' AS probe,
       |  (SELECT COUNT(*) FROM st, mx WHERE 2 * mx.mx BETWEEN mn AND mxk)
       |    AS minmax_files,
       |  CAST($StatsPruneFiles AS BIGINT) AS total_files,
       |  true AS bloom_pruned, false AS bloom_lt_minmax,
       |  CAST(1 AS BIGINT) AS n_rows,
       |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |     FROM orders, mx WHERE o_orderkey = mx.mx) AS sum_price
       |UNION ALL
       |SELECT 'k_mid',
       |  (SELECT COUNT(*) FROM st, kmid WHERE 2 * kmid.k BETWEEN mn AND mxk),
       |  $StatsPruneFiles, true, true, 1,
       |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |     FROM orders, kmid WHERE o_orderkey = kmid.k)
       |UNION ALL
       |SELECT 'k_gap',
       |  (SELECT COUNT(*) FROM st, kmid
       |     WHERE 2 * kmid.k + 1 BETWEEN mn AND mxk),
       |  $StatsPruneFiles, true, true, 0, 0.0
       |UNION ALL
       |SELECT 'k_auto', -1, -1, true, true, 0, 0.0""".stripMargin

  /** Gate: STORAGE-PARTITIONED JOIN over two bucketed CoW tables —
    * customer and orders both clustered by custkey into
    * [[StatsPruneFiles]] buckets at init, read through the graft
    * catalog with V2 bucketing enabled and broadcast disabled. The
    * fact⋈fact join must plan with ZERO shuffles under the join (the
    * scans' KeyGroupedPartitioning reports zip same-bucket files),
    * asserted off the EXECUTED plan and emitted as an oracle-pinned
    * boolean; the per-segment aggregate is fully oracle-exact, so the
    * exchange-free plan provably computes the same join. At 100 TB
    * this is the layout decision that amortizes one write-side
    * shuffle across every subsequent join on the key. */
  private def lhSpjBuild(s: SparkSession, dir: String): String = {
    val tc = freshGateTable()
    val to = freshGateTable()
    initBucketed(Tables.customer(s, dir), tc, "c_custkey", StatsPruneFiles)
    initBucketed(Tables.orders(s, dir), to, "o_custkey", StatsPruneFiles)
    s"$tc,$to"
  }

  private def lhSpjOp(s: SparkSession, dir: String,
      tables: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val Array(tc, to) = tables.split(",")
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val oldB = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldV2 = if (s.conf.getOption(
        "spark.sql.sources.v2.bucketing.enabled").contains("true")) "true"
      else "false"
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val q = s.read.table(s"graft.`$tc`")
        .join(s.read.table(s"graft.`$to`"),
          $"c_custkey" === $"o_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          count_distinct($"c_custkey").as("n_customers"),
          sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
            .as("sum_price"))
      q.collect() // materialize so AQE's final plan is inspectable
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a) ++ walk(a.executedPlan)
        case st: QueryStageExec => Seq(st) ++ walk(st.plan)
        case other => Seq(other) ++ other.children.flatMap(walk)
      }
      val all = walk(q.queryExecution.executedPlan)
      val exchangeFree = all.collectFirst {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }.exists(j => !j.children.flatMap(walk)
        .exists(_.isInstanceOf[ShuffleExchangeLike]))
      q.withColumn("join_exchange_free", lit(exchangeFree))
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldB)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", oldV2)
    }
  }

  val lhSpjJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  COUNT(DISTINCT c_custkey) AS n_customers,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price,
      |  true AS join_exchange_free
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** Gate: ROW-GROUP-LEVEL DV skipping end-to-end. Orders sorted by
    * orderkey in one multi-row-group file (16 KiB groups); a DV delete
    * kills the interior orderkey band, so whole row groups die and the
    * pruned read scans only the surviving head/tail ranges. The
    * aggregate is oracle-exact (the delete negated relationally); the
    * planning facts ride as booleans the report derives — dead groups
    * found, and the ranged scan bounded by exactly the live-group rows. */
  private def lhRowGroupBuild(s: SparkSession, dir: String): String = {
    val hc = s.sparkContext.hadoopConfiguration
    val table = freshGateTable()
    hc.setInt("parquet.block.size", 16 * 1024)
    hc.setInt("parquet.page.size", 8 * 1024)
    try init(Tables.orders(s, dir).repartition(1)
      .sortWithinPartitions("o_orderkey"), table)
    finally { hc.unset("parquet.block.size"); hc.unset("parquet.page.size") }
    val mx = Tables.orders(s, dir).agg(max(col("o_orderkey"))).head().getLong(0)
    deleteWhere(s, table,
      col("o_orderkey") >= mx / 4 && col("o_orderkey") <= mx * 3 / 4)
    table
  }

  private def lhRowGroupOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val (_, _, rep) = rowGroupPrunePlan(s, table)
    val total = Tables.orders(s, dir).count()
    readRowGroupPruned(s, table)
      .agg(count(lit(1)).as("n"),
        count_distinct($"o_custkey").as("n_cust"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("groups_skipped", lit(rep.deadGroups >= 1))
      .withColumn("scan_reduced",
        lit(rep.liveRows > 0L && rep.liveRows < total))
  }

  val lhRowGroupDvSql: String =
    """WITH b AS (SELECT MAX(o_orderkey) AS mx FROM orders)
      |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price,
      |  TRUE AS groups_skipped, TRUE AS scan_reduced
      |FROM orders, b
      |WHERE NOT (o_orderkey >= b.mx // 4 AND o_orderkey <= (b.mx * 3) // 4)
      |""".stripMargin

  /** Fixed commit-clock origin for the time-travel gate (an arbitrary
    * real instant; gates re-stamp manifests against it so boundary
    * semantics are deterministic regardless of build wall-clock). */
  private val TtBase = 1700000000000L
  private val TtHour = 3600000L

  /** Gate: TIMESTAMP AS OF time travel. Three snapshots with re-stamped
    * commit times one hour apart — v0 = keys ≡ 0 (mod 3), v1 merges in
    * keys ≡ 1, v2 deletes custkey ≡ 2 (mod 5) — then reads at the v0
    * boundary instant (at-or-before includes the commit itself), two
    * mid-window instants, the v1 boundary THROUGH SQL
    * (`TIMESTAMP AS OF timestamp_millis(…)` via [[graft.plans.GraftCatalog]]),
    * and an instant past the newest commit (resolves to latest). Each
    * instant's aggregate is oracle-exact against the relational
    * definition of that snapshot; the pre-history error case is spec'd
    * ([[graft.plans.CowDsv2Spec]]) since a gate result can't carry an
    * exception. */
  private def lhTimeTravelBuild(s: SparkSession, dir: String): String = {
    val table = freshGateTable()
    val orders = Tables.orders(s, dir)
    init(orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), table)
    mergeInto(s, table,
      orders.filter(pmod(col("o_orderkey"), lit(3)) === 1),
      Seq("o_orderkey"))
    deleteWhere(s, table, pmod(col("o_custkey"), lit(5)) === 2)
    // deterministic commit clock: the whole history was built in one
    // wall-clock blink, so boundaries are re-stamped an hour apart
    stampCommitTime(table, 0, TtBase)
    stampCommitTime(table, 1, TtBase + TtHour)
    stampCommitTime(table, 2, TtBase + 2 * TtHour)
    table
  }

  private def lhTimeTravelOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    def aggOf(df: DataFrame, label: String): DataFrame =
      df.agg(count(lit(1)).as("n"),
        count_distinct(col("o_custkey")).as("n_cust"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
        .withColumn("instant", lit(label))
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val viaSql = s.sql(s"SELECT * FROM graft.`$table` " +
      s"TIMESTAMP AS OF timestamp_millis(${TtBase + TtHour})")
    aggOf(readAsOf(s, table, TtBase), "t0_boundary")
      .unionByName(aggOf(readAsOf(s, table, TtBase + TtHour / 2), "t0_mid"))
      .unionByName(aggOf(viaSql, "t1_boundary_sql"))
      .unionByName(aggOf(
        readAsOf(s, table, TtBase + TtHour + TtHour / 2), "t1_mid"))
      .unionByName(aggOf(
        readAsOf(s, table, TtBase + 10 * TtHour), "latest"))
      .select("instant", "n", "n_cust", "sum_price")
  }

  val lhTimeTravelSql: String =
    """WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
      |v1 AS (SELECT * FROM orders WHERE o_orderkey % 3 <= 1),
      |v2 AS (SELECT * FROM v1 WHERE NOT (o_custkey % 5 = 2)),
      |a0 AS (SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price FROM v0),
      |a1 AS (SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price FROM v1),
      |a2 AS (SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price FROM v2)
      |SELECT 't0_boundary' AS instant, n, n_cust, sum_price FROM a0
      |UNION ALL SELECT 't0_mid', n, n_cust, sum_price FROM a0
      |UNION ALL SELECT 't1_boundary_sql', n, n_cust, sum_price FROM a1
      |UNION ALL SELECT 't1_mid', n, n_cust, sum_price FROM a1
      |UNION ALL SELECT 'latest', n, n_cust, sum_price FROM a2""".stripMargin

  val lhStatsPruneSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 4 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 4 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |f AS (SELECT o_custkey,
       |    NTILE($StatsPruneFiles) OVER (ORDER BY o_custkey, o_orderkey)
       |      AS fid
       |  FROM orders),
       |st AS (SELECT fid, MIN(o_custkey) AS mn, MAX(o_custkey) AS mx
       |  FROM f GROUP BY 1),
       |planned AS (SELECT COUNT(*) AS c FROM st, b
       |  WHERE mn <= b.hi AND mx >= b.lo)
       |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    AS sum_price,
       |  (SELECT c FROM planned) AS planned_files,
       |  CAST($StatsPruneFiles AS BIGINT) AS total_files
       |FROM orders, b
       |WHERE o_custkey BETWEEN b.lo AND b.hi AND o_orderkey % 7 <> 1""".stripMargin

  /** One lakehouse gate, declared once: `build` makes a fresh fixture
    * from the scale-factor directory and returns its table path (two
    * comma-joined paths for a two-table gate); `op` runs the measured
    * operator on that fixture; `oracle` is the DuckDB SQL its result
    * must equal. [[queries]], [[oracles]] and [[benchSplit]] all derive
    * from [[gates]]. */
  final case class Gate(name: String,
      build: (SparkSession, String) => String,
      op: (SparkSession, String, String) => DataFrame,
      oracle: String)

  val gates: Seq[Gate] = Seq(
    Gate("lh_merge", lhMergeBuild, lhMergeOp, lhMergeSql),
    Gate("lh_compact_zorder", lhCompactZorderBuild,
      lhCompactZorderOp, lhCompactZorderSql),
    Gate("lh_delete_vectors", lhDeleteVectorsBuild,
      lhDeleteVectorsOp, lhDeleteVectorsSql),
    Gate("lh_changes", lhChangesBuild, lhChangesOp, lhChangesSql),
    Gate("lh_changes_stream", lhChangesBuild, lhChangesStreamOp, lhChangesSql),
    Gate("lh_changes_evolve", lhChangesEvolveBuild,
      lhChangesEvolveOp, lhChangesEvolveSql),
    Gate("lh_stats_prune", lhStatsPruneBuild, lhStatsPruneOp, lhStatsPruneSql),
    Gate("lh_evolve", lhMergeBuild, lhEvolveOp, lhEvolveSql),
    Gate("lh_evolve2", lhEvolve2Build, lhEvolve2Op, lhEvolve2Sql),
    Gate("lh_maintain_conc", lhStatsPruneBuild,
      lhMaintainConcOp, lhMaintainConcSql),
    Gate("lh_feed_part", lhFeedPartBuild, lhFeedPartOp, lhFeedPartSql),
    Gate("lh_count_meta", lhStatsPruneBuild, lhCountMetaOp, lhCountMetaSql),
    Gate("lh_count_push", lhCountPushBuild, lhCountPushOp, lhCountPushSql),
    Gate("lh_minmax_push", lhStatsPruneBuild, lhMinmaxPushOp, lhMinmaxPushSql),
    Gate("lh_minmax_meta", lhMinMaxBuild, lhMinMaxOp, lhMinMaxMetaSql),
    Gate("lh_bloom_prune", lhBloomBuild, lhBloomOp, lhBloomPruneSql),
    Gate("lh_spj_join", lhSpjBuild, lhSpjOp, lhSpjJoinSql),
    Gate("lh_partition_prune", lhPartitionPruneBuild,
      lhPartitionPruneOp, lhPartitionPruneSql),
    Gate("lh_rowgroup_dv", lhRowGroupBuild, lhRowGroupOp, lhRowGroupDvSql),
    Gate("lh_skip_rule", lhStatsPruneBuild, lhSkipRuleOp, lhStatsPruneSql),
    Gate("lh_sql_read", lhStatsPruneBuild, lhSqlReadOp, lhSqlReadSql),
    Gate("lh_sql_merge", lhMergeBuild, lhSqlMergeOp, lhMergeSql),
    Gate("lh_merge_stmt", lhMergeBuild, lhMergeStmtOp, lhMergeSql),
    Gate("lh_merge_evolve", lhMergeBuild, lhMergeEvolveOp, lhMergeEvolveSql),
    Gate("lh_wap", lhMergeBuild, lhWapOp, lhWapSql),
    Gate("lh_merge_mor", lhMergeBuild, lhMergeMorOp, lhMergeSql),
    Gate("lh_file_audit", lhStatsPruneBuild, lhFileAuditOp, lhFileAuditSql),
    Gate("lh_dv_maint", lhStatsPruneBuild, lhDvMaintOp, lhDvMaintSql),
    Gate("lh_dv_compress", lhDvCompressBuild, lhDvCompressOp, lhDvCompressSql),
    Gate("lh_merge_hybrid", lhStatsPruneBuild,
      lhMergeHybridOp, lhMergeHybridSql),
    Gate("lh_maintain", lhStatsPruneBuild, lhMaintainOp, lhMaintainSql),
    Gate("lh_stream_sink", lhStreamSinkBuild, lhStreamSinkOp, lhStreamSinkSql),
    Gate("lh_stream_upsert", lhStreamUpsertBuild,
      lhStreamUpsertOp, lhStreamUpsertSql),
    Gate("lh_stream_upsert_evolve", lhStreamUpsertEvolveBuild,
      lhStreamUpsertEvolveOp, lhStreamUpsertEvolveSql),
    Gate("lh_stream_upsert_mid", lhStreamUpsertMidBuild,
      lhStreamUpsertMidOp, lhStreamUpsertMidSql),
    Gate("lh_upsert_partial", lhMergeBuild2,
      lhUpsertPartialOp, lhUpsertPartialSql),
    Gate("lh_stream_part", lhStreamPartBuild, lhStreamPartOp, lhStreamPartSql),
    Gate("lh_time_travel", lhTimeTravelBuild, lhTimeTravelOp, lhTimeTravelSql),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name ->
      ((s: SparkSession, d: String) => g.op(s, d, g.build(s, d)))).toMap

  val oracles: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap

  /** Benchmark decomposition of each gate: (fixture build, measured
    * operator). The build half — table init, priming merges, the NTILE
    * layout — is identical harness work every round; the op half is the
    * operator whose drift the bench should surface. `graft.Bench` times
    * the halves separately and reports both. */
  val benchSplit: Map[String,
      (SparkSession, String) => (() => String, String => DataFrame)] =
    gates.map(g => g.name -> ((s: SparkSession, d: String) =>
      (() => g.build(s, d), (t: String) => g.op(s, d, t)))).toMap
}
