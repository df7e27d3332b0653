package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multi-dimensional data layout — Z-order (Morton) clustering so that
  * file-level min/max statistics prune box queries on SEVERAL columns at
  * once. A 100 TB table sorted linearly by one column answers filters on
  * that column by skipping most files, but a filter on any OTHER column
  * reads everything: per-file min/max of the second column spans the
  * whole domain. Interleaving the bits of k rank-quantized columns makes
  * every file a small hyper-rectangle in all k dimensions, so the WORST
  * case over the k single-column filters is bounded — the property
  * Delta's OPTIMIZE ZORDER and Iceberg's sort orders sell, built here
  * from plain Spark expressions (codegen'd shifts/masks — no UDF) plus
  * the repo's one-pass KLL range-bucket machinery.
  *
  * Two paths:
  *  - gate path ([[scZorder]] / [[scZorderPrune]]): quantization by
  *    integer arithmetic against the column max and file assignment by
  *    exact NTILE, both bigint-exact and reproducible in DuckDB — a full
  *    oracle for the bit-interleave and for the pruning counts. NTILE is
  *    a global sort and is used ONLY for oracle-ability at gate scale.
  *  - production path ([[zorderFileId]]): per-column rank quantization
  *    from mergeable KLL sketches (one lightweight pass, storable and
  *    mergeable across daily ingests) and file assignment by KLL range
  *    buckets over the z-value — no global sort anywhere; the scan-side
  *    cost is a codegen'd comparison chain per row. LayoutSpec measures
  *    that this path keeps the same bounded-worst-case pruning.
  */
object Layout {

  /** Morton code: interleave the low `bits` bits of each column —
    * bit i of column j lands at position i·k + j. Inputs must already be
    * non-negative and < 2^bits (quantize first); the result fits a long
    * for k·bits ≤ 62. Pure builtin shifts/masks — whole-stage codegen. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && bits >= 1, "need >=1 column and >=1 bit")
    require(cols.size * bits <= 62, s"${cols.size}x$bits bits overflow a long")
    val k = cols.size
    val terms = for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)),
      i * k + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** DuckDB twin of [[zValue]] — the same unrolled shift/mask terms. */
  def zValueSql(colSqls: Seq[String], bits: Int): String = {
    val k = colSqls.size
    (for {
      i <- 0 until bits
      (c, j) <- colSqls.zipWithIndex
    } yield s"(((($c) >> $i) & 1) << ${i * k + j})").mkString(" | ")
  }

  /** Scan-side KLL rank quantization: value → rank bucket in
    * [0, 2^bits) via the native [[graft.functions.RankBucket]] binary
    * search (one constant boundary array, O(log n) per row, constant
    * codegen size — see its doc for why the n-term when-chain this
    * replaces was a compile-time cliff). `coalesce(…, 0)` preserves the
    * chain's NULL-input → bucket 0 behavior. */
  def rankQuantize(value: Column, boundaries: Seq[Double]): Column = {
    if (boundaries.isEmpty) return lit(0L)
    coalesce(org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.RankBucket(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(value),
        boundaries.toArray)), lit(0L))
  }

  /** Production layout: assign every row a target file id in
    * [0, numFiles) such that files tile the k-dimensional space.
    * One KLL pass per column for quantile boundaries (bounded driver
    * scalars — the IVF-centroid pattern), one KLL pass over the
    * z-value for file cut points; the per-row path is scan-side only.
    * Write with `.repartition(numFiles, col("zfile"))` +
    * `.sortWithinPartitions("zfile")` (or partitionBy on a derived
    * dir) — no global sort at any corpus size. */
  def zorderFileId(df: DataFrame, cols: Seq[Column], bits: Int,
      numFiles: Int, k: Int = 200): DataFrame = {
    val withZ = withZValue(df, cols, bits, k, "zv")
    val zBounds = Sampling.rangeBucketBoundaries(withZ, col("zv"), numFiles, k)
    withZ.withColumn("zfile", rankQuantize(col("zv"), zBounds).cast("int"))
  }

  /** Add `zName` = Morton code of the KLL-rank-quantized `cols`. The
    * quantized columns are MATERIALIZED as their own projection before
    * the interleave: [[zValue]] references each input `bits` times, and
    * inlining a `levels`-term comparison chain per reference multiplies
    * the expression tree by `bits` (at 8 bits × 256 levels that is a
    * multi-MiB task binary and a codegen blowup). Projecting the chain
    * once and interleaving attribute references keeps the tree — and
    * the broadcast task binary — linear in `levels`. */
  private def withZValue(df: DataFrame, cols: Seq[Column], bits: Int,
      k: Int, zName: String): DataFrame = {
    val levels = 1 << bits
    val withQ = cols.zipWithIndex.foldLeft(df) { case (d, (c, j)) =>
      d.withColumn(s"__zq$j",
        rankQuantize(c, Sampling.rangeBucketBoundaries(df, c, levels, k)))
    }
    withQ
      .withColumn(zName,
        zValue(cols.indices.map(j => col(s"__zq$j")), bits))
      .drop(cols.indices.map(j => s"__zq$j"): _*)
  }

  /** Per-file min/max statistics for the given columns — what a parquet
    * footer (or a table-format manifest) stores per file; the input to
    * any skipping decision. */
  def fileStats(df: DataFrame, fileCol: Column, cols: Seq[Column])
      : DataFrame =
    df.groupBy(fileCol.as("file"))
      .agg(min(cols.head).as("min0"),
        (max(cols.head).as("max0") +:
          cols.tail.zipWithIndex.flatMap { case (c, i) =>
            Seq(min(c).as(s"min${i + 1}"), max(c).as(s"max${i + 1}"))
          }): _*)

  // --------------------------------------------------------- gate queries

  /** 8 bits per dimension (256 rank levels) — fine enough that a 64-file
    * layout never merges distinct cells for lack of resolution. */
  val ZBits = 8
  val ZLevels: Long = 1L << ZBits
  /** Gate box: quantized slice [26, 38] of 256 ≈ a 5% selection in one
    * dimension, unconstrained in the other. */
  val ZSliceLo = 26L
  val ZSliceHi = 38L
  val ZFiles = 64

  /** Integer-exact quantization for the gate: q = (v · levels) div
    * (max+1) — order-preserving, bigint arithmetic in both engines (no
    * float rounding at bucket edges). The column max is one bounded
    * driver scalar; the oracle recomputes it as a scalar subquery. */
  private def gateQuantExpr(colName: String, maxV: Long): Column =
    expr(s"($colName * $ZLevels) div ${maxV + 1}")

  private def gateQuantSql(colName: String): String =
    s"(($colName * $ZLevels) // (SELECT MAX($colName) + 1 FROM lineitem))"

  /** Gate 1 — the Morton code itself, bit-exact: z-value of
    * (rank-quantized l_partkey, l_suppkey) for every lineitem row,
    * aggregated per z-cell so the oracle pins every row's interleave
    * through the counts and a decimal-exact sum. */
  def scZorder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val m = li.agg(max($"l_partkey"), max($"l_suppkey")).head()
    val (mx, my) = (m.getLong(0), m.getLong(1))
    li.withColumn("zv", zValue(
        Seq(gateQuantExpr("l_partkey", mx), gateQuantExpr("l_suppkey", my)),
        ZBits))
      .groupBy($"zv")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(12,2)")).cast("double").as("sum_qty"))
  }

  val scZorderSql: String = {
    val z = zValueSql(Seq("xq", "yq"), ZBits)
    s"""SELECT ($z) AS zv, COUNT(*) AS n,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
       |FROM (SELECT ${gateQuantSql("l_partkey")} AS xq,
       |             ${gateQuantSql("l_suppkey")} AS yq, l_quantity
       |      FROM lineitem) q
       |GROUP BY 1""".stripMargin
  }

  /** Gate 2 — pruning effectiveness, bigint-exact: lay lineitem out in
    * [[ZFiles]] files two ways (Z-order vs linear-by-x), compute each
    * file's min/max in both dimensions, and count files a ~5% slice
    * query would have to read when the slice is on x and when it is on
    * y. The numbers the gate pins are the whole argument for Z-order:
    * linear-by-x prunes the x-slice to a handful of files but must read
    * EVERY file for the y-slice; Z-order holds both slices to a bounded
    * fraction. NTILE file assignment keeps the oracle exact (see class
    * doc; [[zorderFileId]] is the no-global-sort production path). */
  def scZorderPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val m = li.agg(max($"l_partkey"), max($"l_suppkey")).head()
    val (mx, my) = (m.getLong(0), m.getLong(1))
    val q = li.select(
      gateQuantExpr("l_partkey", mx).as("xq"),
      gateQuantExpr("l_suppkey", my).as("yq"),
      $"l_orderkey", $"l_linenumber")
      .withColumn("zv", zValue(Seq($"xq", $"yq"), ZBits))
    // distributed NTILE for both layouts (identical assignment — the
    // orders are total): two range exchanges instead of two
    // single-partition WindowExecs (guide §2)
    val filed = GlobalNtile.withBucket(
      GlobalNtile.withBucket(q, "zfile", ZFiles,
        Seq($"zv", $"xq", $"yq", $"l_orderkey", $"l_linenumber")),
      "lfile", ZFiles,
      Seq($"xq", $"yq", $"l_orderkey", $"l_linenumber"))
      .select($"xq", $"yq", $"zfile", $"lfile")

    def hits(fileCol: String, on: String): Column =
      // file overlaps the slice iff its [min,max] intersects [lo,hi]
      sum(when(col(s"min_$on") <= lit(ZSliceHi) &&
        col(s"max_$on") >= lit(ZSliceLo), 1L).otherwise(0L))

    def stats(fileCol: String): DataFrame =
      filed.groupBy(col(fileCol))
        .agg(min($"xq").as("min_xq"), max($"xq").as("max_xq"),
          min($"yq").as("min_yq"), max($"yq").as("max_yq"))

    val z = stats("zfile").agg(count(lit(1)).as("n_files"),
      hits("zfile", "xq").as("z_hit_x"), hits("zfile", "yq").as("z_hit_y"))
    val l = stats("lfile").agg(
      hits("lfile", "xq").as("lin_hit_x"), hits("lfile", "yq").as("lin_hit_y"))
    z.crossJoin(l)
  }

  val scZorderPruneSql: String = {
    val z = zValueSql(Seq("xq", "yq"), ZBits)
    s"""WITH q AS (
       |  SELECT ${gateQuantSql("l_partkey")} AS xq,
       |         ${gateQuantSql("l_suppkey")} AS yq,
       |         l_orderkey, l_linenumber
       |  FROM lineitem),
       |f AS (
       |  SELECT xq, yq,
       |    NTILE($ZFiles) OVER (ORDER BY ($z), xq, yq, l_orderkey,
       |      l_linenumber) AS zfile,
       |    NTILE($ZFiles) OVER (ORDER BY xq, yq, l_orderkey,
       |      l_linenumber) AS lfile
       |  FROM q),
       |zs AS (SELECT zfile, MIN(xq) AS min_xq, MAX(xq) AS max_xq,
       |         MIN(yq) AS min_yq, MAX(yq) AS max_yq FROM f GROUP BY 1),
       |ls AS (SELECT lfile, MIN(xq) AS min_xq, MAX(xq) AS max_xq,
       |         MIN(yq) AS min_yq, MAX(yq) AS max_yq FROM f GROUP BY 1),
       |za AS (SELECT COUNT(*) AS n_files,
       |  CAST(SUM(CASE WHEN min_xq <= $ZSliceHi AND max_xq >= $ZSliceLo
       |      THEN 1 ELSE 0 END) AS BIGINT) AS z_hit_x,
       |  CAST(SUM(CASE WHEN min_yq <= $ZSliceHi AND max_yq >= $ZSliceLo
       |      THEN 1 ELSE 0 END) AS BIGINT) AS z_hit_y FROM zs),
       |la AS (SELECT
       |  CAST(SUM(CASE WHEN min_xq <= $ZSliceHi AND max_xq >= $ZSliceLo
       |      THEN 1 ELSE 0 END) AS BIGINT) AS lin_hit_x,
       |  CAST(SUM(CASE WHEN min_yq <= $ZSliceHi AND max_yq >= $ZSliceLo
       |      THEN 1 ELSE 0 END) AS BIGINT) AS lin_hit_y FROM ls)
       |SELECT za.n_files, za.z_hit_x, za.z_hit_y, la.lin_hit_x,
       |  la.lin_hit_y
       |FROM za, la""".stripMargin
  }

  // --------------------------------------------------- small-files compaction
  /** One planned compaction: which files to rewrite, which to leave. */
  case class CompactionPlan(
      smallFiles: Seq[(String, Long)],   // (path, bytes) to rewrite
      keepFiles: Seq[(String, Long)],    // already at target — untouched
      targetFileCount: Int,              // outputs for the rewritten set
      smallBytes: Long)

  /** Plan an INCREMENTAL compaction of a parquet directory: files
    * already ≥ `smallThreshold` are kept as-is (rewriting a
    * right-sized file is pure write amplification — the sin of naive
    * `repartition(n).write` table rewrites); the small-file tail is
    * binned into `ceil(smallBytes / targetBytes)` outputs.
    *
    * This is the table-maintenance loop every long-lived 100 TB table
    * needs: streaming ingest and per-batch CDC appends produce
    * micro-batch-sized files, and scan cost degrades with file COUNT
    * (footer reads, scheduling, no intra-file parallelism) long before
    * it degrades with bytes. The plan itself is a pure metadata
    * operation — one FileSystem listing, no data read. */
  def planCompaction(spark: SparkSession, dir: String,
      targetBytes: Long, smallThreshold: Option[Long] = None): CompactionPlan = {
    val small = smallThreshold.getOrElse(targetBytes / 2)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(path).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.toString, f.getLen))
      .sortBy(_._1)
    val (keep, smalls) = files.partition(_._2 >= small)
    val smallBytes = smalls.map(_._2).sum
    val n = math.max(1, math.ceil(smallBytes.toDouble / targetBytes).toInt)
    CompactionPlan(smalls, keep, n, smallBytes)
  }

  /** Execute a plan: rewrite ONLY the small files into
    * `plan.targetFileCount` outputs under `outDir`. Kept files are the
    * caller's to retain (at scale that is a metadata move in the table
    * format's commit, not a byte copy — which is exactly why this
    * function never touches them). Returns the rewritten row count.
    * No-op (0 rows, no write) on an empty small set. */
  def compactSmallFiles(spark: SparkSession, plan: CompactionPlan,
      outDir: String): Long = {
    if (plan.smallFiles.isEmpty) return 0L
    compactRows(spark.read.parquet(plan.smallFiles.map(_._1): _*),
      plan.targetFileCount, outDir)
    writtenRows(spark, outDir)
  }

  /** Row-level form of [[compactSmallFiles]]: callers that must apply
    * row-level corrections to the tail first (a CoW table's deletion
    * vectors) pass the already-filtered rows. */
  def compactRows(df: DataFrame, targetFileCount: Int,
      outDir: String): Unit =
    df.repartition(targetFileCount)
      .write.mode("overwrite").parquet(outDir)

  /** Rows in the parquet files directly under `dir`, summed from their
    * footers — the compactions' row count without a second pass over
    * the rewritten rows. */
  private def writtenRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(conf).listStatus(path)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => graft.Tables.withFooter(conf, f.getPath.toString)(
        _.getRecordCount))
      .sum
  }

  /** Z-order flavor of [[compactSmallFiles]]: the rewritten small-file
    * tail is range-partitioned and sorted by the Morton code of the
    * rank-quantized `zCols`, so every rewritten file covers a contiguous
    * z-range — a bounded hyper-rectangle in each clustered dimension.
    * This is compaction-as-layout-maintenance (what Delta's OPTIMIZE
    * ZORDER sells): a long-lived table has to rewrite its small-file
    * tail periodically anyway, and making THAT rewrite the clustering
    * pass restores multi-dimensional pruning for free — no second
    * table-sized rewrite job. Quantization boundaries come from one
    * mergeable KLL pass per column over the small tail only (bounded
    * driver scalars, the [[zorderFileId]] machinery); no global sort —
    * repartitionByRange samples the z-value, each partition sorts
    * locally. Returns the rewritten row count. */
  def compactSmallFilesZorder(spark: SparkSession, plan: CompactionPlan,
      outDir: String, zCols: Seq[String], bits: Int = ZBits,
      k: Int = 200): Long = {
    if (plan.smallFiles.isEmpty) return 0L
    compactRowsZorder(spark.read.parquet(plan.smallFiles.map(_._1): _*),
      plan.targetFileCount, outDir, zCols, bits, k)
    writtenRows(spark, outDir)
  }

  /** Row-level form of [[compactSmallFilesZorder]] (see
    * [[compactRows]]). */
  def compactRowsZorder(df: DataFrame, targetFileCount: Int,
      outDir: String, zCols: Seq[String], bits: Int = ZBits,
      k: Int = 200): Unit =
    withZValue(df, zCols.map(col), bits, k, "__zv")
      .repartitionByRange(targetFileCount, col("__zv"))
      .sortWithinPartitions("__zv")
      .drop("__zv")
      .write.mode("overwrite").parquet(outDir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sc_zorder" -> scZorder,
    "sc_zorder_prune" -> scZorderPrune,
  )

  val oracles: Map[String, String] = Map(
    "sc_zorder" -> scZorderSql,
    "sc_zorder_prune" -> scZorderPruneSql,
  )
}
