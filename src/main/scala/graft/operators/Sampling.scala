package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic sampling + source-mixing operators — the "dataset
  * build" step of a training-data pipeline: draw a reproducible sample,
  * or re-weight sources (downsample web, upsample books) so the SAME
  * inputs always produce the SAME mixed corpus, on any cluster, at any
  * partitioning, on reruns months later.
  *
  * Mechanism: a per-row uniform draw u = hash(salt | stable key),
  * compared against a precomputed threshold. Everything is scan-side —
  * a filter (Bernoulli/stratified) or a narrow explode (upsampling
  * copies); no shuffle at any corpus size. Two hash flavors:
  *
  *  - md5-hex (this file's gate queries): u is the first 8 hex chars of
  *    md5, compared LEXICOGRAPHICALLY against a threshold hex string —
  *    fixed-width lowercase hex ordering == numeric ordering, and md5
  *    is available bit-identically in DuckDB, so the gate is a full
  *    oracle match;
  *  - xxhash64 (`u01`): the fast codegen'd production flavor for 100 TB
  *    scans, property-pinned in SamplingSpec (deterministic, correct
  *    proportions) since DuckDB cannot reproduce it.
  */
object Sampling {

  /** Lowercase 8-hex-char uniform draw from the row's stable key. */
  def hashHex(key: Column, salt: String): Column =
    substring(md5(concat(lit(salt), lit("|"), key.cast("string"))), 1, 8)

  private[operators] def hashHexSql(keySql: String, salt: String): String =
    s"substring(md5('$salt' || '|' || CAST($keySql AS VARCHAR)), 1, 8)"

  /** Threshold hex string for a fraction in [0,1): keep iff
    * hashHex < thresholdHex. Precomputed driver-side so Spark and the
    * SQL oracle compare the same literal. */
  def thresholdHex(frac: Double): String = {
    require(frac >= 0 && frac < 1, s"fraction $frac outside [0,1)")
    f"${(frac * 4294967296.0).toLong.min(4294967295L).max(0L)}%08x"
  }

  /** xxhash64 flavor: uniform double in [0,1) — the production hot path
    * (one codegen'd hash per row, no string materialization). */
  def u01(key: Column, salt: Long): Column =
    (xxhash64(key, lit(salt)).cast("double") / lit(1.8446744073709552e19)) +
      lit(0.5)

  /** Deterministic Bernoulli sample: keep ~frac of rows, selected by
    * key hash — reproducible and stable under any partitioning. */
  def sampleFraction(df: DataFrame, key: Column, frac: Double,
      salt: String): DataFrame =
    if (frac >= 1.0) df
    else df.filter(hashHex(key, salt) < lit(thresholdHex(frac)))

  /** xxhash64 production variant of [[sampleFraction]]. */
  def sampleFractionFast(df: DataFrame, key: Column, frac: Double,
      salt: Long): DataFrame =
    if (frac >= 1.0) df else df.filter(u01(key, salt) < lit(frac))

  /** Deterministic exact-size sample: the n rows with the smallest key
    * hashes (key tie-break) — the distributed, rerun-stable equivalent
    * of reservoir sampling. Plans as TakeOrderedAndProject: each task
    * keeps its local top-n, the driver merges k·n rows — no full sort,
    * no shuffle of the corpus. */
  def sampleExactN(df: DataFrame, key: Column, n: Int,
      salt: String): DataFrame =
    df.withColumn("__h", hashHex(key, salt))
      .orderBy(col("__h"), key)
      .limit(n)
      .drop("__h")

  /** Deterministic exact-n-per-stratum sample: within each stratum, the
    * n rows with the smallest key hashes (key tie-break) — stratified
    * reservoir sampling, rerun-stable and partitioning-independent like
    * [[sampleExactN]]. One shuffle, keyed on the stratum, then a
    * row_number rank inside each — no global sort.
    *
    * The rank-≤-n filter triggers Catalyst's WindowGroupLimit rewrite
    * (visible in docs/PLANS_r7.md): each input task pre-prunes to its
    * local top-n per stratum BEFORE the exchange, so the shuffle carries
    * at most n·tasks rows per stratum, not the stratum's full volume —
    * the same partial/final shape as TakeOrderedAndProject, per group.
    *
    * Scale note: the post-shuffle reducer still holds one stratum's
    * n·tasks survivors. If even that dominates (very hot stratum ×
    * many tasks), compose with [[sampleFraction]] first — over-sample
    * each stratum with the SAME salt (the hash order is preserved:
    * u < t keeps exactly the smallest hashes), then rank the survivors.
    * The composition is exact as long as every stratum retains ≥ n rows
    * after the pre-filter (spec-proved). */
  def sampleExactNPerStratum(df: DataFrame, strata: Column, key: Column,
      n: Int, salt: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strata).orderBy(col("__h"), key)
    df.withColumn("__h", hashHex(key, salt))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__h", "__rn")
  }

  /** Source re-weighting with upsampling: each stratum's weight w emits
    * floor(w) full copies per row plus one more for the hash-selected
    * w − floor(w) fraction. Output gains a `copy` index (1..n_copies),
    * so downstream shuffles/dedup see distinct rows. Strata absent from
    * `weights` keep `defaultWeight`. */
  def weightedMix(df: DataFrame, strata: Column, weights: Map[String, Double],
      key: Column, salt: String, defaultWeight: Double = 1.0): DataFrame = {
    def copiesFor(w: Double): (Int, String) =
      (math.floor(w).toInt, thresholdHex(w - math.floor(w)))
    val (defBase, defThr) = copiesFor(defaultWeight)
    val (baseCol, thrCol) = weights.foldLeft(
      (lit(defBase), lit(defThr))) { case ((b, t), (stratum, w)) =>
      val (base, thr) = copiesFor(w)
      (when(strata === stratum, base).otherwise(b),
        when(strata === stratum, thr).otherwise(t))
    }
    val nCopies = (baseCol +
      when(hashHex(key, salt) < thrCol, 1).otherwise(0)).as("__n")
    // sequence(1, 0) would run DESCENDING ([1,0]); guard n=0 with an
    // empty array, which explode drops
    df.withColumn("__n", nCopies)
      .withColumn("copy", explode(when(col("__n") >= 1,
        sequence(lit(1), col("__n"))).otherwise(array().cast("array<int>"))))
      .drop("__n")
  }

  /** Token-budget BIN PACKING — the "build training shards" step: assign
    * documents, in a deterministic order, to consecutive bins of
    * ~`budget` tokens (sequential greedy fill: a doc goes to the bin its
    * preceding cumulative token count falls in, so bins average exactly
    * the budget and a bin overshoots by at most one document). Packing
    * runs WITHIN a shard (partitionBy column) so the window never needs
    * a global sort: at 100 TB, shard = source/date/hash-range gives
    * thousands of independent packing streams, each sorted only within
    * its partition. Bin identity is (shard, bin) — deterministic under
    * any partitioning because both the order column and the token counts
    * are data, not runtime state.
    *
    * The running sum uses an explicit ROWS frame: the default RANGE
    * frame makes order-key TIES share a cumulative that includes each
    * other's tokens, so `__cum - tokens` is no longer the preceding
    * cumulative and bins silently overshoot by whole tie groups. ROWS
    * gives every row a well-defined preceding sum under ANY total
    * order; when `order` alone isn't unique, pass `tiebreak` columns
    * that complete it (e.g. doc_id) so that order — and therefore the
    * bin assignment — is also deterministic. */
  def packBins(df: DataFrame, shard: Column, order: Column, tokens: Column,
      budget: Long, tiebreak: Column*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shard).orderBy(order +: tiebreak: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("__cum", sum(tokens).over(w))
      .withColumn("bin",
        floor((col("__cum") - tokens).cast("double") / budget).cast("long"))
      .drop("__cum")
  }

  /** Deterministic GLOBAL SHUFFLE with an explicit position — "shuffle
    * the corpus before training" as a reproducible operator: order every
    * row by hash(salt | key) and emit its 1-based global position. Same
    * inputs + salt ⇒ the same permutation on any cluster, any
    * partitioning, any rerun.
    *
    * Scale shape: a global row_number over a total order normally means
    * a single-partition window — a non-starter. Instead the classic
    * two-phase rank: rows bucket by their hash PREFIX (fixed fan-out
    * [[ShuffleBuckets]]), per-bucket counts (a tiny fan-out-sized
    * aggregate) turn into cumulative offsets with one fan-out-sized
    * window, and each row's position is its bucket's offset plus its
    * row_number WITHIN the bucket — a window partitioned by bucket, so
    * the heavy sort runs across [[ShuffleBuckets]] independent
    * partitions. Prefix-bucketing preserves the global hash order
    * (bucket = leading bits of the sort key), so the result equals the
    * single-window rank exactly — the oracle asserts that. */
  val ShuffleBuckets = 256

  /** @param prefixChars hex chars of the hash used as the bucket key —
    *   fan-out = 16^prefixChars (default 2 → 256). Widen for very large
    *   corpora so the per-bucket sorts stay executor-sized; capped at 7
    *   so the bucket id fits an Int (16⁷ ≈ 2.7×10⁸). */
  def globalShuffleRank(df: DataFrame, key: Column, salt: String,
      prefixChars: Int = 2): DataFrame = {
    require(prefixChars >= 1 && prefixChars <= 7,
      s"prefixChars must be in [1,7], got $prefixChars")
    val h = hashHex(key, salt)
    val bucket = conv(substring(h, 1, prefixChars), 16, 10).cast("int")
    val withBucket = df.withColumn("__h", h).withColumn("__b", bucket)
    // fan-out-sized aggregate: 16^prefixChars rows however large the corpus
    val counts = withBucket.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
    // single-partition window over ≤ 16^prefixChars rows — trivially
    // tiny BY CONSTRUCTION (the aggregate above bounds it), so one
    // partition is the correct plan; the constant-valued (but non-
    // foldable, so the optimizer keeps it) partition key states that
    // explicitly instead of tripping WindowExec's unbounded-input
    // warning — same execution, every row hashes to the same partition
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(coalesce(col("__b") * lit(0), lit(0)))
      .orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("__b"), col("__off"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("__h"), key)
    withBucket
      .join(broadcast(offsets), Seq("__b"))
      .withColumn("pos", col("__off") + row_number().over(wIn).cast("long"))
      .drop("__h", "__b", "__off")
  }

  /** Temperature-weighted source mixing (α = ½): each source's share of
    * the sampled corpus is ∝ √n_s instead of ∝ n_s — the standard
    * "temperature" rebalance that keeps big web crawls from drowning
    * small high-quality sources without the hard caps of a fixed weight
    * table ([[weightedMix]] is the explicit-weights alternative). The
    * per-source keep-rate is (budget · w_s)/(totW · n_s) with
    * w_s = ⌊√n_s⌋, so source s contributes ≈ budget · w_s/totW docs.
    *
    * Selection is INTEGER-EXACT end-to-end, which is what makes the gate
    * a full row-identical oracle: ⌊√n⌋ is exact for n < 2⁵⁰ (doubles
    * represent the integers and sqrt is correctly rounded, so the floor
    * cannot straddle), totW is an integer sum, and the keep test
    * compares the 8-hex-char md5 draw against ⌊budget·w·2³²/(totW·n)⌋ —
    * no float ever enters, so Spark and DuckDB agree on every row.
    * Overflow bound: budget · w_s < 2³¹ (budget ≤ ~10⁶ at w ≤ ~10³).
    *
    * Plan shape at 100 TB: the per-source table is S rows (one
    * aggregate), rides a broadcast join back onto the scan, and the
    * keep test is a scan-side codegen'd filter — no corpus shuffle.
    * For budgets beyond the integer bound, use the xxhash64 float
    * flavor ([[temperatureMixFast]]). */
  def temperatureMixSqrt(df: DataFrame, strata: Column, key: Column,
      budget: Long, salt: String): DataFrame = {
    // the integer threshold product is budget · w · 2³² with w = ⌊√n⌋;
    // past budget·w ≥ 2³¹ the long multiply would WRAP silently and
    // select garbage — the guard is IN-PLAN (w is data), raising with a
    // pointer at the float flavor instead of mis-sampling
    require(budget > 0, s"budget must be positive, got $budget")
    // budget < 2³¹ makes the guard's own multiply safe: w ≤ ⌊√n⌋ < 2²⁵
    // for any n < 2⁵⁰, so budget·w < 2⁵⁶ — the product below can never
    // wrap past 2⁶³ and silently bypass the ≥ 2³¹ test
    require(budget < (1L << 31),
      s"temperatureMixSqrt: budget $budget exceeds the integer-exact " +
        "bound 2^31; use temperatureMixFast")
    val wGuard = when(lit(budget) * col("__w") >= lit(1L << 31),
      raise_error(concat(lit(s"temperatureMixSqrt: budget $budget * weight "),
        col("__w"), lit(" exceeds the integer-exact bound 2^31; " +
          "use temperatureMixFast")))).otherwise(col("__w"))
    val counts = df.groupBy(strata.as("__stratum"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", floor(sqrt(col("__n"))).cast("long"))
      .withColumn("__w", wGuard)
    val dims = counts.crossJoin(
      counts.agg(sum(col("__w")).as("__totw")))
    df.join(broadcast(dims), strata === col("__stratum"))
      .withColumn("__thr",
        expr(s"($budget * __w * 4294967296) div (__totw * __n)"))
      .filter(col("__thr") >= lit(4294967296L) ||
        hashHex(key, salt) < format_string("%08x", col("__thr")))
      .drop("__stratum", "__n", "__w", "__totw", "__thr")
  }

  /** xxhash64 production flavor of [[temperatureMixSqrt]]: float rates,
    * no integer-magnitude bound — property-pinned in SamplingSpec since
    * DuckDB cannot reproduce xxhash64. */
  def temperatureMixFast(df: DataFrame, strata: Column, key: Column,
      budget: Long, salt: Long): DataFrame = {
    val counts = df.groupBy(strata.as("__stratum"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", floor(sqrt(col("__n"))).cast("long"))
    val dims = counts.crossJoin(
      counts.agg(sum(col("__w")).as("__totw")))
    df.join(broadcast(dims), strata === col("__stratum"))
      .withColumn("__rate",
        lit(budget.toDouble) * col("__w") / (col("__totw") * col("__n")))
      .filter(u01(key, salt) < col("__rate"))
      .drop("__stratum", "__n", "__w", "__totw", "__rate")
  }

  /** Balanced RANGE BUCKETS from a KLL sketch — "write sorted, evenly
    * sized output files" as an operator: one mergeable-sketch aggregate
    * over the column (the shuffle carries one small blob per task, like
    * every graft sketch), quantile boundaries at i/n read from the
    * sketch, and a scan-side codegen'd boundary chain assigns each row
    * its bucket. The boundaries are a TUNING-TIME bounded scalar
    * (n−1 doubles through the driver — the IVF-centroid pattern);
    * the per-row path never shuffles. This is how a 100 TB job gets
    * a balanced `repartitionByRange`-equivalent layout with ONE
    * lightweight pass instead of Spark's per-job range sampling, and
    * the sketch is storable/mergeable across ingests (day N+1 reuses
    * or merges day N's sketch — rebalancing without rescanning).
    *
    * Balance contract: KLL rank error ε (~1.3% at k=200) bounds each
    * bucket's share within 1/n ± 2ε of rows — the gate asserts the
    * measured envelope; exact evenness is NTILE's job (a global sort),
    * not a one-pass sketch's. */
  def rangeBucketBoundaries(df: DataFrame, value: Column, numBuckets: Int,
      k: Int = 200): Seq[Double] = {
    require(numBuckets >= 2, s"need at least 2 buckets, got $numBuckets")
    val sketch = df.agg(
      graft.functions.KllFunctions.kll_sketch(value, k).as("sk"))
    val qs = (1 until numBuckets).map(_.toDouble / numBuckets)
    // one multi-quantile extraction: the per-q UDF re-deserialized and
    // re-sorted the sketch per boundary, which at 2^bits−1 boundaries
    // per Z-order dimension dominated the whole layout pass
    val row = sketch.select(
      graft.functions.KllFunctions.kll_sketch_quantiles(col("sk"), qs))
      .head()
    require(!row.isNullAt(0),
      "rangeBucketBoundaries: no sketch — empty aggregation")
    val bounds = row.getSeq[Double](0)
    require(bounds.forall(b => !b.isNaN),
      "rangeBucketBoundaries: empty or all-null input — no quantiles to cut")
    bounds
  }

  /** Scan-side bucket assignment: bucket = #{boundaries ≤ value}, via
    * the native [[graft.functions.RankBucket]] binary search (no
    * shuffle, no lookup join, constant codegen size at any boundary
    * count — the comparison-chain formulation it replaces compiled a
    * fresh n-term class per boundary set). Emits int to keep the gate
    * oracle schema unchanged. */
  def withRangeBucket(df: DataFrame, value: Column,
      boundaries: Seq[Double]): DataFrame =
    df.withColumn("bucket",
      Layout.rankQuantize(value, boundaries).cast("int"))

  // --------------------------------------------------------- gate queries

  /** 20 sources × 4 weight tiers: drop-heavy 0.25, keep 1.0, upsample
    * 1.75 and 2.5 — all three regimes (down, keep, up) in one mix. */
  val MixWeights: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> ((i % 4) * 0.75 + 0.25)).toMap
  val MixSalt = "graft-mix-r6"

  def saWeightedMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    weightedMix(Tables.documents(s, dir).select($"doc_id", $"source"),
      $"source", MixWeights, $"doc_id", MixSalt)
  }

  val saWeightedMixSql: String = {
    val h = hashHexSql("doc_id", MixSalt)
    val baseCase = MixWeights.toSeq.sortBy(_._1).map { case (k, w) =>
      s"WHEN source = '$k' THEN ${math.floor(w).toInt}"
    }.mkString(" ")
    val thrCase = MixWeights.toSeq.sortBy(_._1).map { case (k, w) =>
      s"WHEN source = '$k' THEN '${thresholdHex(w - math.floor(w))}'"
    }.mkString(" ")
    s"""SELECT doc_id, source, CAST(unnest(generate_series(1, n)) AS INT) AS copy
       |FROM (SELECT doc_id, source,
       |  (CASE $baseCase ELSE 1 END)
       |    + (CASE WHEN $h < (CASE $thrCase ELSE '00000000' END)
       |       THEN 1 ELSE 0 END) AS n
       |  FROM documents) t""".stripMargin
  }

  val SampleN = 300
  val SampleSalt = "graft-sample-r6"

  def saSampleN(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sampleExactN(Tables.documents(s, dir).select($"doc_id", $"source"),
      $"doc_id", SampleN, SampleSalt)
  }

  val saSampleNSql: String =
    s"""SELECT doc_id, source FROM documents
       |ORDER BY ${hashHexSql("doc_id", SampleSalt)}, doc_id
       |LIMIT $SampleN""".stripMargin

  val StratumN = 15
  val StratumSalt = "graft-strat-r7"

  def saStratifiedN(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sampleExactNPerStratum(
      Tables.documents(s, dir).select($"doc_id", $"source"),
      $"source", $"doc_id", StratumN, StratumSalt)
  }

  val saStratifiedNSql: String =
    s"""SELECT doc_id, source FROM (
       |  SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY ${hashHexSql("doc_id", StratumSalt)}, doc_id) AS rn
       |  FROM documents) t WHERE rn <= $StratumN""".stripMargin

  val PackBudget = 512L

  def saPackBins(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"source",
      size(graft.functions.ShingleFunctions.tokens($"text")).cast("long")
        .as("n_tokens"))
    packBins(docs, $"source", $"doc_id", $"n_tokens", PackBudget)
  }

  val saPackBinsSql: String = {
    val toks = TextAnalysis.toksSql
    s"""SELECT doc_id, source, n_tokens,
       |  CAST(FLOOR((cum - n_tokens) / $PackBudget.0) AS BIGINT) AS bin
       |FROM (SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens,
       |  SUM(CAST(len($toks) AS BIGINT)) OVER (PARTITION BY source
       |    ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM documents) t""".stripMargin
  }

  val RangeBuckets = 16
  /** ABSOLUTE bucket-share tolerance for the gate envelope. A bucket's
    * share is the rank difference of two boundary quantiles, and KLL
    * bounds each boundary's rank error by ±ε ABSOLUTELY (independent of
    * the share), so the right contract is share ∈ 1/n ± 2ε — not a
    * relative band. Measured worst absolute deviations
    * (retired MeasureRangeBuckets tool, k=200, 16 buckets): 0.0105 / 0.0141 / 0.0306
    * at sf0.001/0.01/0.1 — inside the ±2ε ≈ ±0.033 that ε ≈ 1.65%
    * predicts for k=200; 0.045 leaves margin while still asserting
    * real balance (even share is 0.0625). */
  val RangeBucketTolAbs = 0.045

  def saRangeBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_extendedprice".cast("double").as("v"))
    val bounds = rangeBucketBoundaries(li, $"v", RangeBuckets)
    val counts = withRangeBucket(li, $"v", bounds)
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
    counts.agg(sum($"n").as("n_total"), count(lit(1)).as("__k"),
      max($"n").as("__max"), min($"n").as("__min"))
      .select($"n_total",
        lit(RangeBuckets).as("n_buckets"),
        ($"__k" === RangeBuckets).as("all_buckets_nonempty"),
        ($"__max".cast("double") <=
          lit(1.0 / RangeBuckets + RangeBucketTolAbs) * $"n_total")
          .as("max_share_ok"),
        ($"__min".cast("double") >=
          lit(1.0 / RangeBuckets - RangeBucketTolAbs) * $"n_total")
          .as("min_share_ok"))
  }

  val saRangeBucketsSql: String =
    s"""SELECT COUNT(*) AS n_total, CAST($RangeBuckets AS INT) AS n_buckets,
       |  TRUE AS all_buckets_nonempty, TRUE AS max_share_ok,
       |  TRUE AS min_share_ok
       |FROM lineitem""".stripMargin

  /** Deterministic train/val/test split: one uniform draw per row
    * assigns the split by threshold — disjoint and exhaustive BY
    * CONSTRUCTION (one draw, adjacent intervals), reproducible on any
    * cluster/partitioning/rerun, and stable under corpus growth (a
    * row's split never changes when other rows are added — the property
    * that keeps yesterday's eval docs out of tomorrow's training set).
    * Scan-side filter only; no shuffle at any corpus size. Fractions
    * are cut points: train = [0, f₁), val = [f₁, f₂), test = [f₂, 1). */
  /** Both cut points from ONE driver-side computation — the val
    * threshold is thresholdHex(trainFrac + valFrac), and any oracle MUST
    * use these same hex strings: recomputing thresholdHex(0.9) from a
    * fresh literal could land one ulp across a 32-bit integer boundary
    * from thresholdHex(0.8 + 0.1) and flap a row-identical comparison. */
  def splitCutHexes(trainFrac: Double, valFrac: Double): (String, String) =
    (thresholdHex(trainFrac), thresholdHex(trainFrac + valFrac))

  def splitAssign(key: Column, salt: String, trainFrac: Double,
      valFrac: Double): Column = {
    val (trainHex, valHex) = splitCutHexes(trainFrac, valFrac)
    val h = hashHex(key, salt)
    when(h < lit(trainHex), "train")
      .when(h < lit(valHex), "val")
      .otherwise("test")
  }

  val SplitSalt = "graft-split-r8"

  /** Full row-identical oracle: every (doc_id, split) assignment. */
  def saSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        splitAssign(col("doc_id"), SplitSalt, 0.8, 0.1).as("split"))

  val saSplitSql: String = {
    val h = hashHexSql("doc_id", SplitSalt)
    val (trainHex, valHex) = splitCutHexes(0.8, 0.1)
    s"""SELECT doc_id,
       |  CASE WHEN $h < '$trainHex' THEN 'train'
       |    WHEN $h < '$valHex' THEN 'val'
       |    ELSE 'test' END AS split
       |FROM documents""".stripMargin
  }

  /** Budget below every SF's corpus size so the gate exercises the real
    * hash-threshold branch, not the rate ≥ 1 keep-all clamp (driver
    * sources are uniform — the sqrt-FLATTENING semantics are pinned on a
    * 16:4:1-skewed corpus in SamplingSpec instead). */
  val TempBudget = 150L
  val TempSalt = "graft-temp-r8"

  /** Full row-identical oracle: the integer-exact selection means DuckDB
    * reproduces the exact (doc_id, source) set Spark keeps. */
  def saTemperatureMix(s: SparkSession, dir: String): DataFrame =
    temperatureMixSqrt(Tables.documents(s, dir), col("source"),
      col("doc_id"), TempBudget, TempSalt)
      .select(col("doc_id"), col("source"))

  val saTemperatureMixSql: String = {
    // CASTs keep the arithmetic in BIGINT: DuckDB widens the literal
    // product to HUGEINT, which its printf cannot %x-format
    val thr = s"CAST(($TempBudget * c.w * 4294967296) // (t.totw * c.n)" +
      " AS BIGINT)"
    s"""WITH c AS (SELECT source, COUNT(*) AS n,
       |    CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS w
       |  FROM documents GROUP BY source),
       |  t AS (SELECT SUM(w) AS totw FROM c)
       |SELECT d.doc_id, d.source
       |FROM documents d JOIN c ON d.source = c.source CROSS JOIN t
       |WHERE $thr >= 4294967296
       |   OR ${hashHexSql("d.doc_id", TempSalt)} < printf('%08x', $thr)"""
      .stripMargin
  }

  val ShuffleSalt = "graft-shuffle-r8"

  def saShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    globalShuffleRank(Tables.documents(s, dir).select($"doc_id", $"source"),
      $"doc_id", ShuffleSalt)
  }

  val saShuffleSql: String =
    s"""SELECT doc_id, source,
       |  ROW_NUMBER() OVER (ORDER BY ${hashHexSql("doc_id", ShuffleSalt)},
       |    doc_id) AS pos
       |FROM documents""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sa_range_buckets" -> saRangeBuckets,
    "sa_split" -> saSplit,
    "sa_temperature_mix" -> saTemperatureMix,
    "sa_shuffle" -> saShuffle,
    "sa_weighted_mix" -> saWeightedMix,
    "sa_sample_n" -> saSampleN,
    "sa_stratified_n" -> saStratifiedN,
    "sa_pack_bins" -> saPackBins,
  )

  val oracles: Map[String, String] = Map(
    "sa_range_buckets" -> saRangeBucketsSql,
    "sa_split" -> saSplitSql,
    "sa_temperature_mix" -> saTemperatureMixSql,
    "sa_shuffle" -> saShuffleSql,
    "sa_weighted_mix" -> saWeightedMixSql,
    "sa_sample_n" -> saSampleNSql,
    "sa_stratified_n" -> saStratifiedNSql,
    "sa_pack_bins" -> saPackBinsSql,
  )
}
