package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`, unit-normalized, dim 64).
  *
  * Ladder mirrors Dedup: brute-force cosine top-k as the exact baseline
  * (linear scan per query — right answer for small query sets and the
  * verification oracle), then sign-LSH bucketing and IVF cells as the
  * sublinear scale paths.
  *
  * Cosines are computed in double with sequential index-order folds
  * (`zip_with` + `aggregate`) — bit-reproducible across engines and
  * cluster layouts, entirely inside whole-stage codegen; no UDF, no
  * driver-side collect of vectors.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double, sequential — the native codegen'd VecDot
    * expression (see graft.functions.VectorExpressions for why not the
    * interpreted `aggregate(zip_with(...))` formulation). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.vec_dot(a, b)

  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_cosine(a, b)

  // ------------------------------------------------------- brute-force k-NN:
  // Q query vectors (broadcast) × linear scan of candidates, window rank.
  // At 100 TB this is the per-batch exact scorer you run AFTER candidate
  // generation; standalone it is exact k-NN for bounded Q.
  val NumQueries = 10
  val K = 5

  /** DataFrame-generic brute-force scorer (query set = vec_id <
    * numQueries): exact baseline for any embeddings-shaped input. */
  def knnBruteOn(emb: DataFrame, numQueries: Int = NumQueries,
      k: Int = K): DataFrame = {
    val queries = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  def ssKnnBrute(s: SparkSession, dir: String): DataFrame =
    knnBruteOn(Tables.embeddings(s, dir))

  val ssKnnBruteSql: String =
    s"""SELECT q_id, vec_id AS neighbor_id, rank, cosine FROM (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
       |      / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
       |         * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
       |      / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
       |         * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) DESC,
       |      e.vec_id ASC) AS INT) AS rank
       |  FROM (SELECT * FROM embeddings WHERE vec_id < $NumQueries) q
       |  JOIN embeddings e ON e.vec_id <> q.vec_id) t
       |WHERE rank <= $K""".stripMargin

  // --------------------------------------------- embedding near-dup pairs:
  // exact cosine over a bounded block (the verification tool); the full
  // corpus goes through the LSH bucket path below.
  val NearDupCap = 1500
  val NearDupThreshold = 0.45

  def ddEmbedCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).filter($"vec_id" < NearDupCap)
    val a = emb.select($"vec_id".as("vec_a"), $"embedding".as("emb_a"))
    val b = emb.select($"vec_id".as("vec_b"), $"embedding".as("emb_b"))
    a.join(b, $"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b", cosine($"emb_a", $"emb_b").as("cosine"))
      .filter($"cosine" >= NearDupThreshold)
  }

  val ddEmbedCosineSql: String =
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
       |    / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
       |       * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cosine
       |FROM (SELECT * FROM embeddings WHERE vec_id < $NearDupCap) a
       |JOIN (SELECT * FROM embeddings WHERE vec_id < $NearDupCap) b ON a.vec_id < b.vec_id
       |WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
       |    / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
       |       * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= $NearDupThreshold""".stripMargin

  // ------------------------------------------------------------ sign-LSH.
  // Hyperplane bits from deterministic Rademacher planes: plane p weight
  // for dim i = ±1 by parity of xxhash64(p:i). Bit = sign(Σ wᵢ·vᵢ).
  // 16 bands × 8 bits; near-dup candidates share any full band, then
  // exact cosine verify. Sub-linear: the scan computes signatures
  // narrowly; only bucket-mates join.
  val LshBands = 16
  val LshBits = 8

  /** Deterministic Rademacher (±1) plane weights, precomputed at plan
    * time with the same xxhash64 Catalyst evaluator the previous
    * expression-level formulation used — signatures are stable across
    * jobs while the per-row work is one codegen'd VecDot per plane. */
  private def rademacherPlane(plane: Int): Array[Double] =
    Array.tabulate(64) { i =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(s"$plane:$i")), 42L)
        .eval(null).asInstanceOf[Long]
      if ((h & 1L) == 1L) 1.0 else -1.0
    }

  /** One signed-projection bit per (band, bit) plane → array<long> of
    * band codes, each an LshBits-bit integer. Planes are unrolled at plan
    * time; each projection is one codegen'd dot against a literal plane. */
  def lshBands(vec: Column): Column =
    array((0 until LshBands).map { band =>
      (0 until LshBits).map { bit =>
        val plane = band * LshBits + bit
        val proj = dot(vec, typedLit(rademacherPlane(plane)))
        when(proj > 0, lit(1L << bit)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    }: _*)

  def annPairs(emb: DataFrame, threshold: Double): DataFrame = {
    // deliberately NOT cached: the verify join-back below reads only
    // (vec_id, embedding), so Catalyst prunes the 128-dot `bands`
    // projection out of that branch entirely — a cache would force
    // materializing it (and pin the full signature table in memory at
    // corpus scale) to save nothing
    val sigs = emb.select(col("vec_id"), col("embedding"),
      lshBands(col("embedding")).as("bands"))
    val buckets = sigs.select(col("vec_id"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "code")
    val cands = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.code") === col("y.code") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cands
      .join(sigs.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
      .join(sigs.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"), cosine(col("emb_a"), col("emb_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Full-corpus ANN near-dup pairs. Deterministic despite being
    * "approximate": the planes are fixed plan-time literals and the
    * verify stage is exact cosine, so the output is a fixed set —
    * oracle-able by replaying the SAME plane literals in DuckDB (the
    * sequential double dot product is bit-exact across both engines,
    * and sign tests/band-code equality are integer-exact). */
  def ssAnnLsh(s: SparkSession, dir: String): DataFrame =
    annPairs(Tables.embeddings(s, dir), NearDupThreshold)

  /** DuckDB twin of [[ssAnnLsh]]: the 128 Rademacher planes inlined as
    * literal arrays, band codes packed with the same bit weights, a
    * candidate = any band-code match, then the exact-cosine filter. */
  val ssAnnLshSql: String = {
    def planeLit(p: Array[Double]): String =
      p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    val bandExprs = (0 until LshBands).map { band =>
      (0 until LshBits).map { bit =>
        val plane = planeLit(rademacherPlane(band * LshBits + bit))
        s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $plane::DOUBLE[]) > 0 THEN ${1L << bit} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    }.mkString("[", ", ", "]")
    val cos = """list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"""
      .replaceAll("\\s+", " ")
    s"""WITH sigs AS (SELECT vec_id, embedding, $bandExprs AS bands FROM embeddings)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, $cos AS cosine
       |FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id
       |WHERE len(list_filter(range($LshBands), i -> a.bands[i+1] = b.bands[i+1])) > 0
       |  AND $cos >= $NearDupThreshold""".stripMargin
  }

  // ---------------------------------------------------------------- IVF.
  // Inverted-file k-NN with TRAINED coarse cells: seeded k-means over
  // the embedding column, then each query probes only the `IvfProbe`
  // closest cells by centroid cosine and exact-scores those cells —
  // the classic inverted-file trade of recall for a ~cells/nprobe scan
  // reduction.
  val IvfCells = 16
  val IvfRounds = 5
  /** Probes/cells is tuned to the corpus: the synthetic embeddings are
    * near-uniform on the sphere (no real cluster structure), so ≥0.9
    * recall across every gate corpus needs 12/16 cells probed with the
    * size-targeted sample-trained centroids (measured at probe
    * 8/10/12/14: sf0.001 0.90/0.94/0.96/0.96, sf0.01
    * 0.84/0.90/0.92/0.96, sf0.1 0.80/0.86/0.94/0.98). On a genuinely
    * clustered corpus the same pipeline runs at 2-4 probes; the
    * scan-reduction ratio is data-, not architecture-, limited. */
  val IvfProbe = 12

  /** Label-based cell centroids (mean embedding per `label`) — kept as
    * the generic "centroid of a partition column" building block (e.g.
    * for pre-labeled corpora); the k-NN path below trains its own. */
  def centroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("col")).as("v"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
      .select(col("label"), transform(col("pv"), x => x.getField("v")).as("centroid"))

  /** Nearest-centroid id by dot product (vectors are unit-normalized, so
    * dot ranks like cosine for the ASSIGNMENT step where only the query
    * side is unit). Centroids are a plan-time literal: one codegen'd
    * [[graft.functions.NearestCentroid]] call runs the K dot products,
    * ties to the higher cell id (the order of a `greatest` over
    * (score, cell) structs, in a few bytes of generated code) — no
    * join, no shuffle, scan-parallel. */
  def assignCell(vec: Column, cents: Seq[Array[Double]]): Column =
    graft.functions.VectorFunctions.nearest_centroid(vec,
      typedLit(cents.map(_.toSeq)))

  /** Deterministic hash-sample for centroid training: at corpus scale
    * the Lloyd rounds must not scan 100 TB five times — k-means cell
    * means converge on a sample (the cells only need to be
    * REPRESENTATIVE; the assignment step still scans everything once).
    *
    * The sample is SIZE-targeted, not fraction-targeted: a fixed mod-4
    * draw left ~8 vectors per cell on the gate corpora and measurably
    * degraded centroid quality (probe-10 recall 0.94 → 0.76 at sf0.01).
    * Keeping ≥ [[TrainTargetRows]] (32 per cell) makes the training cost
    * O(1) in corpus size while the means stay stable; the xxhash64 draw
    * is deterministic across runs, engines, and cluster layouts (q26's
    * sampling argument). Costs one count() scan, amortized by the
    * centroid cache. */
  val TrainTargetRows: Long = 32L * IvfCells
  def trainSample(emb: DataFrame): DataFrame = {
    val mod = math.max(1L, emb.count() / TrainTargetRows)
    emb.filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
  }

  /** Centroids are a pure function of (table data, k, rounds) — the draw,
    * the sample, and Lloyd are all deterministic — so repeated queries in
    * one process reuse them instead of re-running the training scans.
    * The key carries a FINGERPRINT of the embeddings files (name, size,
    * mtime), not just the dir string: a rewritten table in the same JVM
    * (regenerated fixtures, overwritten output) retrains instead of
    * serving stale centroids, and the stale entry is evicted (the cache
    * stays bounded by live table versions). */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Int, Int), IndexedSeq[Array[Double]]]()

  private[operators] def dataFingerprint(s: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(path).foldLeft(0L) { (acc, st) =>
      ((acc * 31 + st.getPath.getName.hashCode) * 31 + st.getLen) * 31 +
        st.getModificationTime
    }
  }

  def cachedCentroids(emb: DataFrame, dir: String, k: Int = IvfCells,
      rounds: Int = IvfRounds): IndexedSeq[Array[Double]] = {
    val fp = dataFingerprint(emb.sparkSession, dir)
    centroidCache.keySet().removeIf(key =>
      key._1 == dir && key._3 == k && key._4 == rounds && key._2 != fp)
    centroidCache.computeIfAbsent((dir, fp, k, rounds),
      _ => trainCentroids(trainSample(emb), k, rounds))
  }

  /** Seeded Lloyd iterations as DataFrame aggregations. Init = the K
    * vectors with the smallest xxhash64(vec_id) — a deterministic
    * pseudo-random draw, stable across runs, partitionings, and cluster
    * layouts. Each round assigns every vector to its nearest centroid
    * (codegen'd literal dots, no shuffle) and recomputes cell means in
    * ONE aggregation; only the K×dim centroid matrix ever reaches the
    * driver (it must: next round's assignment embeds it as literals),
    * never the data. Empty cells keep their previous centroid. */
  def trainCentroids(emb: DataFrame, k: Int = IvfCells,
      rounds: Int = IvfRounds): IndexedSeq[Array[Double]] = {
    var cents: IndexedSeq[Array[Double]] = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toIndexedSeq
    for (_ <- 0 until rounds) {
      val means = emb
        .select(assignCell(col("embedding"), cents).as("cell"),
          posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col")).as("v"))
        .collect()
        .groupBy(_.getAs[Int]("cell"))
        .map { case (c, rows) =>
          val dim = rows.map(_.getAs[Int]("pos")).max + 1
          val arr = new Array[Double](dim)
          rows.foreach(r => arr(r.getAs[Int]("pos")) = r.getAs[Double]("v"))
          c -> arr
        }
      cents = (0 until k).map(c => means.getOrElse(c, cents(c)))
    }
    cents
  }

  /** Gate form of IVF k-NN: the RECALL ENVELOPE vs the exact brute-force
    * scorer, as oracle-checkable values — the neighbor lists themselves
    * depend on float k-means means no SQL engine reproduces, but "IVF at
    * the shipped probe count recovers ≥ 90% of the true top-k" is exactly
    * the accuracy contract, and the oracle can assert it (exact columns +
    * a TRUE envelope bit). Neighbor-level output stays available via
    * [[knnIvf]]; ss_knn_brute gate-checks the exact scorer. */
  def ssKnnIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ivf = knnIvf(s, dir, IvfProbe)
    val brute = ssKnnBrute(s, dir).select($"q_id", $"neighbor_id")
    val hits = ivf.join(brute, Seq("q_id", "neighbor_id"), "left_semi")
    hits.agg(count(lit(1)).as("hits"))
      .select(
        lit(NumQueries).cast("long").as("n_queries"),
        lit(K).cast("long").as("k"),
        ($"hits".cast("double") / (NumQueries * K) >= 0.9).as("recall_ok"))
  }

  val ssKnnIvfSql: String =
    s"SELECT CAST($NumQueries AS BIGINT) AS n_queries, CAST($K AS BIGINT) AS k, TRUE AS recall_ok"

  /** DataFrame-generic IVF scorer over given centroids. */
  def knnIvfOn(emb: DataFrame, cents: IndexedSeq[Array[Double]],
      nprobe: Int, numQueries: Int = NumQueries, k: Int = K): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val centsDf = cents.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cell", "centroid")
    val assigned = emb.withColumn("cell", assignCell(col("embedding"), cents))
    val queries = assigned.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // per query: the nprobe closest cells by centroid cosine (the
    // centroid side is not unit-norm, so rank by full cosine here)
    val wc = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cell").asc)
    val probed = queries.join(broadcast(centsDf))
      .select(col("q_id"), col("q_vec"), col("cell"),
        cosine(col("q_vec"), col("centroid")).as("ccos"))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("cell"))
    // exact scoring restricted to probed cells
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("q_vec"), col("embedding")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  def knnIvf(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    knnIvfOn(emb, cachedCentroids(emb, dir), nprobe)
  }

  // --------------------------------------- corpus-wide approximate k-NN JOIN.
  // EVERY vector is a query (the "nearest neighbors for every document"
  // pipeline step — cluster-and-dedup, link-prediction features,
  // retrieval eval), so the brute broadcast of bounded-Q serving does
  // not apply: all-pairs is O(n²) and dead at corpus scale. The IVF
  // decomposition makes the join O(n · nprobe · cell): cell assignment
  // and per-vector probe ranking are SCAN-SIDE codegen'd expressions
  // (K centroid dots + one bounded array_sort per row — no shuffle, no
  // iteration), then ONE hash join on the cell id restricts exact
  // scoring to probed-cell members, and WindowGroupLimit keeps top-k
  // per query. Two shuffles total (cell join, per-query window) — never
  // a cartesian.

  /** The `nprobe` nearest cells per vector by centroid cosine
    * (descending, ties to the lower cell id — the [[knnIvfOn]] probe
    * order), as a scan-side array expression. */
  def probeCells(vec: Column, cents: Seq[Array[Double]],
      nprobe: Int): Column = {
    val scored = array(cents.zipWithIndex.map { case (c, i) =>
      struct((-cosine(vec, typedLit(c))).as("d"), lit(i).as("c"))
    }: _*)
    transform(slice(array_sort(scored), 1, nprobe), x => x.getField("c"))
  }

  /** Candidate pairs of the k-NN join: each vector against the members
    * of its `nprobe` probed cells (self excluded). Exposed so the cost
    * contract — |candidates| = Σ_q |probed cells of q| − own-cell hits,
    * NEVER n² — is spec-assertable.
    *
    * `salts > 1` defuses HOT CELLS: IVF cells on a clustered corpus are
    * not constant-sized, and a plain cell-keyed join concentrates a hot
    * cell's candidates in one task. Salting splits each cell's scan
    * side into `salts` deterministic shards (xxhash64 of vec_id — the
    * stable-key discipline of [[Scale.saltOf]]) and replicates the
    * probe side across them: the CANDIDATE SET is exactly the
    * unsalted one (each (q, x) pair meets at precisely one salt), but
    * no task holds more than ~1/salts of a hot cell. The logical plan
    * stays a plain equi-join, so AQE's skew-join splitting composes on
    * top at runtime. */
  private[operators] def knnJoinCandidates(emb: DataFrame,
      cents: IndexedSeq[Array[Double]], nprobe: Int,
      salts: Int = 1): DataFrame = {
    // the per-row work here (K centroid dots for assignment, K dots +
    // an array_sort for probe ranking) is decode-class: spread a
    // single-file corpus across the cluster before paying it
    val embS = Spread(emb)
    saltedCellJoin(
      embS.select(col("vec_id"), col("embedding"),
        assignCell(col("embedding"), cents).as("cell")),
      embS.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec"),
        explode(probeCells(col("embedding"), cents, nprobe)).as("cell")),
      salts)
  }

  /** The salted probe-side × scan-side cell join shared by the exact
    * and PQ joins: scan rows shard by stable vec_id hash, probe rows
    * replicate across the shards; each (q, x) pair meets at exactly one
    * salt. */
  private def saltedCellJoin(assigned0: DataFrame, queries0: DataFrame,
      salts: Int): DataFrame = {
    val assigned =
      if (salts <= 1) assigned0.withColumn("__salt", lit(0))
      else assigned0.withColumn("__salt",
        Scale.saltOf(Seq(col("vec_id")), salts).cast("int"))
    val queries = queries0.withColumn("__salt",
      if (salts <= 1) lit(0)
      else explode(array((0 until salts).map(lit): _*)))
    queries.join(assigned, Seq("cell", "__salt"))
      .filter(col("vec_id") =!= col("q_id"))
      .drop("__salt")
  }

  /** Approximate k-NN JOIN over given centroids: top-k per vector from
    * its probed cells. */
  def knnJoinOn(emb: DataFrame, cents: IndexedSeq[Array[Double]],
      nprobe: Int, k: Int = K): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    knnJoinCandidates(emb, cents, nprobe)
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("cosine"))
  }

  /** Production form: the join itself, cached centroids. */
  def knnJoin(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    knnJoinOn(emb, cachedCentroids(emb, dir), IvfProbe)
  }

  // ------------------------------------------- IVF+PQ hybrid k-NN JOIN.
  // The 10⁹-vector rung of the corpus-wide join: the exact join scores
  // full-precision cosines against every probed-cell member, so its
  // shuffle carries the raw vectors (256 B each at dim 64 — 256 GB per
  // 10⁹ rows, per probe). Here the scan side carries PQ CODES (M=8
  // small ints ≈ 5-8 B) instead: candidates are ranked CELL-LOCALLY by
  // asymmetric distance (ADC — the query's exact sub-vectors against
  // the codebook entry each code names, all plan-literal arithmetic,
  // no lookup-table join), a per-query shortlist survives, and ONLY the
  // shortlist joins back to full vectors for the exact rerank. Shuffle
  // bytes drop ~30× on the candidate path; the exact scorer runs on
  // n·shortlist rows instead of n·nprobe·cell.

  /** ADC score of a coded vector against a full-precision query:
    * Σ_m dot(query's m-th slice, books(m)(code_m)) — the codebook
    * entries ride as plan literals, the code picks one with a single
    * element_at. Codegen-friendly: M literal-array dots, no HOFs. */
  def adcScore(qVec: Column, codes: Column,
      books: IndexedSeq[IndexedSeq[Array[Double]]]): Column = {
    val sub = PqDim / PqM
    (0 until PqM).map { m =>
      dot(slice(qVec, m * sub + 1, sub),
        element_at(typedLit(books(m).map(_.toSeq)), codes.getItem(m) + 1))
    }.reduce(_ + _)
  }

  /** Shortlist size of the PQ join's ADC stage (per query, per corpus
    * vector side — the rows that reach the exact rerank). */
  val PqJoinShortlist = 30

  /** IVF+PQ k-NN join: cell-local ADC over (possibly stored) codes,
    * exact rerank on the per-query shortlist. Accepts a pre-encoded
    * `(vec_id, cell, codes)` frame with PACKED codes
    * ([[pqEncodePacked]] — one BIGINT) — the stored-index path, where
    * the scan never touches raw vectors — or derives packed codes
    * scan-side. */
  def knnJoinPqOn(emb: DataFrame, cents: IndexedSeq[Array[Double]],
      books: IndexedSeq[IndexedSeq[Array[Double]]], nprobe: Int,
      k: Int = K, shortlist: Int = PqJoinShortlist, salts: Int = 1,
      coded: Option[DataFrame] = None,
      sampleQ: Option[Int] = None, residual: Boolean = false): DataFrame = {
    // scan-side encode and probe ranking are decode-class per-row work:
    // spread a single-file corpus before paying them (stored codes keep
    // their own file partitioning)
    val embS = Spread(emb)
    val assigned = coded.getOrElse(embS.select(col("vec_id"),
      assignCell(col("embedding"), cents).as("cell"),
      pqEncodePacked(
        if (residual) residualCol(col("embedding"), cents)
        else col("embedding"), books).as("codes")))
    val qSide = sampleQ.map(n => embS.filter(col("vec_id") < n))
      .getOrElse(embS)
    val queries = qSide.select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"),
      explode(probeCells(col("embedding"), cents, nprobe)).as("cell"))
    val cands = saltedCellJoin(assigned, queries, salts)
    val ws = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id").asc)
    // ADC consumes q_vec AT the cell join; the candidate rows that
    // re-shuffle into the per-query window carry only
    // (q_id, vec_id, adc) — 24 B, vector-free. The query vector
    // rejoins at the SHORTLIST-sized rerank, not per candidate.
    // Under RESIDUAL (IVFADC) codes, dot(q, v) ≈ dot(q, centroid) +
    // dot(q, residual-reconstruction): the centroid term restores
    // cross-cell comparability — still all scan-side literals.
    val adcRaw = adcScorePacked(col("q_vec"), col("codes"), books)
    val adcFull =
      if (residual) adcRaw + dot(col("q_vec"),
        element_at(typedLit(cents.map(_.toSeq)), col("cell") + 1))
      else adcRaw
    val short = cands
      .withColumn("adc", adcFull)
      .select(col("q_id"), col("vec_id"), col("adc"))
      .withColumn("__r", row_number().over(ws))
      .filter(col("__r") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    // exact rerank: shortlist-sized joins back to full vectors on
    // BOTH sides
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    short.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(qSide.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec")), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("cosine"))
  }

  /** PREDICATE-PUSHED (filtered) k-NN join — "nearest neighbors WHERE
    * lang='en' AND license='permissive'", the common training-data
    * retrieval shape. Post-filtering a top-k breaks the recall
    * contract when the filter is selective (most of the k die and the
    * survivors are not the filtered corpus' true top-k); here the
    * predicate filters the CANDIDATE (corpus) side BEFORE cell-local
    * ADC ranking, so the shortlist is drawn from qualifying vectors
    * only and every emitted neighbor both qualifies and ranks against
    * the full qualifying population.
    *
    * Selectivity-aware probe widening keeps the envelope honest: a
    * filter that passes fraction p of the corpus thins every IVF cell
    * by ~p, so the probe set widens to nprobe/p (capped at all cells —
    * at which point the join degrades gracefully into an ADC scan of
    * the qualifying set, which is exactly the right plan when p is
    * tiny). One delta-sized aggregate measures p; everything else is
    * the standard codes-only candidate path + shortlist-sized exact
    * rerank. 100 TB shape: the corpus side is `filter → encode → ONE
    * cell hash join`, so the filter prunes at the scan (pushdown) and
    * the shuffle carries only qualifying codes. */
  def knnJoinPqFilteredOn(emb: DataFrame, pred: Column,
      cents: IndexedSeq[Array[Double]],
      books: IndexedSeq[IndexedSeq[Array[Double]]], nprobe: Int,
      k: Int = K, shortlist: Int = PqJoinShortlist,
      salts: Int = 1, coded: Option[DataFrame] = None): DataFrame = {
    val cnt = emb.agg(count(lit(1)).as("n"),
      count(when(pred, 1)).as("pass")).head()
    val (total, pass) = (cnt.getLong(0), cnt.getLong(1))
    require(pass > 0L,
      "knnJoinPqFilteredOn: no corpus vector passes the predicate")
    val p = pass.toDouble / total
    val widened = math.min(cents.size, math.ceil(nprobe / p).toInt)
    val embS = Spread(emb)
    val corpus = embS.filter(pred)
    // stored (lakehouse-resident) codes: the predicate lives on the
    // embeddings side, so the code table's candidate rows semi-join
    // the qualifying ids BEFORE the cell join — still vector-free, and
    // the ADC shortlist is drawn from qualifying vectors only
    val assigned = coded match {
      case Some(c) => c.join(corpus.select(col("vec_id")),
        Seq("vec_id"), "left_semi")
      case None => corpus.select(col("vec_id"),
        assignCell(col("embedding"), cents).as("cell"),
        pqEncodePacked(col("embedding"), books).as("codes"))
    }
    val queries = embS.select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"),
      explode(probeCells(col("embedding"), cents, widened)).as("cell"))
    val cands = saltedCellJoin(assigned, queries, salts)
    val ws = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id").asc)
    val short = cands
      .withColumn("adc", adcScorePacked(col("q_vec"), col("codes"), books))
      .select(col("q_id"), col("vec_id"), col("adc"))
      .withColumn("__r", row_number().over(ws))
      .filter(col("__r") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    short.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(emb.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec")), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("cosine"))
  }

  /** Gate: FILTERED ANN with an honest envelope. Predicate
    * `label = 7 AND vec_id % 2 = 0` passes ~5% of the corpus; every
    * query must receive EXACTLY min(k, #qualifying-excl-self)
    * neighbors, every neighbor must qualify, and sample recall vs a
    * brute-force top-k over the FILTERED corpus must reach 0.9 — the
    * contract post-filtering cannot meet at this selectivity. */
  def ssKnnJoinFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val pred = col("label") === 7 && pmod(col("vec_id"), lit(2)) === 0
    val cents = cachedCentroids(emb, dir)
    val books = cachedCodebooks(emb, dir)
    val nn = knnJoinPqFilteredOn(emb, pred, cents, books, IvfProbe, K,
      shortlist = math.max(tunedJoinShortlist(emb, dir), 4 * K))
    nn.persist()
    try {
      val n = emb.count()
      val nQual = emb.filter(pred).count()
      // per-query expectation: min(k, qualifying excluding self)
      val per = nn.groupBy($"q_id").agg(count(lit(1)).as("c"))
      val got = emb.select($"vec_id".as("q_id"), pred.as("__q"))
        .join(per, Seq("q_id"), "left")
        .select($"q_id",
          coalesce($"c", lit(0L)).as("c"),
          least(lit(K.toLong),
            lit(nQual) - when($"__q", 1L).otherwise(0L)).as("want"))
      val fullCoverage =
        got.filter($"c" =!= $"want").limit(1).count() == 0L
      // every neighbor qualifies
      val allQualify = nn
        .join(emb.filter(pred).select($"vec_id".as("neighbor_id")),
          Seq("neighbor_id"), "left_anti").limit(1).count() == 0L
      // sample recall vs brute-force over the FILTERED corpus; truth
      // re-ranks with the same per-query min(k, avail) contract
      val corpus = emb.filter(pred)
      val queries = emb.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
      val wb = Window.partitionBy($"q_id")
        .orderBy($"cosine".desc, $"vec_id".asc)
      val truth = corpus.join(broadcast(queries),
          col("vec_id") =!= col("q_id"))
        .select($"q_id", $"vec_id",
          cosine($"q_vec", $"embedding").as("cosine"))
        .withColumn("rank", row_number().over(wb))
        .filter($"rank" <= K)
        .select($"q_id", $"vec_id".as("neighbor_id"))
      val totalTruth = truth.count()
      val hits = nn.filter($"q_id" < NumQueries)
        .join(truth, Seq("q_id", "neighbor_id"), "left_semi").count()
      Seq((n, nQual, fullCoverage, allQualify,
        hits.toDouble >= 0.9 * totalTruth))
        .toDF("n_vectors", "n_qualifying", "full_coverage", "all_qualify",
          "recall_ok")
    } finally { nn.unpersist(); () }
  }

  val ssKnnJoinFilteredSql: String =
    """SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)
      |    AS n_vectors,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
      |   WHERE label = 7 AND vec_id % 2 = 0) AS n_qualifying,
      |  TRUE AS full_coverage, TRUE AS all_qualify,
      |  TRUE AS recall_ok""".stripMargin

  /** Gate: FILTERED ANN over LAKEHOUSE-RESIDENT codes — the filtered
    * join's candidate side is the CoW code table's DV-aware snapshot
    * (built incrementally, one retraction landed as a deletion
    * vector) semi-joined with the qualifying ids BEFORE cell-local
    * ADC. Retracted vectors are provably absent, coverage is exactly
    * min(k, qualifying-excl-self) per LIVE query, every neighbor
    * qualifies, and sample recall holds vs brute-force over the
    * live-and-qualifying corpus. */
  def ssKnnJoinFilteredCow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = cachedCentroids(emb, dir)
    val books = cachedCodebooks(emb, dir)
    val table = s"${System.getProperty("java.io.tmpdir")}/graft_cow_codes/" +
      java.util.UUID.randomUUID().toString.take(8)
    CowTable.init(pqCodesFrame(emb.filter($"vec_id" % 2 === 0), cents,
      books), table)
    CowTable.mergeInto(s, table,
      pqCodesFrame(emb.filter($"vec_id" % 2 === 1), cents, books),
      Seq("vec_id"))
    CowTable.deleteWhere(s, table, $"vec_id" % 17 === 3)
    val live = emb.filter($"vec_id" % 17 =!= 3)
    val pred = col("label") === 7
    val coded = readCowPqCodes(s, table, books)
    val nn = knnJoinPqFilteredOn(live, pred, cents, books, IvfProbe, K,
      shortlist = math.max(tunedJoinShortlist(emb, dir), 4 * K),
      coded = Some(coded))
    nn.persist()
    try {
      val n = live.count()
      val nQual = live.filter(pred).count()
      val per = nn.groupBy($"q_id").agg(count(lit(1)).as("c"))
      val got = live.select($"vec_id".as("q_id"), pred.as("__q"))
        .join(per, Seq("q_id"), "left")
        .select($"q_id", coalesce($"c", lit(0L)).as("c"),
          least(lit(K.toLong),
            lit(nQual) - when($"__q", 1L).otherwise(0L)).as("want"))
      val fullCoverage =
        got.filter($"c" =!= $"want").limit(1).count() == 0L
      val allQualify = nn
        .join(live.filter(pred).select($"vec_id".as("neighbor_id")),
          Seq("neighbor_id"), "left_anti").limit(1).count() == 0L
      val noRetracted =
        nn.filter($"neighbor_id" % 17 === 3).limit(1).count() == 0L
      val corpus = live.filter(pred)
      val queries = live.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
      val wb = Window.partitionBy($"q_id")
        .orderBy($"cosine".desc, $"vec_id".asc)
      val truth = corpus.join(broadcast(queries),
          col("vec_id") =!= col("q_id"))
        .select($"q_id", $"vec_id",
          cosine($"q_vec", $"embedding").as("cosine"))
        .withColumn("rank", row_number().over(wb))
        .filter($"rank" <= K)
        .select($"q_id", $"vec_id".as("neighbor_id"))
      val totalTruth = truth.count()
      val hits = nn.filter($"q_id" < NumQueries)
        .join(truth, Seq("q_id", "neighbor_id"), "left_semi").count()
      Seq((n, nQual, fullCoverage, allQualify, noRetracted,
        hits.toDouble >= 0.9 * totalTruth))
        .toDF("n_vectors", "n_qualifying", "full_coverage",
          "all_qualify", "no_retracted", "recall_ok")
    } finally { nn.unpersist(); () }
  }

  val ssKnnJoinFilteredCowSql: String =
    """SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
      |   WHERE vec_id % 17 <> 3) AS n_vectors,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
      |   WHERE vec_id % 17 <> 3 AND label = 7) AS n_qualifying,
      |  TRUE AS full_coverage, TRUE AS all_qualify,
      |  TRUE AS no_retracted, TRUE AS recall_ok""".stripMargin

  /** Tuning-time shortlist search for the PQ JOIN: the smallest
    * shortlist whose measured sample recall vs the EXACT join (same
    * probed cells — isolates the ADC loss from the probe loss, which
    * ss_knn_join already gates) reaches `target`. Recall is monotone in
    * the shortlist, so binary search; a handful of driver-coordinated
    * jobs, run once per corpus. On a clustered corpus this lands near
    * k; the near-uniform synthetic sphere (PQ's adversarial case, same
    * property the serving-side tune documents) needs a deep list. */
  def chooseJoinShortlist(emb: DataFrame, cents: IndexedSeq[Array[Double]],
      books: IndexedSeq[IndexedSeq[Array[Double]]], target: Double = 0.9,
      numQueries: Int = NumQueries, cap: Int = 512,
      residual: Boolean = false): Int = {
    // truth = the exact JOIN (self-excluded, same probed cells)
    // restricted to the sample queries
    val truth = knnJoinOn(emb, cents, IvfProbe)
      .filter(col("q_id") < numQueries)
      .select(col("q_id"), col("neighbor_id")).cache()
    val total = truth.count()
    def recallAt(sl: Int): Double = {
      val hits = knnJoinPqOn(emb, cents, books, IvfProbe, shortlist = sl,
        sampleQ = Some(numQueries), residual = residual)
        .select(col("q_id"), col("neighbor_id"))
        .join(truth, Seq("q_id", "neighbor_id"), "left_semi").count()
      hits.toDouble / total
    }
    var (lo, hi) = (K, cap)
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (recallAt(mid) >= target) hi = mid else lo = mid + 1
    }
    truth.unpersist()
    lo
  }

  private val joinShortlistCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Integer]()

  /** Cached [[chooseJoinShortlist]] for a stored corpus, fingerprint-
    * keyed like the codebooks. */
  def tunedJoinShortlist(emb: DataFrame, dir: String): Int = {
    val fp = dataFingerprint(emb.sparkSession, dir)
    joinShortlistCache.keySet().removeIf(key => key._1 == dir && key._2 != fp)
    joinShortlistCache.computeIfAbsent((dir, fp), _ =>
      chooseJoinShortlist(emb, cachedCentroids(emb, dir),
        cachedCodebooks(emb, dir)))
  }

  /** Production form: cached centroids + codebooks, scan-side codes,
    * tuning-time measured shortlist. */
  def knnJoinPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    knnJoinPqOn(emb, cachedCentroids(emb, dir), cachedCodebooks(emb, dir),
      IvfProbe, shortlist = tunedJoinShortlist(emb, dir))
  }

  /** Gate: the IVF+PQ join's envelope — full coverage (every vector
    * exactly k neighbors) and, on the bounded query sample, ≥0.8 of the
    * EXACT join's results recovered at the tuned-at-0.9 shortlist (the
    * ss_knn_pq recall discipline applied to the join; the probe-side
    * loss is ss_knn_join's envelope, not repeated here). */
  def ssKnnJoinPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = cachedCentroids(emb, dir)
    val sl = tunedJoinShortlist(emb, dir)
    val nn = knnJoinPqOn(emb, cents, cachedCodebooks(emb, dir), IvfProbe,
      shortlist = sl)
    nn.persist()
    val n = emb.count()
    val cov = nn.groupBy($"q_id").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("nq"), min($"c").as("mn"), max($"c").as("mx"))
      .head()
    val fullCoverage = cov.getLong(0) == n &&
      cov.getLong(1) == K && cov.getLong(2) == K
    val exact = knnJoinOn(emb, cents, IvfProbe)
      .filter($"q_id" < NumQueries).select($"q_id", $"neighbor_id")
    val hits = nn.filter($"q_id" < NumQueries)
      .join(exact, Seq("q_id", "neighbor_id"), "left_semi").count()
    nn.unpersist()
    Seq((n, fullCoverage, NumQueries.toLong, K.toLong,
      hits.toDouble / (NumQueries * K) >= PqRecallFloor))
      .toDF("n_vectors", "full_coverage", "n_queries", "k", "recall_ok")
  }

  val ssKnnJoinPqSql: String =
    s"""SELECT (SELECT COUNT(*) FROM embeddings) AS n_vectors,
       |  TRUE AS full_coverage, CAST($NumQueries AS BIGINT) AS n_queries,
       |  CAST($K AS BIGINT) AS k, TRUE AS recall_ok""".stripMargin

  // --------------------- PQ-join economics: MEASURED, not asserted.

  /** Physical-plan walk through AQE wrappers (adaptive root, query
    * stages, reused exchanges) — pre-order, topmost first. */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(planNodes)
  }

  /** Execute `df`'s OWN physical plan (so its metrics populate — an
    * action like `count()` builds a separate aggregate plan and leaves
    * this one untouched) and return the row count. */
  private[graft] def executeForMetrics(df: DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** MEASURED bytes the CORPUS side of the first cell-keyed join moved
    * — the `dataSize` metric of the exchange (shuffle or broadcast)
    * feeding the join child whose output carries `scanCol`. The frame
    * must already have EXECUTED through [[executeForMetrics]] (metrics
    * are runtime values on the executed plan instance). This is the
    * number the PQ join's "codes, not vectors" claim is about. */
  private[graft] def cellJoinScanBytes(df: DataFrame,
      scanCol: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    def cellKeyed(keys: Seq[Expression]) =
      keys.exists(_.references.exists(_.name == "cell"))
    val nodes = planNodes(df.queryExecution.executedPlan)
    val sides: Seq[SparkPlan] = nodes.collectFirst {
      case j: SortMergeJoinExec if cellKeyed(j.leftKeys) =>
        Seq(j.left, j.right)
      case j: ShuffledHashJoinExec if cellKeyed(j.leftKeys) =>
        Seq(j.left, j.right)
      case j: BroadcastHashJoinExec if cellKeyed(j.leftKeys) =>
        Seq(j.left, j.right)
    }.getOrElse(throw new IllegalStateException("no cell join in plan"))
    val scanSide = sides.find(_.output.exists(_.name == scanCol))
      .getOrElse(throw new IllegalStateException(
        s"no cell-join side carries $scanCol"))
    planNodes(scanSide).collectFirst {
      case e: org.apache.spark.sql.execution.exchange.Exchange =>
        e.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.getOrElse(0L)
  }

  /** Deterministic CLUSTERED twin of the embeddings corpus: every
    * vector shrinks toward its IVF centroid (0.2·v + 0.8·c) — tight
    * clusters, the data shape real embedding corpora have and the
    * near-uniform synthetic sphere deliberately lacks. Same ids, same
    * cells, no randomness. */
  private[graft] def clusteredCorpus(emb: DataFrame,
      cents: IndexedSeq[Array[Double]]): DataFrame =
    emb.select(col("vec_id"),
      zip_with(col("embedding"),
        element_at(typedLit(cents.map(_.toSeq)),
          assignCell(col("embedding"), cents) + 1),
        (a, b) => a * lit(0.2) + b * lit(0.8))
        .cast("array<float>").as("embedding"))

  /** Gate: the PQ join's ECONOMICS, measured on a clustered corpus.
    * The scaladoc claim ("candidates shuffle codes, not vectors") gets
    * three runtime booleans: (a) the 0.9-recall shortlist TUNES NEAR K
    * on clustered data — RESIDUAL (IVFADC) codebooks + population-
    * bounded cells, measured 17–20 across SFs vs ~350 on the sphere
    * (the sphere's deep lists are a data property, not an
    * architecture cost); (b) the corpus side of the cell join
    * MOVES ≥6× fewer bytes under codes than under raw vectors — read
    * from the executed plans' exchange `dataSize` metrics, so the
    * number is what the shuffle actually carried (unsafe-row bytes:
    * one packed BIGINT ≈ 32 B/row incl. vec_id+cell vs 64×float
    * vectors ≈ 300 B/row; the raw payload gap is ~30×, the
    * row-overhead-inclusive gap gates at 6×);
    * (c) sample recall vs the exact join holds the 0.8 floor at that
    * near-k shortlist. Coverage stays exact-k for every vector. */
  def ssKnnJoinPqEcon(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb0 = Tables.embeddings(s, dir)
    // cells scale with the corpus (IVF practice: bounded population
    // per cell): on clustered data the hard part of the ranking is
    // WITHIN the own cell, so shortlist depth tracks cell population
    val kCells = math.max(IvfCells, (emb0.count() / 32L).toInt)
    val cents = trainCentroids(emb0, k = kCells)
    val emb = clusteredCorpus(emb0, cents).persist()
    try {
      val sample = trainSample(emb).persist()
      // IVFADC discipline: on clustered data the codebooks encode the
      // RESIDUAL against the cell centroid, so their entries resolve
      // the within-cluster structure the ranking needs
      val books =
        try trainCodebooksResidual(sample, cents)
        finally { sample.unpersist(); () }
      val sl = chooseJoinShortlist(emb, cents, books, residual = true)
      // measurement runs force the cluster-scale join shape (both cell
      // join sides SHUFFLE — at gate scale Spark would broadcast the
      // probe side and the corpus side would never move at all)
      val s2 = emb.sparkSession
      val prevBc = s2.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val (nEx, vecBytes, nPq, codeBytes) =
        try {
          s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val exact = knnJoinOn(emb, cents, IvfProbe)
          val ne = executeForMetrics(exact)
          val vb = cellJoinScanBytes(exact, "embedding")
          val pq = knnJoinPqOn(emb, cents, books, IvfProbe, shortlist = sl,
            residual = true)
          val np = executeForMetrics(pq)
          val cb = cellJoinScanBytes(pq, "codes")
          (ne, vb, np, cb)
        } finally s2.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      val n = emb.count()
      val truth = knnJoinOn(emb, cents, IvfProbe)
        .filter($"q_id" < NumQueries).select($"q_id", $"neighbor_id")
      val hits = knnJoinPqOn(emb, cents, books, IvfProbe, shortlist = sl,
        residual = true)
        .filter($"q_id" < NumQueries)
        .join(truth, Seq("q_id", "neighbor_id"), "left_semi").count()
      Seq((n, sl <= 8 * K, codeBytes * 6 <= vecBytes,
        hits.toDouble / (NumQueries * K) >= PqRecallFloor,
        nPq == n * K && nEx == n * K))
        .toDF("n_vectors", "shortlist_near_k", "codes_bytes_small",
          "recall_ok", "full_coverage")
    } finally { emb.unpersist(); () }
  }

  val ssKnnJoinPqEconSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
      |  TRUE AS shortlist_near_k, TRUE AS codes_bytes_small,
      |  TRUE AS recall_ok, TRUE AS full_coverage
      |FROM embeddings""".stripMargin

  // ------------------ lakehouse-resident PQ codes (CoW integration).
  // The stored-index rung joined with the lakehouse: codes live IN a
  // CoW table instead of a bare parquet dir, so the ANN scan side
  // inherits the whole table lifecycle — incremental batches arrive
  // through MERGE (O(batch) encode under the frozen codebooks),
  // retractions through deletion vectors, compaction/vacuum/time travel
  // all apply — and the k-NN JOIN picks every bit of it up for free,
  // because its candidate side is just the DV-aware snapshot read.

  /** The corpus' IVF+PQ codes as rows of a CoW table: `(vec_id, cell,
    * codes, book_fp)`. The codebook version rides IN the table as a
    * constant column (run-length-compressed to nothing at rest); the
    * read side verifies it, so a codebook rebuild turns into a loud
    * error instead of silently mixed code spaces — the
    * [[PqIndex.appendToPqIndex]] pin, carried into the lakehouse. */
  def pqCodesFrame(emb: DataFrame, cents: IndexedSeq[Array[Double]],
      books: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame =
    // the encode (K centroid dots + M sub-space scans per vector) is
    // decode-class per-row work: spread a single-file corpus across
    // the cluster before paying it — without this the whole encode
    // serialized through the one scan task at CowTable.init time
    Spread(emb).select(col("vec_id"),
      assignCell(col("embedding"), cents).as("cell"),
      pqEncodePacked(col("embedding"), books).as("codes"),
      lit(PqIndex.codebookHash(books)).as("book_fp"))

  /** DV-aware read of a stored code table with the codebook pin
    * verified. The distinct is over a constant column — one tiny
    * aggregate, no vector is touched. */
  def readCowPqCodes(s: SparkSession, table: String,
      books: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    val fp = PqIndex.codebookHash(books)
    val codes = CowTable.read(s, table)
    // the book_fp pin covers the codebook HASH, not the encoding: a
    // table persisted under the pre-packed array<int> layout would
    // otherwise reach the shiftright decode and die with an opaque
    // AnalysisException — detect the format here and say what to do
    val codesDt = codes.schema("codes").dataType
    require(codesDt == org.apache.spark.sql.types.LongType,
      s"stored PQ code table $table holds codes as " +
        s"${codesDt.catalogString}, but the join path expects packed " +
        "BIGINT codes — stale code table from an older encoding; " +
        "rebuild it with pqCodesFrame")
    val stored = codes.select(col("book_fp")).distinct()
      .collect().map(_.getLong(0)).toSeq
    require(stored.forall(_ == fp),
      s"stored PQ codes pin codebook version(s) ${stored.mkString(", ")} " +
        s"but the current codebooks hash to $fp — the table was encoded " +
        "under different codebooks; re-encode or reload the books")
    codes.select(col("vec_id"), col("cell"), col("codes"))
  }

  /** Gate: the IVF+PQ k-NN JOIN driven from LAKEHOUSE-RESIDENT codes —
    * the code table is built incrementally (init with the even half,
    * MERGE the odd half), a retraction lands as a deletion vector, and
    * the join runs against the DV-aware snapshot: full coverage over
    * the live corpus, retracted vectors provably absent from BOTH join
    * sides, and sample recall vs the exact join on the live corpus at
    * the tuned shortlist. */
  def ssKnnJoinPqCow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = cachedCentroids(emb, dir)
    val books = cachedCodebooks(emb, dir)
    val table = s"${System.getProperty("java.io.tmpdir")}/graft_cow_codes/" +
      java.util.UUID.randomUUID().toString.take(8)
    CowTable.init(pqCodesFrame(emb.filter($"vec_id" % 2 === 0), cents,
      books), table)
    CowTable.mergeInto(s, table,
      pqCodesFrame(emb.filter($"vec_id" % 2 === 1), cents, books),
      Seq("vec_id"))
    CowTable.deleteWhere(s, table, $"vec_id" % 17 === 3)
    val live = emb.filter($"vec_id" % 17 =!= 3)
    val coded = readCowPqCodes(s, table, books)
    val nn = knnJoinPqOn(live, cents, books, IvfProbe,
      shortlist = tunedJoinShortlist(emb, dir), coded = Some(coded))
    nn.persist()
    val n = live.count()
    val cov = nn.groupBy($"q_id").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("nq"), min($"c").as("mn"), max($"c").as("mx"))
      .head()
    val fullCoverage = cov.getLong(0) == n &&
      cov.getLong(1) == K && cov.getLong(2) == K
    val deletedAbsent = nn.filter(
      $"neighbor_id" % 17 === 3 || $"q_id" % 17 === 3).count() == 0L
    val exact = knnJoinOn(live, cents, IvfProbe)
      .filter($"q_id" < NumQueries).select($"q_id", $"neighbor_id")
      .persist()
    val total = exact.count()
    val hits = nn.filter($"q_id" < NumQueries)
      .join(exact, Seq("q_id", "neighbor_id"), "left_semi").count()
    exact.unpersist()
    nn.unpersist()
    Seq((n, fullCoverage, deletedAbsent,
      total > 0 && hits.toDouble / total >= PqRecallFloor))
      .toDF("n_live", "full_coverage", "deleted_absent", "recall_ok")
  }

  /** Production form: encode the corpus into a CoW code table (once —
    * real deployments reuse it across batches via MERGE) and serve the
    * join from the stored codes. */
  def knnJoinPqCow(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cents = cachedCentroids(emb, dir)
    val books = cachedCodebooks(emb, dir)
    val table = s"${System.getProperty("java.io.tmpdir")}/graft_cow_codes/" +
      java.util.UUID.randomUUID().toString.take(8)
    CowTable.init(pqCodesFrame(emb, cents, books), table)
    knnJoinPqOn(emb, cents, books, IvfProbe,
      shortlist = tunedJoinShortlist(emb, dir),
      coded = Some(readCowPqCodes(s, table, books)))
  }

  val ssKnnJoinPqCowSql: String =
    s"""SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id % 17 <> 3)
       |    AS n_live,
       |  TRUE AS full_coverage, TRUE AS deleted_absent,
       |  TRUE AS recall_ok""".stripMargin

  /** Gate: envelope over the full-corpus join — every vector got
    * exactly k neighbors (coverage), and on the brute-force-checkable
    * query sample the join recovers ≥90% of the exact top-k (the
    * ss_knn_ivf recall discipline at the same nprobe; the join IS the
    * IVF search with every vector as query, so the envelope transfers). */
  def ssKnnJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = cachedCentroids(emb, dir)
    val nn = knnJoinOn(emb, cents, IvfProbe, K)
    nn.persist()
    val n = emb.count()
    val cov = nn.groupBy($"q_id").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("nq"), min($"c").as("mn"), max($"c").as("mx"))
      .head()
    val fullCoverage = cov.getLong(0) == n &&
      cov.getLong(1) == K && cov.getLong(2) == K
    val brute = knnBruteOn(emb).select($"q_id", $"neighbor_id")
    val hits = nn.filter($"q_id" < NumQueries)
      .join(brute, Seq("q_id", "neighbor_id"), "left_semi").count()
    nn.unpersist()
    Seq((n, fullCoverage, NumQueries.toLong, K.toLong,
      hits.toDouble / (NumQueries * K) >= 0.9))
      .toDF("n_vectors", "full_coverage", "n_queries", "k", "recall_ok")
  }

  val ssKnnJoinSql: String =
    s"""SELECT (SELECT COUNT(*) FROM embeddings) AS n_vectors,
       |  TRUE AS full_coverage, CAST($NumQueries AS BIGINT) AS n_queries,
       |  CAST($K AS BIGINT) AS k, TRUE AS recall_ok""".stripMargin

  /** Probe auto-tuning: the smallest nprobe whose MEASURED recall on the
    * held-out query sample reaches `target`, found by binary search
    * (recall is monotone in nprobe). This is a tuning-time routine — a
    * handful of driver-coordinated jobs over the sample queries, run
    * once per corpus, never in the per-query path: on a clustered
    * corpus it discovers that 2-4 probes suffice; on the near-uniform
    * synthetic corpus it lands at the measured 12/16. */
  def chooseProbe(emb: DataFrame, cents: IndexedSeq[Array[Double]],
      target: Double = 0.9, numQueries: Int = NumQueries): Int = {
    val truth = knnBruteOn(emb, numQueries)
      .select(col("q_id"), col("neighbor_id")).cache()
    val total = truth.count()
    def recallAt(p: Int): Double = {
      val hits = truth.join(
        knnIvfOn(emb, cents, p, numQueries).select(col("q_id"), col("neighbor_id")),
        Seq("q_id", "neighbor_id"), "left_semi").count()
      hits.toDouble / total
    }
    var lo = 1
    var hi = cents.size
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (recallAt(mid) >= target) hi = mid else lo = mid + 1
    }
    truth.unpersist()
    lo
  }

  // ------------------------------------------------ product quantization.
  // The compression rung after int8: split each vector into M subspaces,
  // k-means a K-entry codebook per subspace (deterministic Lloyd — the
  // IVF trainer reused on vector slices), store each vector as M
  // small codes (M·log2(K) bits ≈ 4 bytes here vs 256 for float32).
  // Queries score candidates ASYMMETRICALLY (ADC): per query, a
  // M×K table of subspace dots is precomputed driver-side (queries are
  // bounded, like the brute-force broadcast), so scoring a candidate is
  // M table lookups on its codes; the ADC top-`PqShortlist` shortlist
  // is then EXACT-reranked — the standard PQ + rerank pipeline, so the
  // full-precision scan touches only shortlist·Q rows.
  val PqM = 8       // subspaces (dim 64 → 8 dims each)
  val PqK = 32      // codes per subspace → 5 bits each, 5 bytes/vector
  val PqRounds = 5
  val PqDim = 64
  val PqShortlist = 100

  private val pqCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), IndexedSeq[IndexedSeq[Array[Double]]]]()

  /** Per-subspace codebooks from a (sampled) training set: the IVF
    * Lloyd trainer run on each PqDim/PqM-wide vector slice. */
  def trainCodebooks(sample: DataFrame): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val sub = PqDim / PqM
    (0 until PqM).map { m =>
      trainCentroids(sample.select(col("vec_id"),
        slice(col("embedding"), m * sub + 1, sub).as("embedding")),
        PqK, PqRounds)
    }
  }

  /** Per-subspace codebooks, trained on the same deterministic
    * size-targeted sample as IVF and cached by data fingerprint. */
  def cachedCodebooks(emb: DataFrame, dir: String)
      : IndexedSeq[IndexedSeq[Array[Double]]] = {
    val fp = dataFingerprint(emb.sparkSession, dir)
    pqCache.keySet().removeIf(key => key._1 == dir && key._2 != fp)
    pqCache.computeIfAbsent((dir, fp), _ => {
      val sample = trainSample(emb).cache()
      try trainCodebooks(sample)
      finally { sample.unpersist(); () }
    })
  }

  /** codes = array(M) of nearest-codebook-entry ids, scan-side literal
    * dots like the IVF cell assignment. */
  def pqEncode(vec: Column, books: IndexedSeq[IndexedSeq[Array[Double]]]): Column = {
    val sub = PqDim / PqM
    array((0 until PqM).map(m =>
      assignCell(slice(vec, m * sub + 1, sub), books(m))): _*)
  }

  /** [[pqEncode]] PACKED into one BIGINT — M codebook ids × 8 bits
    * each (PqK ≤ 256 by construction). This is the JOIN-path encoding:
    * an UnsafeRow long is 8 bytes flat where the array form costs ~48
    * (header + null bits + 8×int), so the corpus side of the cell join
    * shuffles a third of the bytes again on top of the
    * codes-vs-vectors win. Scan-side literal dots + shifts, fully
    * codegen'd. */
  def pqEncodePacked(vec: Column,
      books: IndexedSeq[IndexedSeq[Array[Double]]]): Column = {
    require(books.forall(_.size <= 256),
      "packed PQ codes need codebooks of at most 256 entries")
    require(books.size <= 8,
      s"packed PQ codes hold at most 8 subspaces in one BIGINT " +
        s"(8 bits each); got ${books.size} — split into multiple longs " +
        "or use the array encoding")
    val sub = PqDim / PqM
    (0 until PqM).map(m =>
      shiftleft(assignCell(slice(vec, m * sub + 1, sub), books(m))
        .cast("long"), 8 * m))
      .reduce(_.bitwiseOR(_))
  }

  /** [[adcScore]] over PACKED codes: the m-th id is 8 bits of the
    * BIGINT — shift/mask instead of an array element_at. */
  def adcScorePacked(qVec: Column, packed: Column,
      books: IndexedSeq[IndexedSeq[Array[Double]]]): Column = {
    val sub = PqDim / PqM
    (0 until PqM).map { m =>
      dot(slice(qVec, m * sub + 1, sub),
        element_at(typedLit(books(m).map(_.toSeq)),
          shiftright(packed, 8 * m).bitwiseAND(lit(255L)).cast("int") + 1))
    }.reduce(_ + _)
  }

  /** A vector's RESIDUAL against its IVF centroid — the quantity
    * IVFADC (Jégou et al. 2011) encodes: on a clustered corpus the
    * centroid carries the shared component, so codebooks trained on
    * residuals spend their entries on the WITHIN-cluster structure the
    * neighbor ranking actually needs. Scan-side, cast back to float
    * so the sample-collecting trainer reads it like any embedding. */
  private[graft] def residualCol(vec: Column,
      cents: IndexedSeq[Array[Double]]): Column =
    zip_with(vec,
      element_at(typedLit(cents.map(_.toSeq)), assignCell(vec, cents) + 1),
      (a, b) => a - b).cast("array<float>")

  /** Per-subspace codebooks trained on RESIDUALS. */
  def trainCodebooksResidual(sample: DataFrame,
      cents: IndexedSeq[Array[Double]])
      : IndexedSeq[IndexedSeq[Array[Double]]] =
    trainCodebooks(sample.select(col("vec_id"),
      residualCol(col("embedding"), cents).as("embedding")))

  /** PQ + exact-rerank k-NN over given codebooks: ADC shortlist (codes
    * only — the compressed representation is all the scan reads), then
    * exact cosine on shortlist rows. The ADC stage is join-free and
    * fully codegen'd: the bounded query set's M×K lookup tables are
    * plan literals, each row computes one array of Q approximate
    * scores (M `element_at` lookups per query) and posexplodes it —
    * no HOFs, no per-row interpretation; the expensive exact scorer
    * runs only on Q·shortlist rows. */
  def knnPqOn(emb: DataFrame, books: IndexedSeq[IndexedSeq[Array[Double]]],
      numQueries: Int = NumQueries, k: Int = K,
      shortlist: Int = PqShortlist): DataFrame = {
    val sub = PqDim / PqM
    // bounded driver-side collect: Q query vectors (like IVF centroids)
    val qVecs = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0).toInt ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // tables(q)(m)(j) = dot(q's m-th slice, books(m)(j))
    val tables: IndexedSeq[IndexedSeq[Array[Double]]] =
      (0 until numQueries).map { q =>
        val v = qVecs(q)
        (0 until PqM).map { m =>
          Array.tabulate(PqK) { j =>
            val c = books(m)(j)
            var acc = 0.0
            var i = 0
            while (i < sub) { acc += v(m * sub + i) * c(i); i += 1 }
            acc
          }
        }
      }
    // slice each subvector ONCE per row, then encode from the slices
    val subCols = (0 until PqM).map(m =>
      slice(col("embedding"), m * sub + 1, sub).as(s"__sub$m"))
    val coded = emb.select(col("vec_id") +: subCols: _*)
      .select(col("vec_id"), array((0 until PqM).map(m =>
        assignCell(col(s"__sub$m"), books(m))): _*).as("codes"))
    val adcPerQuery = array((0 until numQueries).map { q =>
      (0 until PqM).map(m =>
        element_at(typedLit(tables(q)(m)),
          element_at(col("codes"), m + 1) + 1)).reduce(_ + _)
    }: _*)
    val adc = coded.select(col("vec_id"), posexplode(adcPerQuery))
      .select(col("vec_id"), col("pos").cast("long").as("q_id"),
        col("col").as("adc"))
      .filter(col("vec_id") =!= col("q_id"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id").asc)
    val short = adc.withColumn("srk", row_number().over(wAdc))
      .filter(col("srk") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    val queries = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // exact rerank of the shortlist only
    val wExact = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    short
      .join(emb, Seq("vec_id"))
      .join(broadcast(queries.select(col("q_id"), col("q_vec"))), Seq("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("q_vec"), col("embedding")).as("cosine"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Shortlist auto-tuning, the PQ twin of [[chooseProbe]]: the smallest
    * shortlist whose MEASURED recall on the held-out query sample reaches
    * `target`, by binary search (a larger shortlist is a superset of a
    * smaller one under the fixed ADC ranking, so recall is monotone).
    * TUNING-TIME only — a handful of driver-coordinated jobs over the
    * bounded query set, run once per corpus and cached by data
    * fingerprint, never in the per-query path. On a clustered corpus it
    * lands at or below the fixed [[PqShortlist]] (spec-proved); on the
    * near-uniform synthetic sphere — PQ's documented adversarial case —
    * it discovers the larger list that corpus genuinely needs
    * (measured: 43/40/346 at sf0.001/0.01/0.1). The tuned value is a
    * property of the DATA, not of N: the per-query rerank and shuffle
    * stay bounded by a measured constant, unlike a corpus-proportional
    * policy. */
  /** Upper bound of the shortlist tuning search: min(corpus, 64·
    * [[PqShortlist]]), never below [[K]]. The tune exists to find a
    * SMALL data-dependent constant — an uncapped `count().toInt` would
    * overflow negative past 2³¹ rows and degenerate the binary search,
    * and a corpus that genuinely needs a 64·PqShortlist shortlist has
    * no business in PQ anyway. */
  def shortlistSearchCap(n: Long): Int =
    math.max(K.toLong, math.min(n, 64L * PqShortlist)).toInt

  def chooseShortlist(emb: DataFrame, books: IndexedSeq[IndexedSeq[Array[Double]]],
      target: Double = 0.9, numQueries: Int = NumQueries): Int = {
    val truth = knnBruteOn(emb, numQueries)
      .select(col("q_id"), col("neighbor_id")).cache()
    val total = truth.count()
    def recallAt(sl: Int): Double = {
      val hits = truth.join(
        knnPqOn(emb, books, numQueries, shortlist = sl)
          .select(col("q_id"), col("neighbor_id")),
        Seq("q_id", "neighbor_id"), "left_semi").count()
      hits.toDouble / total
    }
    var lo = K
    var hi = shortlistSearchCap(emb.count())
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (recallAt(mid) >= target) hi = mid else lo = mid + 1
    }
    truth.unpersist()
    lo
  }

  private val shortlistCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Integer]()

  /** Cached [[chooseShortlist]] result for a stored corpus, keyed by the
    * same file fingerprint as the codebooks. */
  def tunedShortlist(emb: DataFrame, dir: String): Int = {
    val fp = dataFingerprint(emb.sparkSession, dir)
    shortlistCache.keySet().removeIf(key => key._1 == dir && key._2 != fp)
    shortlistCache.computeIfAbsent((dir, fp),
      _ => chooseShortlist(emb, cachedCodebooks(emb, dir)))
  }

  /** PQ k-NN over a stored corpus at the tuning-time measured shortlist
    * (the generic [[knnPqOn]] defaults to the fixed [[PqShortlist]] —
    * the scale-safe configuration, proven ≥0.9 recall on a clustered
    * fixture in SimilaritySpec). */
  def knnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    knnPqOn(emb, cachedCodebooks(emb, dir), shortlist = tunedShortlist(emb, dir))
  }

  /** Gate form: recall envelope vs brute force, like ss_knn_ivf. The
    * codebooks come from float k-means no SQL engine reproduces, so the
    * oracle asserts the CONTRACT — PQ+rerank at the shipped settings
    * (M=8, K=32, shortlist = the tuning-time [[chooseShortlist]] value
    * at target 0.9) recovers ≥ [[PqRecallFloor]] of the true top-k.
    * Measured (retired MeasurePq tool): tuned shortlist 43/40/346 → recall 0.90 at
    * every sf (the tune's target, by construction); the fixed-100
    * default measures 0.98/0.96/0.72. The near-uniform synthetic
    * sphere is PQ's adversarial case (same corpus property the IVF
    * probe note documents) — on the clustered fixture the tune lands
    * ≤ the fixed [[PqShortlist]], which is the shipped default for
    * [[knnPqOn]].
    *
    * At gate corpus sizes PQ is SLOWER than brute force (the 64-dim
    * exact scan over 2000 vectors is trivial; encoding dominates):
    * the operator's value is the representation — 5-byte codes vs
    * 256-byte vectors — and the constant-factor reduction of the
    * full-precision scan, which pays off when the corpus, not the
    * query set, is the big side (10⁸+ vectors). */
  val PqRecallFloor = 0.8

  def ssKnnPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pq = knnPq(s, dir)
    val brute = ssKnnBrute(s, dir).select($"q_id", $"neighbor_id")
    val hits = pq.join(brute, Seq("q_id", "neighbor_id"), "left_semi")
    hits.agg(count(lit(1)).as("hits"))
      .select(
        lit(NumQueries).cast("long").as("n_queries"),
        lit(K).cast("long").as("k"),
        ($"hits".cast("double") / (NumQueries * K) >= PqRecallFloor)
          .as("recall_ok"))
  }

  val ssKnnPqSql: String =
    s"SELECT CAST($NumQueries AS BIGINT) AS n_queries, CAST($K AS BIGINT) AS k, TRUE AS recall_ok"

  // ---------------------------------------- int8 embedding quantization.
  /** Symmetric per-vector int8 quantization: scale = max|x| / 127,
    * q_i = round-half-up(x_i / scale) — 4× smaller vectors for the ANN
    * index/shipping tier, with cosine preserved to ~1% (spec-pinned).
    * Fully deterministic and bit-exact across engines: float32 → double
    * promotion is exact, and rounding is floor(x + 0.5) in BOTH engines
    * (SQL round() half-away vs half-even varies by engine; floor form
    * doesn't). Scan-side only — no shuffle at any corpus size. */
  def ssQuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val dvec = transform(col("embedding"), x => abs(x.cast("double")))
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        (array_max(dvec) / 127.0).as("scale"))
      .select(col("vec_id"), col("scale"),
        when(col("scale") === 0.0,
          transform(col("embedding"), _ => lit(0)))
          .otherwise(transform(col("embedding"), x =>
            least(greatest(floor(x.cast("double") / col("scale") + 0.5),
              lit(-127.0)), lit(127.0)).cast("int")))
          .as("qvec"))
  }

  /** GATE form: same computation, but `qvec` serialized to a ','-joined
    * string — the driver's comparator lexsorts rows via pandas, and
    * array cells are unhashable there, so gate queries must emit scalar
    * columns only. The array-typed [[ssQuantizeInt8]] stays the public
    * API. */
  def ssQuantizeInt8Gate(s: SparkSession, dir: String): DataFrame =
    ssQuantizeInt8(s, dir)
      .select(col("vec_id"), col("scale"),
        array_join(col("qvec"), ",").as("qvec"))

  val ssQuantizeInt8Sql: String =
    """SELECT vec_id, scale,
      |  array_to_string(
      |  CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
      |  ELSE list_transform(embedding, x -> CAST(
      |    least(greatest(floor(CAST(x AS DOUBLE) / scale + 0.5), -127.0),
      |      127.0) AS INT)) END, ',') AS qvec
      |FROM (SELECT vec_id, embedding,
      |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
      |    AS scale FROM embeddings) t""".stripMargin

  // -------------------------------------- 1-bit (binary) quantized k-NN.
  // The deepest rung of the compression ladder: float32 (256 B for
  // dim 64) → int8 (64 B, above) → sign bits (16 B here: two 32-bit
  // words in longs) — 16× smaller than float. On unit vectors the
  // Hamming distance between sign patterns estimates the angle
  // (E[h] = d·θ/π, the sign-LSH collision bound), so XOR + popcount is
  // a cosine proxy computed entirely in integer codegen: no floats, no
  // multiplies, 2 longs per vector resident.
  //
  // At 100 TB this is the candidate-generation tier that fits an entire
  // corpus's signatures in cluster memory (10⁹ vectors = 16 GB): scan
  // computes signatures narrowly (SignPack is scan-side), the Q query
  // signatures broadcast, and the per-query top-k rank-filter
  // WindowGroupLimit-pre-prunes each task to k rows before the single
  // final shuffle. [[hammingRerank]] adds the standard second stage:
  // top-C by Hamming, exact cosine on the C survivors only.
  //
  // Unlike IVF/PQ there is no trained state — the signature is a pure
  // function of the vector — so the gate has a FULL exact oracle: DuckDB
  // rebuilds the identical words with BIGINT arithmetic and replays the
  // same (hamming, vec_id) ordering.
  val HammingWords = 2 // ceil(dim / 32) sign words, dim = 64

  /** (vec_id, s0, s1) sign-word signatures — scan-side projection. */
  def signSignatures(emb: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.sign_pack
    emb.select(col("vec_id"),
      sign_pack(col("embedding"), 0, 32).as("s0"),
      sign_pack(col("embedding"), 32, 32).as("s1"))
  }

  /** Hamming distance between two 2-word signatures. */
  def hammingDist(a0: Column, a1: Column, b0: Column, b1: Column): Column =
    (bit_count(a0.bitwiseXOR(b0)) + bit_count(a1.bitwiseXOR(b1))).cast("int")

  /** Exact Hamming top-k per query over the sign signatures; ties break
    * by neighbor id, so the result is fully deterministic. */
  def knnHammingOn(emb: DataFrame, numQueries: Int = NumQueries,
      k: Int = K): DataFrame = {
    val sigs = signSignatures(emb)
    val queries = sigs.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("s0").as("q0"), col("s1").as("q1"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming").asc, col("vec_id").asc)
    sigs.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        hammingDist(col("q0"), col("q1"), col("s0"), col("s1")).as("hamming"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("rank"), col("hamming"))
  }

  def ssKnnHamming(s: SparkSession, dir: String): DataFrame =
    knnHammingOn(Tables.embeddings(s, dir))

  /** DuckDB twin: identical sign words via exact BIGINT arithmetic,
    * identical (hamming, vec_id) ordering. */
  val ssKnnHammingSql: String = {
    def pack(alias: String, base: Int) =
      s"CAST(list_sum(list_transform(range(32), i -> CASE WHEN embedding[i + ${base + 1}] >= 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS $alias"
    s"""WITH sigs AS (
       |  SELECT vec_id, ${pack("s0", 0)}, ${pack("s1", 32)} FROM embeddings)
       |SELECT q_id, vec_id AS neighbor_id, rank, hamming FROM (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    CAST(bit_count(xor(q.s0, e.s0)) + bit_count(xor(q.s1, e.s1)) AS INT)
       |      AS hamming,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY bit_count(xor(q.s0, e.s0)) + bit_count(xor(q.s1, e.s1)) ASC,
       |        e.vec_id ASC) AS INT) AS rank
       |  FROM (SELECT * FROM sigs WHERE vec_id < $NumQueries) q
       |  JOIN sigs e ON e.vec_id <> q.vec_id) t
       |WHERE rank <= $K""".stripMargin
  }

  /** Two-stage serving: Hamming shortlist of C candidates per query,
    * exact cosine rerank of the survivors only — the binary analog of
    * the PQ rerank. C controls the recall/compute trade; the spec
    * measures recall vs [[ssKnnBrute]] at the shipped C (0.96 on
    * sf0.001, 0.90 on sf0.01 — 64 sign bits are a coarse proxy, so C
    * sits higher than the PQ shortlist at equal recall; the win is the
    * 16× smaller resident index and integer-only first stage). */
  def hammingRerank(emb: DataFrame, numQueries: Int = NumQueries,
      k: Int = K, shortlist: Int = 128): DataFrame = {
    val cands = knnHammingOn(emb, numQueries, shortlist)
      .select(col("q_id"), col("neighbor_id"))
    val queries = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands.join(emb, cands("neighbor_id") === emb("vec_id"))
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("embedding")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ------------------------------------------------------ semantic dedup.
  // SemDeDup (Abbas et al. '23): embedding-space near-duplicates found
  // WITHIN k-means clusters only — the scale move that turns the full
  // quadratic compare into per-cluster quadratics. Cluster sizes are
  // ~N/k, so the compare volume is N²/k instead of N²; k grows with the
  // corpus (k ≈ N/target_cell_size keeps cells constant-sized, making
  // the whole pipeline O(N·cell)). Cluster assignment is scan-side
  // (codegen'd literal dots against the cached deterministic centroids);
  // the within-cluster pair join shuffles once on the cell id.
  //
  // Drop rule: keep-first — a vector is dropped iff some LOWER-id vector
  // in ITS cluster has exact cosine ≥ threshold (every drop is exact-
  // verified; recall is bounded by clustering, the documented trade).
  /** (vec_a, vec_b, cosine) within-cluster exact-verified pairs. */
  def semanticPairs(emb: DataFrame, cents: IndexedSeq[Array[Double]],
      threshold: Double): DataFrame = {
    // decode-class per-row assignment + quadratic within-cell compare:
    // spread a single-file corpus before paying either
    val assigned = Spread(emb).select(col("vec_id"), col("embedding"),
      assignCell(col("embedding"), cents).as("cell"))
    val a = assigned.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosine(col("emb_a"), col("emb_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Vectors surviving semantic dedup (keep-first within cluster). */
  def semanticDedupRetain(emb: DataFrame, cents: IndexedSeq[Array[Double]],
      threshold: Double): DataFrame =
    emb.join(semanticPairs(emb, cents, threshold)
      .select(col("vec_b").as("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")

  /** Measured envelope constant for the gate: the fraction of EXACT
    * full-quadratic near-dup pairs whose endpoints co-cluster (and are
    * therefore caught by the within-cluster compare). Measured by the
    * retired MeasureSemDedup tool:
    * 0.429 / 0.286 / 0.350 at sf0.001/0.01/0.1 — deterministic (fixed
    * data, fixed centroids), so the floor cannot drift. Low absolute
    * coverage is the documented property of the near-uniform synthetic
    * sphere (borderline 0.45-cosine pairs sit near cell boundaries —
    * the same adversarial regime as PQ/IVF on this data); on planted
    * duplicate GROUPS (identical/near-identical vectors, the case
    * semantic dedup exists for) co-clustering is guaranteed and the
    * spec pins exactly-one-survivor-per-group. */
  val SemDedupCoverageFloor = 0.25
  val SemDedupThreshold = NearDupThreshold

  /** Gate: exact anchors + two oracle-assertable claims. `n_droppable` =
    * docs with ANY exact near-dup partner (SQL-computable); the booleans
    * assert (a) PRECISION as a set claim — every dropped vector has a
    * true near-dup partner (dropped ⊆ droppable; drops are exact-
    * verified within clusters so this must hold, and the gate measures
    * it rather than assuming it) — and (b) RECALL — at least
    * [[SemDedupCoverageFloor]] of the exact pair set is covered (≥ one
    * endpoint dropped). Deterministic: centroids, assignment, and
    * cosines are all fixed functions of the data. */
  def ssSemDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).filter($"vec_id" < NearDupCap)
    val cents = cachedCentroids(Tables.embeddings(s, dir), dir)
    val dropped = semanticPairs(emb, cents, SemDedupThreshold)
      .select($"vec_b".as("vec_id")).distinct()
    val exact = ddEmbedCosine(s, dir).select($"vec_a", $"vec_b")
    val droppable = exact.select($"vec_a".as("vec_id"))
      .union(exact.select($"vec_b".as("vec_id"))).distinct()
    val overkill = dropped.join(droppable, Seq("vec_id"), "left_anti")
    val covered = exact
      .join(dropped.select($"vec_id".as("vec_a")), Seq("vec_a"), "left_semi")
      .union(exact
        .join(dropped.select($"vec_id".as("vec_b")), Seq("vec_b"), "left_semi")
        .select($"vec_a", $"vec_b"))
      .distinct()
    emb.agg(count(lit(1)).as("n_docs"))
      .crossJoin(droppable.agg(count(lit(1)).as("n_droppable")))
      .crossJoin(overkill.agg((count(lit(1)) === 0L).as("drops_all_verified")))
      .crossJoin(exact.agg(count(lit(1)).as("__n_pairs")))
      .crossJoin(covered.agg(count(lit(1)).as("__n_cov")))
      .select($"n_docs", $"n_droppable", $"drops_all_verified",
        ($"__n_cov".cast("double") >=
          $"__n_pairs".cast("double") * SemDedupCoverageFloor)
          .as("coverage_ok"))
  }

  val ssSemDedupSql: String =
    s"""WITH pairs AS (${ddEmbedCosineSql.replace("\n", " ")}),
       |droppable AS (SELECT vec_a AS vec_id FROM pairs
       |              UNION SELECT vec_b FROM pairs)
       |SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id < $NearDupCap) AS n_docs,
       |  (SELECT COUNT(*) FROM droppable) AS n_droppable,
       |  TRUE AS drops_all_verified, TRUE AS coverage_ok""".stripMargin

  // ------------------------------------------------- OPQ rotation.
  /** OPQ-style deterministic rotation (the non-parametric init of Ge et
    * al., CVPR'13): PCA basis + eigenvalue-balanced "snake" allocation
    * of the rotated dimensions into the M subspaces (balancing Σ log λ
    * per subspace). PQ quantizes each subspace INDEPENDENTLY, so
    * correlated/anisotropic data wastes its code budget; rotating into
    * the decorrelated basis and spreading variance evenly across
    * subspaces recovers it. Measured (retired MeasureOpq tool):
    * recall@10 at the fixed shortlist 0.66 → 1.00 on an anisotropic
    * clustered fixture;
    * neutral (0.96 vs 0.94) on the near-uniform driver corpus, which
    * has nothing to decorrelate — rotation of a sphere is a sphere.
    *
    * Deterministic: trained on the same bounded [[trainSample]] draw as
    * the codebooks (breeze eigSym of the 64×64 sample covariance — a
    * tuning-time driver computation of codebook class), cached by data
    * fingerprint. Applying it is scan-side: dim literal dots per row
    * (same cost class as PQ encoding), no shuffle, cosine-invariant
    * (orthogonal), so the exact rerank and ground truth are unchanged. */
  def opqRotation(sample: Array[Array[Double]], m: Int): Array[Array[Double]] =
    opqRotationIfAnisotropic(sample, m, threshold = 0.0).get

  /** Anisotropy gate: rotation is only applied when the sample spectrum
    * shows something to decorrelate — ratio = λ_max / λ_median of the
    * sample covariance. Measured: 331.7 on the anisotropic fixture vs
    * 1.8–2.0 on the near-uniform driver corpora at every SF, so the
    * default threshold 4 separates them by two orders of magnitude.
    * On isotropic data rotation is recall-NEUTRAL in expectation but
    * jitters the subspace grouping (measured: 0.84 → ~0.78 at sf0.1,
    * crossing the envelope floor), so identity is strictly safer there
    * — returning None keeps the un-rotated pipeline and its measured
    * recall exactly. */
  val OpqAnisotropyThreshold = 4.0

  def opqRotationIfAnisotropic(sample: Array[Array[Double]], m: Int,
      threshold: Double = OpqAnisotropyThreshold)
      : Option[Array[Array[Double]]] = {
    require(sample.nonEmpty, "opqRotationIfAnisotropic: empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by $m")
    val n = sample.length.toDouble
    val mean = Array.tabulate(dim)(j => sample.map(_(j)).sum / n)
    val cov = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
    sample.foreach { v =>
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) {
          cov(i, j) += (v(i) - mean(i)) * (v(j) - mean(j)); j += 1
        }
        i += 1
      }
    }
    cov :/= n
    val eig = breeze.linalg.eigSym(cov)
    val sortedEv = eig.eigenvalues.toArray.sorted.reverse
    val ratio = sortedEv(0) / math.max(sortedEv(dim / 2), 1e-12)
    if (ratio < threshold) return None
    val order = (0 until dim).sortBy(i => -eig.eigenvalues(i))
    val sub = dim / m
    val sums = Array.fill(m)(0.0)
    val buckets = Array.fill(m)(List.empty[Int])
    order.foreach { e =>
      val open = (0 until m).filter(b => buckets(b).length < sub)
      val b = open.minBy(sums)
      buckets(b) = e :: buckets(b)
      sums(b) += math.log(math.max(eig.eigenvalues(e), 1e-12))
    }
    val perm = buckets.flatMap(_.reverse)
    Some(perm.map(e => Array.tabulate(dim)(j => eig.eigenvectors(j, e))))
  }

  // ------------------------------------- iterative (parametric) OPQ.
  /** Driver-local deterministic Lloyd on a collected sample slice — the
    * per-iteration codebook step of [[opqRefine]]. L2 objective (the
    * reconstruction formulation the Procrustes step needs; the shipped
    * scan-side encoder stays [[assignCell]]'s dot form — pipeline
    * codebooks are retrained by [[trainCodebooks]] on the final
    * rotation anyway). Init = rows at evenly spaced sample indices;
    * ties go to the lowest centroid id. Empty cells keep their previous
    * centroid. Deterministic end to end. */
  private[operators] def localLloyd(points: Array[Array[Double]], k: Int,
      rounds: Int): Array[Array[Double]] = {
    val n = points.length
    val kk = math.min(k, n)
    var cents = Array.tabulate(kk)(i =>
      points(((i.toLong * n) / kk).toInt).clone())
    def nearest(p: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < kk) {
        var d = 0.0; var j = 0
        while (j < p.length) {
          val t = p(j) - cents(c)(j); d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    for (_ <- 0 until rounds) {
      val sums = Array.fill(kk)(new Array[Double](points.head.length))
      val counts = new Array[Long](kk)
      points.foreach { p =>
        val c = nearest(p)
        counts(c) += 1
        var j = 0
        while (j < p.length) { sums(c)(j) += p(j); j += 1 }
      }
      cents = Array.tabulate(kk)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c)))
    }
    cents
  }

  val OpqRefineIters = 8
  /** Minimum sample-MSE gain over the non-parametric init for the
    * refined rotation to be adopted — like the anisotropy gate, "no
    * demonstrated win" keeps the simpler pipeline and its measured
    * recall exactly. */
  val OpqRefineMinGain = 0.05

  /** Full parametric OPQ refinement (Ge et al., CVPR'13 — the
    * iterative solution the snake init approximates): alternate
    *  (1) per-subspace Lloyd in the current rotated space
    *      ([[localLloyd]] on the bounded training sample), and
    *  (2) the orthogonal-Procrustes rotation update: with xₙ the sample
    *      and y'ₙ its codebook reconstruction, the orthogonal R
    *      minimizing Σ‖R·xₙ − y'ₙ‖² is V·Uᵀ from the SVD
    *      Σₙ xₙ·y'ₙᵀ = U·S·Vᵀ (one d×d SVD per iteration).
    * Tuning-time only, bounded-driver class (the sample is the same
    * [[trainSample]] draw codebook training uses; d=64). Returns the
    * refined rotation and the per-iteration sample MSE trace, starting
    * with the init rotation's own MSE — so callers can gate adoption
    * on measured gain. What it buys over the PCA init: data whose
    * covariance is near-flat (nothing for PCA to sort) but whose
    * CLUSTER structure is rotated across subspace boundaries — the
    * alternation un-mixes the subspaces, the spectrum heuristic cannot
    * see it (OpqIterSpec's fixture pins exactly this case). */
  def opqRefine(sample: Array[Array[Double]], m: Int,
      init: Array[Array[Double]], iters: Int = OpqRefineIters)
      : (Array[Array[Double]], Seq[Double]) = {
    require(sample.nonEmpty, "opqRefine: empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by $m")
    val sub = dim / m
    val n = sample.length
    val x = breeze.linalg.DenseMatrix.tabulate(n, dim)((i, j) => sample(i)(j))
    var r = breeze.linalg.DenseMatrix.tabulate(dim, dim)((i, j) => init(i)(j))
    val errs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var iter = 0
    while (iter < iters) {
      val y = x * r.t // rows = rotated samples
      // per-subspace codebooks + reconstruction in rotated space
      val yp = breeze.linalg.DenseMatrix.zeros[Double](n, dim)
      var mse = 0.0
      for (s <- 0 until m) {
        val pts = Array.tabulate(n)(i =>
          Array.tabulate(sub)(j => y(i, s * sub + j)))
        val cents = localLloyd(pts, PqK, PqRounds)
        pts.zipWithIndex.foreach { case (p, i) =>
          var best = 0; var bestD = Double.MaxValue
          cents.indices.foreach { c =>
            var d = 0.0; var j = 0
            while (j < sub) {
              val t = p(j) - cents(c)(j); d += t * t; j += 1
            }
            if (d < bestD) { bestD = d; best = c }
          }
          mse += bestD
          var j = 0
          while (j < sub) { yp(i, s * sub + j) = cents(best)(j); j += 1 }
        }
      }
      errs += mse / n
      // Procrustes update (skip after the last Lloyd: the returned R is
      // the one the recorded final MSE was measured under)
      if (iter < iters - 1) {
        val mMat = x.t * yp
        val svd = breeze.linalg.svd(mMat)
        r = svd.Vt.t * svd.U.t
      }
      iter += 1
    }
    (Array.tabulate(dim)(i => Array.tabulate(dim)(j => r(i, j))), errs.toSeq)
  }

  /** Driver-local ADC recall proxy on the training sample: quantize the
    * (optionally rotated) sample with [[localLloyd]] codebooks, rank by
    * the ADC-style score dot(query, reconstruction), and measure top-k
    * overlap against the exact ranking — the tuning-time statistic that
    * decides whether a rotation actually helps SEARCH, not just
    * reconstruction MSE. (Measured: the refinement cuts sample MSE ~18%
    * on the near-uniform driver corpus while recall stays flat/jitters,
    * so an MSE-gain gate cannot separate "genuine un-mixing win" from
    * "quantization-friendlier basis that search doesn't feel" — recall
    * can; the retired MeasureOpqIter tool measured both.) O(n²·d) driver flops on
    * the bounded sample (~2048² · 64), deterministic. */
  private[graft] def sampleAdcRecall(sample: Array[Array[Double]],
      m: Int, rot: Option[Array[Array[Double]]], q: Int = 10, k: Int = 10)
      : Double = {
    val dim = sample.head.length
    val sub = dim / m
    val n = sample.length
    val y = rot match {
      case None => sample
      case Some(r) => sample.map(v =>
        Array.tabulate(dim)(i => {
          var s = 0.0; var j = 0
          while (j < dim) { s += r(i)(j) * v(j); j += 1 }
          s
        }))
    }
    val recon = Array.ofDim[Double](n, dim)
    for (s <- 0 until m) {
      val pts = Array.tabulate(n)(i =>
        Array.tabulate(sub)(j => y(i)(s * sub + j)))
      val cents = localLloyd(pts, PqK, PqRounds)
      pts.zipWithIndex.foreach { case (p, i) =>
        var best = 0; var bestD = Double.MaxValue
        cents.indices.foreach { c =>
          var d = 0.0; var j = 0
          while (j < sub) { val t = p(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
        }
        var j = 0
        while (j < sub) { recon(i)(s * sub + j) = cents(best)(j); j += 1 }
      }
    }
    def dotArr(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < a.length) { s += a(j) * b(j); j += 1 }
      s
    }
    def topK(scores: Int => Double): Set[Int] =
      (0 until n).sortBy(i => (-scores(i), i)).take(k).toSet
    val qn = math.min(q, n)
    (0 until qn).map { qi =>
      val exact = topK(i => dotArr(sample(qi), sample(i)))
      val approx = topK(i => dotArr(y(qi), recon(i)))
      (exact intersect approx).size.toDouble / k
    }.sum / qn
  }

  /** Margin the refined rotation's sample recall must clear over the
    * un-rotated pipeline to be adopted (the jitter band measured on
    * the near-uniform driver corpora is ±0.04). */
  val OpqRefineRecallMargin = 0.05

  /** Refined rotation with a MEASURED adoption gate: init from the
    * PCA+snake rotation when the spectrum is anisotropic (identity
    * otherwise), refine, then adopt only when BOTH hold on the sample —
    * the quantizer improved ([[OpqRefineMinGain]] MSE win over the
    * init iteration) AND search improved ([[sampleAdcRecall]] beats
    * the un-rotated pipeline by ≥ [[OpqRefineRecallMargin]]). The
    * near-uniform driver corpora pass the first test but not the
    * second → None keeps the plain tuned pipeline and its measured
    * recall exactly; the mixed-subspace fixture (flat spectrum the
    * anisotropy heuristic can't see, clusters rotated across subspace
    * boundaries) passes both (OpqIterSpec). */
  def opqRefinedRotation(sample: Array[Array[Double]], m: Int)
      : Option[Array[Array[Double]]] = {
    val dim = sample.head.length
    val init = opqRotationIfAnisotropic(sample, m)
      .getOrElse(Array.tabulate(dim)(i =>
        Array.tabulate(dim)(j => if (i == j) 1.0 else 0.0)))
    val (r, errs) = opqRefine(sample, m, init)
    if (errs.last > (1.0 - OpqRefineMinGain) * errs.head) return None
    val plain = sampleAdcRecall(sample, m, None)
    val refined = sampleAdcRecall(sample, m, Some(r))
    if (refined >= plain + OpqRefineRecallMargin) Some(r) else None
  }

  /** Scan-side application: rotated_i = R(i) · x, dim codegen'd literal
    * dots (the [[assignCell]] pattern). */
  def rotateVec(vec: Column, r: Array[Array[Double]]): Column =
    array(r.map(row => dot(vec, typedLit(row))): _*)

  private val rotationCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Option[Array[Array[Double]]]]()

  /** None = the corpus is near-isotropic and rotation is skipped (the
    * anisotropy gate above). */
  def cachedRotation(emb: DataFrame, dir: String)
      : Option[Array[Array[Double]]] = {
    val fp = dataFingerprint(emb.sparkSession, dir)
    rotationCache.keySet().removeIf(key => key._1 == dir && key._2 != fp)
    rotationCache.computeIfAbsent((dir, fp), _ => {
      val sample = trainSample(emb).select(col("embedding"))
        .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
      opqRotationIfAnisotropic(sample, PqM)
    })
  }

  /** Rotated corpus view: vec_id + rotated embedding (float, like the
    * input, so every downstream PQ path is unchanged). */
  def rotatedEmb(emb: DataFrame, r: Array[Array[Double]]): DataFrame =
    emb.select(col("vec_id"),
      rotateVec(col("embedding").cast("array<double>"), r)
        .cast("array<float>").as("embedding"))

  /** OPQ+PQ k-NN gate: rotate, train codebooks on the rotated sample,
    * run the standard fixed-shortlist PQ pipeline. Same recall-envelope
    * form as `ss_knn_pq` (ground truth is rotation-invariant). */
  def ssKnnPqOpq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    // near-isotropic corpus (the driver data at every SF) → the
    // anisotropy gate returns None and this delegates to EXACTLY the
    // plain pipeline (tuned shortlist + its cached codebooks — the
    // autotune is what carries adversarial uniform data); anisotropic
    // data rotates and keeps the FIXED shortlist, which the rotation
    // makes sufficient (the whole point: recall 0.66 → 1.00 on the
    // clustered fixture at shortlist 100)
    val pq = cachedRotation(emb, dir) match {
      case None => knnPq(s, dir)
      case Some(r) =>
        val rot = rotatedEmb(emb, r)
        val fp = dataFingerprint(s, dir)
        // evict stale "#opq"-keyed entries too — cachedCodebooks' sweep
        // matches key._1 == dir only, so a regenerated fixture would
        // otherwise accumulate dead OPQ codebook entries in one JVM
        pqCache.keySet().removeIf(key => key._1 == dir + "#opq" && key._2 != fp)
        val books = pqCache.computeIfAbsent((dir + "#opq", fp), _ => {
          val sample = trainSample(rot).cache()
          try trainCodebooks(sample)
          finally { sample.unpersist(); () }
        })
        knnPqOn(rot, books)
    }
    val brute = knnBruteOn(emb).select($"q_id", $"neighbor_id")
    val hits = pq.join(brute, Seq("q_id", "neighbor_id"), "left_semi")
    hits.agg(count(lit(1)).as("hits"))
      .select(
        lit(NumQueries).cast("long").as("n_queries"),
        lit(K).cast("long").as("k"),
        ($"hits".cast("double") / (NumQueries * K) >= PqRecallFloor)
          .as("recall_ok"))
  }

  val ssKnnPqOpqSql: String =
    s"SELECT CAST($NumQueries AS BIGINT) AS n_queries, CAST($K AS BIGINT) AS k, TRUE AS recall_ok"

  private val refinedRotationCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Option[Array[Array[Double]]]]()

  /** None = refinement showed no measured MSE win (the adoption gate in
    * [[opqRefinedRotation]]) and the plain tuned pipeline is kept. */
  def cachedRefinedRotation(emb: DataFrame, dir: String)
      : Option[Array[Array[Double]]] = {
    val fp = dataFingerprint(emb.sparkSession, dir)
    refinedRotationCache.keySet().removeIf(key => key._1 == dir && key._2 != fp)
    refinedRotationCache.computeIfAbsent((dir, fp), _ => {
      val sample = trainSample(emb).select(col("embedding"))
        .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
      opqRefinedRotation(sample, PqM)
    })
  }

  /** Iteratively-refined OPQ+PQ k-NN gate: [[ssKnnPqOpq]] with the
    * parametric alternation on top of the snake init, behind the
    * measured-gain adoption gate. On the driver corpora refinement
    * shows no win (nothing to un-mix) → delegates to the plain tuned
    * pipeline; OpqIterSpec pins the fixture where it fires. */
  def ssKnnPqOpqIt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val pq = cachedRefinedRotation(emb, dir) match {
      case None => knnPq(s, dir)
      case Some(r) =>
        val rot = rotatedEmb(emb, r)
        val fp = dataFingerprint(s, dir)
        pqCache.keySet().removeIf(key => key._1 == dir + "#opqit" && key._2 != fp)
        val books = pqCache.computeIfAbsent((dir + "#opqit", fp), _ => {
          val sample = trainSample(rot).cache()
          try trainCodebooks(sample)
          finally { sample.unpersist(); () }
        })
        // rotation is orthogonal (cosine geometry unchanged), so the
        // plain pipeline's TUNED shortlist is the right size for the
        // rotated corpus too — the fixed default measured 0.72 at sf0.1
        // on this near-uniform data (see knnPq's scaladoc numbers)
        knnPqOn(rot, books, shortlist = tunedShortlist(emb, dir))
    }
    val brute = knnBruteOn(emb).select($"q_id", $"neighbor_id")
    val hits = pq.join(brute, Seq("q_id", "neighbor_id"), "left_semi")
    hits.agg(count(lit(1)).as("hits"))
      .select(
        lit(NumQueries).cast("long").as("n_queries"),
        lit(K).cast("long").as("k"),
        ($"hits".cast("double") / (NumQueries * K) >= PqRecallFloor)
          .as("recall_ok"))
  }

  val ssKnnPqOpqItSql: String =
    s"SELECT CAST($NumQueries AS BIGINT) AS n_queries, CAST($K AS BIGINT) AS k, TRUE AS recall_ok"

  // ------------------------------------------------ grouped centroids.
  /** Per-group mean embeddings — prototype/class-centroid computation
    * (label centroids, cluster prototypes, per-source "average
    * document"). posexplode fans each vector into (group, pos, value)
    * rows and ONE keyed aggregate computes every (group, dimension)
    * mean: scan-side narrow fan-out + one shuffle keyed on
    * (group, pos) — no per-group collect, no driver loop, any number
    * of groups, any corpus size. */
  def groupedCentroids(emb: DataFrame, group: Column): DataFrame =
    emb.select(group.as("grp"), posexplode(col("embedding")))
      .groupBy(col("grp"), col("pos"))
      .agg(count(lit(1)).as("n"), avg(col("col")).as("mean"))

  /** GATE flavor: float sums are addition-order-dependent, so the gate
    * sums SCALED INTEGERS instead — v ↦ ⌊v·10⁶ + 0.5⌋ (the int8 gate's
    * bit-exact floor trick at micro precision), making every column
    * bigint-exact and the mean a single exact-inputs division. Group =
    * first md5 hex char of vec_id (16 buckets, reproducible in DuckDB —
    * production callers group by any real label/cluster column). */
  def ssCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(substring(md5(col("vec_id").cast("string")), 1, 1).as("grp"),
        posexplode(col("embedding")))
      .select(col("grp"), col("pos"),
        floor(col("col").cast("double") * 1000000d + 0.5d)
          .cast("long").as("v"))
      .groupBy(col("grp"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_micro"))
      .select(col("grp"), col("pos"), col("n"), col("sum_micro"),
        (col("sum_micro").cast("double") / col("n")).as("mean_micro"))

  // CAST(SUM(...) AS BIGINT): DuckDB's bigint SUM returns HUGEINT,
  // which the driver's pandas comparator reads as float64 and
  // dtype-mismatches Spark's int64
  val ssCentroidsSql: String =
    """SELECT grp, pos, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_micro,
      |  CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_micro
      |FROM (
      |  SELECT substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) AS grp,
      |    generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
      |      AS BIGINT) AS v
      |  FROM embeddings) t
      |GROUP BY grp, pos""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ss_centroids" -> ssCentroids,
    "ss_knn_brute" -> ssKnnBrute,
    "dd_embed_cosine" -> ddEmbedCosine,
    "ss_ann_lsh" -> ssAnnLsh,
    "ss_knn_ivf" -> ssKnnIvf,
    "ss_knn_join" -> ssKnnJoin,
    "ss_knn_join_pq" -> ssKnnJoinPq,
    "ss_knn_join_filtered" -> ssKnnJoinFiltered,
    "ss_knn_join_filtered_cow" -> ssKnnJoinFilteredCow,
    "ss_knn_join_pq_econ" -> ssKnnJoinPqEcon,
    "ss_knn_join_pq_cow" -> ssKnnJoinPqCow,
    "ss_knn_pq" -> ssKnnPq,
    "ss_knn_pq_opq" -> ssKnnPqOpq,
    "ss_knn_pq_opq_it" -> ssKnnPqOpqIt,
    "ss_knn_pq_stored" -> (PqIndex.ssKnnPqStored(_, _)),
    "ss_quantize_int8" -> ssQuantizeInt8Gate,
    "ss_knn_hamming" -> ssKnnHamming,
    "ss_semdedup" -> ssSemDedup,
    "ss_semdedup_incr" -> (IncrementalSemDedup.ssSemDedupIncr(_, _)),
  )

  /** ss_knn_ivf's neighbor lists come from k-means over floating-point
    * means no SQL engine reproduces bit-for-bit, so the GATE form emits
    * the recall ENVELOPE instead (exact query/k counts + a boolean that
    * IVF recovered ≥90% of the brute-force top-k) — which the oracle CAN
    * assert: the expected row is fully literal. */
  val oracles: Map[String, String] = Map(
    "ss_centroids" -> ssCentroidsSql,
    "ss_knn_brute" -> ssKnnBruteSql,
    "dd_embed_cosine" -> ddEmbedCosineSql,
    "ss_ann_lsh" -> ssAnnLshSql,
    "ss_knn_ivf" -> ssKnnIvfSql,
    "ss_knn_join" -> ssKnnJoinSql,
    "ss_knn_join_pq" -> ssKnnJoinPqSql,
    "ss_knn_join_filtered" -> ssKnnJoinFilteredSql,
    "ss_knn_join_filtered_cow" -> ssKnnJoinFilteredCowSql,
    "ss_knn_join_pq_econ" -> ssKnnJoinPqEconSql,
    "ss_knn_join_pq_cow" -> ssKnnJoinPqCowSql,
    "ss_knn_pq" -> ssKnnPqSql,
    "ss_knn_pq_opq" -> ssKnnPqOpqSql,
    "ss_knn_pq_opq_it" -> ssKnnPqOpqItSql,
    "ss_knn_pq_stored" -> PqIndex.ssKnnPqStoredSql,
    "ss_quantize_int8" -> ssQuantizeInt8Sql,
    "ss_knn_hamming" -> ssKnnHammingSql,
    "ss_semdedup" -> ssSemDedupSql,
    "ss_semdedup_incr" -> IncrementalSemDedup.ssSemDedupIncrSql,
  )
}
