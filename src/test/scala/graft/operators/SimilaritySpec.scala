package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine of known vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0),
      (Array(3.0f, 4.0f), Array(3.0f, 4.0f), 1.0),
    ).toDF("a", "b", "expected")
    df.select(Similarity.cosine($"a", $"b").as("c"), $"expected")
      .collect().foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("brute-force knn returns k ranked neighbors per query") {
    val knn = Similarity.ssKnnBrute(spark, TestSpark.sf0001)
    val rows = knn.collect()
    assert(rows.length == Similarity.NumQueries * Similarity.K)
    // ranks are 1..K and cosine non-increasing within each query
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    byQ.values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to Similarity.K))
      val cos = sorted.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
      assert(sorted.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("q_id")))
    }
  }

  test("ann lsh output is a subset of exact near-dup pairs, cosine above threshold") {
    val exact = Similarity.ddEmbedCosine(spark, TestSpark.sf0001)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val ann = Similarity.ssAnnLsh(spark, TestSpark.sf0001)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(ann.subsetOf(exact))
  }

  test("ivf centroids: one per label, mean of member vectors") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(1.0f, 1.0f), 1),
    ).toDF("vec_id", "embedding", "label")
    val cents = Similarity.centroids(emb).orderBy("label")
      .select($"label", $"centroid").collect()
    assert(cents.length == 2)
    assert(cents(0).getSeq[Double](1) == Seq(0.5, 0.5))
    assert(cents(1).getSeq[Double](1) == Seq(1.0, 1.0))
  }

  test("trained k-means is deterministic and covers all vectors") {
    val emb = graft.Tables.embeddings(spark, TestSpark.sf0001)
    val c1 = Similarity.trainCentroids(emb)
    val c2 = Similarity.trainCentroids(emb)
    assert(c1.length == Similarity.IvfCells)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
    // every vector lands in a valid cell
    val cells = emb.select(Similarity.assignCell($"embedding", c1).as("cell"))
      .distinct().as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < Similarity.IvfCells))
  }

  test("trained ivf knn reaches >= 0.9 recall vs brute force") {
    val brute = Similarity.ssKnnBrute(spark, TestSpark.sf0001)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.knnIvf(spark, TestSpark.sf0001, Similarity.IvfProbe)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall was $recall")
  }

  test("ivf knn: probed-cell results are exact within recalled neighbors") {
    val ivf = Similarity.knnIvf(spark, TestSpark.sf0001, Similarity.IvfProbe)
    val rows = ivf.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
      assert(g.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to g.length))
    }
  }

  test("probe auto-tuning: clustered corpus needs far fewer probes than uniform") {
    // planted corpus: 4 well-separated direction clusters in 64-dim —
    // members = unit(center + small deterministic noise); queries
    // (vec_id < NumQueries) spread across clusters
    val rnd = new scala.util.Random(42)
    val dim = 64
    val centers = (0 until 4).map { c =>
      val v = Array.tabulate(dim)(i => if (i % 4 == c) 1.0 else 0.0)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => x / n)
    }
    val rows = (0 until 400).map { id =>
      val c = centers(id % 4)
      val noisy = c.map(x => x + rnd.nextGaussian() * 0.05)
      val n = math.sqrt(noisy.map(x => x * x).sum)
      (id.toLong, noisy.map(x => (x / n).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(emb, k = 8, rounds = 3)
    val clusteredProbe = Similarity.chooseProbe(emb, cents)
    assert(clusteredProbe <= 4,
      s"clustered corpus should need few probes, chose $clusteredProbe")
    // recall contract holds at the chosen probe count
    val brute = Similarity.knnBruteOn(emb)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.knnIvfOn(emb, cents, clusteredProbe)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert((brute & ivf).size.toDouble / brute.size >= 0.9)
    // the near-uniform real corpus needs more probes than the clustered one
    val realEmb = graft.Tables.embeddings(spark, TestSpark.sf0001)
    val realProbe = Similarity.chooseProbe(
      realEmb, Similarity.cachedCentroids(realEmb, TestSpark.sf0001))
    assert(realProbe > clusteredProbe,
      s"uniform corpus chose $realProbe vs clustered $clusteredProbe")
    assert(realProbe <= Similarity.IvfProbe,
      s"shipped IvfProbe=${Similarity.IvfProbe} should cover the measured $realProbe")
  }

  test("semantic dedup: planted dup groups collapse to one survivor each") {
    // 4 well-separated direction clusters; inside each, vec ids that are
    // EXACT copies of the cluster center (cosine 1 with each other) plus
    // distinct noisy members below the threshold
    val rnd = new scala.util.Random(7)
    val dim = 64
    val centers = (0 until 4).map { c =>
      val v = Array.tabulate(dim)(i => if (i % 4 == c) 1.0 else 0.0)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => x / n)
    }
    val copies = Seq( // (vec_id, cluster) — ids 0..7 are planted copies
      (0L, 0), (1L, 0), (2L, 0), (3L, 1), (4L, 1), (5L, 2), (6L, 2), (7L, 3))
    val copyRows = copies.map { case (id, c) =>
      (id, centers(c).map(_.toFloat)) }
    val noiseRows = (8 until 200).map { id =>
      val c = centers(id % 4)
      val noisy = c.map(x => x + rnd.nextGaussian() * 0.45)
      val n = math.sqrt(noisy.map(x => x * x).sum)
      (id.toLong, noisy.map(x => (x / n).toFloat))
    }
    val emb = (copyRows ++ noiseRows).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(emb, k = 8, rounds = 3)
    val kept = Similarity.semanticDedupRetain(emb, cents, threshold = 0.995)
      .select($"vec_id").as[Long].collect().toSet
    // identical copies always co-cluster (same vector, same nearest
    // centroid), so keep-first retains exactly the min id per group
    assert(Set(0L, 3L, 5L, 7L).subsetOf(kept))
    assert(!kept.exists(Seq(1L, 2L, 4L, 6L).contains(_)),
      s"non-canonical copies survived: ${kept.intersect(Set(1L, 2L, 4L, 6L))}")
    // distinct members all survive at this threshold
    assert((8L until 200L).forall(kept.contains))
  }

  test("shortlist tuning search bound is clamped: no Int overflow at huge N") {
    import Similarity.{K, PqShortlist, shortlistSearchCap}
    // >2³¹-row corpus: an uncapped count().toInt would go negative and
    // degenerate the binary search — the cap keeps it a small constant
    assert(shortlistSearchCap(3_000_000_000L) == 64 * PqShortlist)
    assert(shortlistSearchCap(Long.MaxValue) == 64 * PqShortlist)
    // small corpora pass through; never below K (the search's lo)
    assert(shortlistSearchCap(500L) == 500)
    assert(shortlistSearchCap(2L) == K)
  }

  test("semantic dedup coverage on BORDERLINE (0.45-0.5 cosine) planted groups") {
    // The gate's 0.25 coverage floor is measured on the near-uniform
    // driver sphere, where borderline pairs straddle cell boundaries.
    // This fixture pins the regime the operator exists for: well-
    // separated GROUPS whose members are near-dups of each other at
    // cosines just above the 0.45 threshold — a clustering regression
    // (e.g. random assignment ⇒ coverage ~1/k) must fail the floor.
    val rnd = new scala.util.Random(19)
    val dim = 64
    val nGroups = 8
    val perGroup = 6
    // orthonormal group centers: center g is the indicator of dims
    // {8g..8g+7} normalized — exactly orthogonal to every other center
    val centers = (0 until nGroups).map { g =>
      Array.tabulate(dim)(i => if (i / 8 == g) 1.0 / math.sqrt(8.0) else 0.0)
    }
    // member = cosA·center + sinA·w with w a random unit vector ⊥ center;
    // pairwise member cosine ≈ cos²A + sin²A·(wᵢ·wⱼ) ≈ 0.48 ± noise
    val cosA = math.sqrt(0.48)
    val sinA = math.sqrt(1 - 0.48)
    val rows = for {
      g <- 0 until nGroups; m <- 0 until perGroup
    } yield {
      val c = centers(g)
      val raw = Array.fill(dim)(rnd.nextGaussian())
      val d = raw.zip(c).map { case (x, y) => x * y }.sum
      val perp = raw.zip(c).map { case (x, y) => x - d * y }
      val pn = math.sqrt(perp.map(x => x * x).sum)
      val v = c.zip(perp).map { case (ci, pi) => cosA * ci + sinA * pi / pn }
      ((g * perGroup + m).toLong, v.map(_.toFloat))
    }
    // exact borderline pair set, brute-forced driver-side (48 vectors)
    val vecs = rows.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = vecs.keys.toSeq.sorted
    val exactPairs = (for {
      i <- ids; j <- ids if i < j
      c = cos(vecs(i), vecs(j)) if c >= Similarity.SemDedupThreshold
    } yield (i, j, c)).toSeq
    assert(exactPairs.nonEmpty)
    // the fixture is genuinely borderline: median pair cosine in band
    val cosines = exactPairs.map(_._3).sorted
    val median = cosines(cosines.length / 2)
    assert(median >= 0.44 && median <= 0.55,
      s"fixture drifted out of the borderline band: median cosine $median")
    val emb = rows.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(emb, k = nGroups, rounds = 5)
    val found = Similarity
      .semanticPairs(emb, cents, Similarity.SemDedupThreshold)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    val covered = exactPairs.count { case (a, b, _) => found.contains((a, b)) }
    val coverage = covered.toDouble / exactPairs.size
    assert(coverage >= 0.8,
      s"borderline-group coverage $coverage < 0.8 " +
        s"($covered of ${exactPairs.size} exact pairs found within-cluster)")
  }

  test("ss_semdedup gate: anchors exact, both claims hold") {
    val row = Similarity.ssSemDedup(spark, TestSpark.sf0001).collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("n_docs") == 500L)
    assert(row(0).getAs[Boolean]("drops_all_verified"))
    assert(row(0).getAs[Boolean]("coverage_ok"))
  }

  test("ssKnnIvf gate form reports the recall envelope as satisfied") {
    val row = Similarity.ssKnnIvf(spark, TestSpark.sf0001).collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("n_queries") == Similarity.NumQueries)
    assert(row(0).getAs[Long]("k") == Similarity.K)
    assert(row(0).getAs[Boolean]("recall_ok"),
      "IVF recall vs brute force fell below the 0.9 envelope")
  }

  test("pq: codes in range and deterministic, gate envelope satisfied") {
    import spark.implicits._
    val dir = TestSpark.sf0001
    val emb = graft.Tables.embeddings(spark, dir)
    val books = Similarity.cachedCodebooks(emb, dir)
    assert(books.size == Similarity.PqM)
    assert(books.forall(_.size == Similarity.PqK))
    assert(books.forall(_.forall(_.length == Similarity.PqDim / Similarity.PqM)))
    // codes: M entries per vector, all in [0, K)
    val codes = emb.select($"vec_id",
      Similarity.pqEncode($"embedding", books).as("codes"))
    // with the codegen fallback off, a whole-stage method past the JVM's
    // 64 KB limit throws instead of silently falling back: the encode
    // (under a global count) and the PQ join's shortlist sort must fit
    val fallback = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val bad = try {
      assert(Similarity.knnJoinPqOn(emb, Similarity.cachedCentroids(emb, dir),
        books, Similarity.IvfProbe).count() > 0L)
      codes.select(explode($"codes").as("c"))
        .filter($"c" < 0 || $"c" >= Similarity.PqK).count()
    } finally fallback match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
    assert(bad == 0L)
    // deterministic under re-partitioning (scan-side literal dots)
    val a = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = emb.repartition(7)
      .select($"vec_id", Similarity.pqEncode($"embedding", books).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a == b)
    // gate envelope on the real corpus
    val row = Similarity.ssKnnPq(spark, dir).head()
    assert(row.getAs[Boolean]("recall_ok"),
      s"PQ recall fell below ${Similarity.PqRecallFloor}")
  }

  test("pq exact rerank: emitted cosines equal the brute-force scorer's") {
    import spark.implicits._
    // for every (q, neighbor) PQ emits that also appears in brute-force
    // output, the cosine/rank must come from the same exact scorer
    val dir = TestSpark.sf0001
    val pq = Similarity.knnPq(spark, dir)
      .select($"q_id", $"neighbor_id", $"cosine".as("pq_cos"))
    val brute = Similarity.ssKnnBrute(spark, dir)
      .select($"q_id", $"neighbor_id", $"cosine".as("b_cos"))
    val joined = pq.join(brute, Seq("q_id", "neighbor_id")).collect()
    assert(joined.nonEmpty)
    assert(joined.forall(r => r.getAs[Double]("pq_cos") == r.getAs[Double]("b_cos")))
  }

  test("pq shortlist: fixed default reaches >= 0.9 recall on a clustered corpus") {
    // the scale contract: on realistically clustered embeddings the
    // FIXED PqShortlist (non-corpus-proportional) recovers the true
    // top-k, so the exact rerank and the q_id shuffle stay O(Q·100)
    // regardless of corpus size. Planted corpus = 8 well-separated
    // direction clusters (the chooseProbe fixture, scaled up).
    val rnd = new scala.util.Random(7)
    val dim = Similarity.PqDim
    val centers = (0 until 8).map { c =>
      val v = Array.tabulate(dim)(i => if (i % 8 == c) 1.0 else 0.0)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => x / n)
    }
    val rows = (0 until 1200).map { id =>
      val c = centers(id % 8)
      val noisy = c.map(x => x + rnd.nextGaussian() * 0.05)
      val n = math.sqrt(noisy.map(x => x * x).sum)
      (id.toLong, noisy.map(x => (x / n).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val books = Similarity.trainCodebooks(emb)
    val brute = Similarity.knnBruteOn(emb)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // default (fixed) shortlist — the knnPqOn signature default
    val pq = Similarity.knnPqOn(emb, books)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.9, s"fixed-shortlist recall on clustered corpus was $recall")
    // and the autotune agrees the corpus needs no more than the default
    val tuned = Similarity.chooseShortlist(emb, books)
    assert(tuned <= Similarity.PqShortlist,
      s"clustered corpus tuned shortlist $tuned exceeds fixed ${Similarity.PqShortlist}")
  }

  test("int8 quantization: values in range, dequantized cosine within 1%") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, TestSpark.sf0001)
    val q = Similarity.ssQuantizeInt8(spark, TestSpark.sf0001)
    // all quantized components within the int8 symmetric range
    val bad = q.select(explode($"qvec").as("c"))
      .filter($"c" > 127 || $"c" < -127).count()
    assert(bad == 0L)
    // cosine(original, dequantized) >= 0.99 for every vector
    val joined = emb.join(q, "vec_id")
      .select($"vec_id", $"embedding", transform($"qvec",
        c => c.cast("double") * $"scale").as("dq"))
    val worst = joined.select(Similarity.cosine($"embedding", $"dq").as("c"))
      .agg(min($"c")).head().getDouble(0)
    assert(worst >= 0.99, s"worst dequantized cosine $worst")
  }

  test("OPQ rotation: orthogonal, recall-lifting on anisotropic clusters") {
    import spark.implicits._
    val fix = OpqFixtures.clusteredFixture(spark, 2000)
    val sample = Similarity.trainSample(fix).select($"embedding")
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val r = Similarity.opqRotation(sample, Similarity.PqM)
    // orthogonality: R·Rᵀ = I (cosines — and therefore ground truth —
    // are invariant under the rotation)
    for (i <- r.indices; j <- r.indices) {
      val d = r(i).zip(r(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9, s"R·Rᵀ($i,$j)=$d")
    }
    def recallOf(base: org.apache.spark.sql.DataFrame): Double = {
      val books = Similarity.trainCodebooks(Similarity.trainSample(base))
      val pq = Similarity.knnPqOn(base, books)
      val brute = Similarity.knnBruteOn(fix).select($"q_id", $"neighbor_id")
      pq.join(brute, Seq("q_id", "neighbor_id"), "left_semi").count().toDouble /
        (Similarity.NumQueries * Similarity.K)
    }
    val plain = recallOf(fix)
    val opq = recallOf(Similarity.rotatedEmb(fix, r))
    // measured (seed 7, 2000 rows): plain ~0.66, opq ~1.0 — margins wide
    assert(opq >= 0.9, s"opq recall $opq")
    assert(opq >= plain + 0.1,
      s"rotation should lift recall on correlated clusters: $plain -> $opq")
  }

  test("OPQ anisotropy gate: rotates clusters, skips isotropic data") {
    import spark.implicits._
    val fix = OpqFixtures.clusteredFixture(spark, 2000)
    val aniso = Similarity.trainSample(fix).select($"embedding")
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    assert(Similarity.opqRotationIfAnisotropic(aniso, Similarity.PqM).isDefined)
    // near-uniform sphere (the driver corpus shape): ratio ~1.8 < 4 →
    // identity wins (rotation is neutral-at-best there and jitters the
    // subspace grouping)
    val rnd = new scala.util.Random(11)
    val iso = Array.fill(1000)(
      Array.fill(Similarity.PqDim)(rnd.nextGaussian()))
      .map(v => { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) })
    assert(Similarity.opqRotationIfAnisotropic(iso, Similarity.PqM).isEmpty)
  }

  test("grouped centroids: one row per (group, dim), true means, no collect") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)), // group a
      (3L, Array(10.0f, 20.0f))) // group b
      .toDF("vec_id", "embedding")
    val out = Similarity.groupedCentroids(emb,
      when($"vec_id" <= 2, "a").otherwise("b"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("a", 0)) == ((2L, 2.0))) // (1+3)/2
    assert(out(("a", 1)) == ((2L, 3.0))) // (2+4)/2
    assert(out(("b", 0)) == ((1L, 10.0)))
    assert(out(("b", 1)) == ((1L, 20.0)))
    // gate flavor covers every (bucket, dim) cell exactly once
    val gate = Similarity.ssCentroids(spark, graft.TestSpark.sf0001)
    assert(gate.count() == 16L * 64L)
    assert(gate.groupBy($"grp", $"pos").count()
      .filter($"count" > 1).isEmpty)
  }

  // ----------------------------------------------- 1-bit Hamming k-NN

  test("sign_pack matches a reference bit loop, handles ragged and negative zero") {
    import graft.functions.VectorFunctions.sign_pack
    val vecs = Seq(
      Array(1.0f, -1.0f, 0.0f, -0.0f, 2.5f),       // ragged: only 5 elems
      Array.fill(40)(-1.0f),
      Array.tabulate(40)(i => if (i % 3 == 0) 1.0f else -1.0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
    def ref(v: Array[Float], off: Int, width: Int): Long = {
      var w = 0L
      for (i <- 0 until math.min(width, math.max(0, v.length - off)))
        if (v(off + i) >= 0) w |= (1L << i)
      w
    }
    val gotPairs = df.select($"id", sign_pack($"vec", 0, 32), sign_pack($"vec", 32, 8))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      assert(gotPairs(i.toLong) == ((ref(v, 0, 32), ref(v, 32, 8))), s"vec $i")
    }
    // -0.0f >= 0 in IEEE comparison: bit set (same in DuckDB)
    assert((gotPairs(0L)._1 & (1L << 3)) != 0)
  }

  test("hamming knn equals a driver-side reference on real data") {
    val emb = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .as[(Long, Array[Float], Int)].collect().sortBy(_._1)
    val signs = emb.map { case (id, v, _) => id -> v.map(_ >= 0) }
    val q = Similarity.NumQueries
    val expect = signs.take(q).flatMap { case (qid, qs) =>
      signs.filter(_._1 != qid)
        .map { case (id, s) =>
          (id, s.zip(qs).count { case (a, b) => a != b }) }
        .sortBy { case (id, h) => (h, id) }
        .take(Similarity.K).zipWithIndex
        .map { case ((id, h), r) => (qid, id, r + 1, h) }
    }.toSet
    val got = Similarity.ssKnnHamming(spark, TestSpark.sf0001)
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(got == expect)
  }

  test("hamming rerank reaches >= 0.9 recall vs brute force at the shipped shortlist") {
    val emb = graft.Tables.embeddings(spark, TestSpark.sf0001)
    val brute = Similarity.ssKnnBrute(spark, TestSpark.sf0001)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val rer = Similarity.hammingRerank(emb)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & rer).size.toDouble / brute.size
    assert(recall >= 0.9, s"hamming-rerank recall was $recall")
    // rerank cosines are the exact scorer's values on the overlap
    val bc = Similarity.ssKnnBrute(spark, TestSpark.sf0001)
      .select($"q_id", $"neighbor_id", $"cosine").as[(Long, Long, Double)]
      .collect().map { case (a, b, c) => (a, b) -> c }.toMap
    Similarity.hammingRerank(emb)
      .select($"q_id", $"neighbor_id", $"cosine").as[(Long, Long, Double)]
      .collect().foreach { case (a, b, c) =>
        bc.get((a, b)).foreach(e => assert(c == e, s"cosine drift at ($a,$b)"))
      }
  }

  test("hamming knn plan: signatures scan-side, WindowGroupLimit pre-prune, one shuffle") {
    val plan = Similarity.ssKnnHamming(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pre-prune in:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).length -
      "BroadcastExchange".r.findAllIn(plan).length
    assert(exchanges <= 1,
      s"expected at most one data shuffle, got $exchanges in:\n$plan")
  }
}
