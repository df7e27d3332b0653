package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded embedding fixtures for the OPQ specs, with the end-to-end PQ
  * recall they are judged by. */
object OpqFixtures {

  /** Anisotropic, correlated clusters: 8 direction clusters whose noise
    * is stretched along a few shared directions — the correlation
    * structure OPQ exists to decorrelate (a uniform sphere shows no
    * gain by symmetry). */
  def clusteredFixture(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = Similarity.PqDim
    val centers = (0 until 8).map { c =>
      val v = Array.tabulate(dim)(i => if (i % 8 == c) 1.0 else 0.0)
      val nn = math.sqrt(v.map(x => x * x).sum); v.map(_ / nn)
    }
    // shared anisotropy: 4 stretch directions with large scales
    val stretch = (0 until 4).map(_ =>
      Array.fill(dim)(rnd.nextGaussian()))
      .map(v => { val s = math.sqrt(v.map(x => x * x).sum); v.map(_ / s) })
    val rows = (0 until n).map { id =>
      val c = centers(id % 8)
      val g = Array.fill(dim)(rnd.nextGaussian() * 0.02)
      val along = stretch.map(_ => rnd.nextGaussian() * 0.15)
      val noisy = Array.tabulate(dim)(i =>
        c(i) + g(i) + stretch.zip(along).map { case (s, a) => s(i) * a }.sum)
      val nn = math.sqrt(noisy.map(x => x * x).sum)
      (id.toLong, noisy.map(x => (x / nn).toFloat))
    }
    rows.toDF("vec_id", "embedding")
  }

  /** Independent per-subspace clusters (4 sign-pattern codewords per
    * 8-dim subspace), mixed by a fixed random orthogonal Q — in the
    * right basis PQ is near-lossless, in the mixed basis every subspace
    * sees a blend. Deterministic (seeded). */
  def mixedSubspaceFixture(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val dim = Similarity.PqDim
    val m = Similarity.PqM
    val sub = dim / m
    val rnd = new scala.util.Random(11)
    // 48 codewords per subspace > PqK=32 codes: quantization is lossy
    // even in the right basis, and catastrophically blended in the
    // mixed basis — basis quality becomes visible in recall
    val codewords = Array.fill(m, 48)(
      Array.fill(sub)((if (rnd.nextBoolean()) 1.0 else -1.0) / math.sqrt(dim)))
    // fixed orthogonal mix: QR of a seeded Gaussian matrix
    val g = breeze.linalg.DenseMatrix.fill(dim, dim)(rnd.nextGaussian())
    val q = breeze.linalg.qr(g).q
    val rows = (0 until n).map { id =>
      val x = new Array[Double](dim)
      for (s <- 0 until m) {
        val cw = codewords(s)(rnd.nextInt(48))
        var j = 0
        while (j < sub) { x(s * sub + j) = cw(j) + rnd.nextGaussian() * 0.03; j += 1 }
      }
      val y = Array.tabulate(dim)(i =>
        (0 until dim).map(j => q(i, j) * x(j)).sum)
      val nn = math.sqrt(y.map(v => v * v).sum)
      (id.toLong, y.map(v => (v / nn).toFloat))
    }
    rows.toDF("vec_id", "embedding")
  }

  /** PQ recall@K of `emb` (rotated by `rot`, if given) against brute
    * force over the unrotated vectors. */
  def recallOn(emb: DataFrame, rot: Option[Array[Array[Double]]]): Double = {
    import emb.sparkSession.implicits._
    val base = rot.map(r => Similarity.rotatedEmb(emb, r)).getOrElse(emb)
    val books = Similarity.trainCodebooks(Similarity.trainSample(base))
    val pq = Similarity.knnPqOn(base, books)
    val brute = Similarity.knnBruteOn(emb).select($"q_id", $"neighbor_id")
    val hits = pq.join(brute, Seq("q_id", "neighbor_id"), "left_semi").count()
    hits.toDouble / (Similarity.NumQueries * Similarity.K)
  }
}
