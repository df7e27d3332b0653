package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Iterative (parametric) OPQ: the alternation must (a) stay orthogonal
  * and deterministic, (b) measurably cut quantization error, (c) win
  * recall on the mixed-subspace fixture the PCA/anisotropy heuristic is
  * blind to, and (d) be REJECTED by the measured adoption gate on the
  * near-uniform driver corpus, keeping the plain tuned pipeline. */
class OpqIterSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fixture =
    OpqFixtures.mixedSubspaceFixture(spark, 2048).cache()
  private lazy val sample = Similarity.trainSample(fixture)
    .select($"embedding").collect()
    .map(_.getSeq[Float](0).map(_.toDouble).toArray)
  private lazy val dim = sample.head.length
  private lazy val eye = Array.tabulate(dim)(i =>
    Array.tabulate(dim)(j => if (i == j) 1.0 else 0.0))

  test("fixture defeats the spectrum heuristic (covariance is near-flat)") {
    // the whole point of the fixture: cluster structure rotated across
    // subspace boundaries with NOTHING for PCA to sort
    assert(Similarity.opqRotationIfAnisotropic(sample, Similarity.PqM).isEmpty)
  }

  test("refined rotation is orthogonal and the refinement deterministic") {
    val (r1, _) = Similarity.opqRefine(sample, Similarity.PqM, eye)
    val (r2, _) = Similarity.opqRefine(sample, Similarity.PqM, eye)
    assert(r1.length == dim && r1.forall(_.length == dim))
    // R·Rᵀ ≈ I
    for (i <- 0 until dim; j <- 0 until dim) {
      val v = (0 until dim).map(k => r1(i)(k) * r1(j)(k)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(v - want) < 1e-8, s"RRᵀ($i,$j)=$v")
    }
    // bit-exact rerun stability (pure driver arithmetic end to end)
    for (i <- 0 until dim; j <- 0 until dim)
      assert(r1(i)(j) == r2(i)(j))
  }

  test("alternation cuts sample MSE well past the init iteration") {
    val (_, errs) = Similarity.opqRefine(sample, Similarity.PqM, eye)
    assert(errs.length == Similarity.OpqRefineIters)
    // measured gain 0.183 on this seeded fixture; assert a safe floor
    assert(errs.last <= 0.9 * errs.head,
      s"refinement gained only ${1 - errs.last / errs.head}")
  }

  test("adoption gate fires on the fixture and the refined basis wins end-to-end recall") {
    val rot = Similarity.opqRefinedRotation(sample, Similarity.PqM)
    assert(rot.isDefined, "adoption gate must fire on the mixed-subspace fixture")
    // end-to-end PQ recall through the real pipeline (measured: plain
    // 0.80, refined 0.92 — assert the gap with jitter margin)
    val plain = OpqFixtures.recallOn(fixture, None)
    val refined = OpqFixtures.recallOn(fixture, rot)
    assert(refined >= plain + 0.06,
      s"refined recall $refined vs plain $plain — no win")
  }

  test("adoption gate rejects the near-uniform driver corpus (plain pipeline kept)") {
    val emb = graft.Tables.embeddings(spark, TestSpark.sf0001)
    val es = Similarity.trainSample(emb).select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    // measured: sample ADC recall 0.43 plain vs 0.40 refined — the MSE
    // gain (18%!) does not translate to search and must not be adopted
    assert(Similarity.opqRefinedRotation(es, Similarity.PqM).isEmpty)
  }
}
