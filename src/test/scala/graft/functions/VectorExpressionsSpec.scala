package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.VectorFunctions.{vec_cosine, vec_dot}

class VectorExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("vec_dot: float and double arrays, both eval paths") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0, 5.0, 6.0)),
    ).toDF("f", "d")
    // codegen path
    val gen = df.select(vec_dot($"f", $"d")).head().getDouble(0)
    assert(gen == 32.0)
    // interpreted path
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(vec_dot($"f", $"d")).head().getDouble(0)
      assert(interp == 32.0)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("vec_dot is the sequential double fold (bit-exact vs manual)") {
    import spark.implicits._
    val a = Array.tabulate(64)(i => (math.sin(i) * 0.37).toFloat)
    val b = Array.tabulate(64)(i => (math.cos(i) * 1.13).toFloat)
    var expected = 0.0
    for (i <- 0 until 64) expected += a(i).toDouble * b(i).toDouble
    val got = Seq((a, b)).toDF("a", "b")
      .select(vec_dot($"a", $"b")).head().getDouble(0)
    assert(got == expected) // exact, not approximate
  }

  test("vec_dot null propagation") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    assert(df.select(vec_dot($"a", $"b")).head().isNullAt(0))
  }

  test("vec_cosine on unit vectors") {
    import spark.implicits._
    val got = Seq((Array(0.6f, 0.8f), Array(0.6f, 0.8f)))
      .toDF("a", "b").select(vec_cosine($"a", $"b")).head().getDouble(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("vec_dot rejects non-array inputs at analysis") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[Exception] {
      df.select(vec_dot($"a", $"b")).head()
    }
  }

  test("nearest_centroid picks what greatest(struct(dot, i)) picks, on both eval paths") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 16 centroids with duplicate rows (exact ties) and a signed zero
    val base = Seq.fill(12)(Array.fill(8)(rnd.nextGaussian() * 0.3))
    val cents = (base ++ Seq(base(3), base(7), Array.fill(8)(0.0),
      Array.fill(8)(-0.0))).toIndexedSeq
    val vecs = Seq.fill(300)(Array.fill(8)(rnd.nextGaussian().toFloat)) ++
      Seq(Array.fill(8)(0.0f), Array(Float.NaN) ++ Array.fill(7)(1.0f), null)
    val df = vecs.map(Tuple1(_)).toDF("v")
    val viaGreatest = greatest(cents.zipWithIndex.map { case (c, i) =>
      struct(vec_dot($"v", typedLit(c)).as("d"), lit(i).as("c"))
    }: _*).getField("c")
    val viaNearest = VectorFunctions.nearest_centroid($"v",
      typedLit(cents.map(_.toSeq)))
    def pairs(): Seq[(Int, Int)] =
      df.select(viaGreatest, viaNearest).collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSeq
    val gen = pairs()
    assert(gen.forall { case (a, b) => a == b }, gen.filter(p => p._1 != p._2))
    // interpreted: no whole-stage codegen, no codegen'd projections
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(pairs() == gen)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
