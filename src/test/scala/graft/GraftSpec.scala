package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GraftSpec extends AnyFunSuite {
  test("session gives every entry point AQE with coalescing, UTC, " +
      "parallelism-sized shuffles, SQL functions and the as-of strategy") {
    // TestSpark is built by Graft.session, as are Bench, Verify, the
    // tools and the perfbench driver
    val spark = TestSpark.spark
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      spark.sparkContext.defaultParallelism.toString)
    assert(spark.catalog.functionExists("vec_dot"))
    assert(spark.experimental.extraStrategies
      .contains(graft.plans.AsofJoinStrategy))
  }

  test("install wires SQL functions and the as-of strategy (idempotent)") {
    val spark = Graft.install(Graft.install(TestSpark.spark))
    assert(spark.sql("SELECT vec_dot(array(1.0D), array(2.0D)) AS d")
      .head().getDouble(0) == 2.0)
    assert(spark.experimental.extraStrategies
      .count(_ == graft.plans.AsofJoinStrategy) == 1)
  }

  test("Graft.scala is the only source that builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val sources = Seq("src/main", "src/test").flatMap { root =>
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(sources.exists(_.getFileName.toString == "Graft.scala"))
    val offenders = sources.filter(p => p.getFileName.toString != "Graft.scala" &&
      Files.readString(p).contains(needle))
    assert(offenders.isEmpty, s"build sessions through Graft.session: $offenders")
  }
}
