package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The bench protocol's per-run function as `BenchOne` reports it: only
  * a `benchSplit` gate carries a build half and a table, and every Spark
  * job of a run names the source line that launched it. */
class BenchOneSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("a gate run splits build from op, a plain query does not, and no job's call site is '?'") {
    val gate = BenchOne.probe(spark, TestSpark.sf0001, "lh_merge")
    val plain = BenchOne.probe(spark, TestSpark.sf0001, "q1_pricing_summary")
    assert(gate.timing.build.isDefined && gate.timing.table.isDefined)
    assert(gate.tableBytes > 0)
    assert(plain.timing.build.isEmpty && plain.timing.table.isEmpty)
    for (p <- Seq(gate, plain)) {
      assert(p.jobs.nonEmpty && p.tasks > 0)
      // every job names a source line, also AQE's pool-thread stages
      val unnamed = p.jobs.filterNot(_.site.contains(".scala:"))
      assert(unnamed.isEmpty, s"jobs without an engine call site: $unnamed")
    }
  }
}
