package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Bench, Graft, SparkEntry}

/** Per-query formatted physical plans — the before/after evidence of
  * the explain-and-iterate loop (pushdown, pruning, broadcast choices,
  * codegen spans), one file per query: `<outDir>/<name>_<suffix>.txt`.
  * Usage: `runMain graft.tools.DumpPlans <outDir> <suffix> <name…>`,
  * e.g. `runMain graft.tools.DumpPlans plans/r18 before ss_knn_join`.
  * Envelope-gated names dump the raw production operator, as the bench
  * times it. AQE is off so the initial plan shape (exchanges, join
  * strategy, pushdown) is readable; production runs re-plan adaptively
  * on top. Reads `SPARK_GRAFT_SF_DIR` (default sf0.01). */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: graft.tools.DumpPlans <outDir> <suffix> <name...>")
      sys.exit(2)
    }
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Graft.session(master = "local[8]")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val plan = Bench.raw.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
