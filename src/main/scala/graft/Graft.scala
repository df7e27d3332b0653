package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions
import graft.plans.AsofJoinApi

/** Front door: one call gives a session with the engine's recommended
  * configuration, the custom-function SQL surface, and the as-of join
  * strategy installed — what "switching from the reference" looks like:
  *
  * {{{
  * val spark = Graft.session()              // or Graft.install(existing)
  * val docs  = spark.read.parquet("docs.parquet")
  * Dedup.minhashPairs(docs, 0.8)            // near-dup pairs
  * spark.sql("SELECT vec_dot(a.embedding, b.embedding) ...")
  * }}}
  */
object Graft {

  /** Install graft's extensions on an existing session (idempotent). */
  def install(spark: SparkSession): SparkSession = {
    GraftFunctions.register(spark)
    AsofJoinApi.enable(spark)
    spark
  }

  /** Build a session with the engine's recommended settings — the one
    * place a `SparkSession` is built (Bench, Verify, the tools and the
    * test session all come through here). Shuffle partitions default to
    * cluster parallelism, not Spark's static 200. */
  def session(master: String = "local[*]", appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString)
    install(spark)
  }
}
