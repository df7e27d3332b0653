package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Advanced, BpeTokenizer, Changelog, CowGates, DataQuality, Dedup, Layout, MatView, Multimodal, Relational, Sampling, Scale, Similarity, TextAnalysis, TpchDerived, WordCount}
import graft.streaming.EventStreams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every implemented operator gets a `queries` entry; SQL-expressible ones
  * also get a DuckDB oracle in `oracleSql` with IDENTICAL column names. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Word count through the MapReduce kernel — the reference's canonical
    * example (/root/reference/README.md:34-46). */
  def entry(spark: SparkSession): DataFrame =
    WordCount.viaMapReduce(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
      "wordcount_mapreduce" -> ((s, d) => WordCount.viaMapReduce(s, d)),
      "wordcount_dataframe" -> ((s, d) => WordCount.viaDataFrame(s, d)),
    ) ++ Relational.queries ++ Advanced.queries ++ TextAnalysis.queries ++
      Dedup.queries ++ Similarity.queries ++ Multimodal.queries ++
      EventStreams.queries ++ Sampling.queries ++ Scale.queries ++
      Changelog.queries ++ Layout.queries ++ MatView.queries ++
      DataQuality.queries ++ CowGates.queries ++ TpchDerived.queries ++
      BpeTokenizer.queries ++ graft.sources.SourceGates.queries

  private val wordcountOracle =
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents)
      |WHERE word <> '' GROUP BY word""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "wordcount_mapreduce" -> wordcountOracle,
    "wordcount_dataframe" -> wordcountOracle,
  ) ++ Relational.oracles ++ Advanced.oracles ++ TextAnalysis.oracles ++
    Dedup.oracles ++ Similarity.oracles ++ Multimodal.oracles ++
    EventStreams.oracles ++ Sampling.oracles ++ Scale.oracles ++
    Changelog.oracles ++ Layout.oracles ++ MatView.oracles ++
    DataQuality.oracles ++ CowGates.oracles ++ TpchDerived.oracles ++
    BpeTokenizer.oracles ++ graft.sources.SourceGates.oracles
}
