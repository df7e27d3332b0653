package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The copy-on-write workload's table: orders-like rows clustered by
  * `o_orderkey`, whose base rows are a pure function of the seed. */
object Orders {
  val Key = "o_orderkey"
  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_token", LongType, nullable = false),
    StructField("o_status", StringType, nullable = false),
    StructField("o_cents", LongType, nullable = false),
    StructField("o_ver", IntegerType, nullable = false)))
  val Statuses: Array[String] = Array("O", "F", "P")

  /** The unsorted, unique lookup column: a 64-bit hash of the key. */
  def token(key: Long, seed: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash
    hash(seed, LongType, hash(key, LongType, 42L))
  }

  /** `rows` base rows (keys 0 until rows, version -1) in `files`
    * partitions of contiguous key ranges, so a write clusters them. */
  def base(spark: SparkSession, rows: Long, files: Int, seed: Long,
      customers: Long): DataFrame = {
    def h(salt: Long) = xxhash64(col("id"), lit(seed + salt))
    spark.range(0, rows, 1, files).select(
      col("id").as("o_orderkey"),
      pmod(h(1), lit(customers)).as("o_custkey"),
      xxhash64(col("id"), lit(seed)).as("o_token"),
      element_at(typedLit(Statuses.toSeq), (pmod(h(2), lit(3L)) + 1).cast("int"))
        .as("o_status"),
      pmod(h(3), lit(1000000L)).as("o_cents"),
      lit(-1).as("o_ver"))
  }

  /** A batch of rows for `keys`, written at op version `ver`. */
  def batch(keys: Array[Long], seed: Long, ver: Int,
      rng: java.util.SplittableRandom, customers: Long): Seq[Row] =
    keys.toSeq.map(k => Row(k, rng.nextLong(customers), token(k, seed),
      Statuses(rng.nextInt(3)), rng.nextLong(1000000L), ver))

  /** Order-independent digest of a table: row count and the sum of row hashes. */
  def tableDigest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)), sum(xxhash64(schema.fieldNames.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def treeFiles(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally w.close()
    }
}
