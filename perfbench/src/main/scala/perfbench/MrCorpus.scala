package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

import graft.core.{ExportedShuffle, MapReduce, MapReduceSpec, Sha1HashPartitioner}

/** The reference's canonical word count. */
object WordCount extends MapReduceSpec[String, String, Long] {
  override def map(doc: String): IterableOnce[(String, Long)] =
    doc.split(' ').iterator.map(w => (w, 1L))
  override def reduce(key: String, a: Long, b: Long): Long = a + b

  def toLong(v: Any): Long = v match {
    case n: Long => n
    case n: BigInt => n.toLong
    case other => throw new IllegalArgumentException(s"not a count: $other")
  }
  val reduceAny: (Any, Any, Any) => Any = (_, a, b) => toLong(a) + toLong(b)
}

/** `mr_corpus`: word count over a seeded corpus of log-uniform (Zipf
  * s = 1) words through the three `core` entry points, in turn:
  * `MapReduce.shuffle`, `MapReduce.run`, and `ExportedShuffle.write`
  * followed by `ExportedShuffle.read`. The vocabulary is far larger than
  * the map-side combiner's 65,536 entries, though each map task sees
  * about 63,000 distinct words at this size. */
final class MrCorpus(ctx: Ctx) extends Workload(ctx) {
  private val tiny = ctx.cfg.tiny
  val docs: Int = if (tiny) 400 else 20000
  val wordsPerDoc: Int = if (tiny) 20 else 50
  val vocab: Int = if (tiny) 2000 else 300000
  val partitions = 8
  def pairs: Long = docs.toLong * wordsPerDoc

  override val cycle: IndexedSeq[String] = Vector("shuffle", "run", "export_import")
  override def opClass(kind: String): String = "mr"
  override def maxOps: Int = 3000

  private var corpus: Array[String] = _
  private val tally = mutable.HashMap.empty[String, Long]
  private var digestHex = ""
  private var rdd: RDD[String] = _
  private var ds: Dataset[String] = _
  private var observed: Array[Array[(String, Long)]] = _

  override def generate(): Unit = {
    val rng = ctx.rng(1)
    val mix = ctx.rng(2).nextLong()
    val words = Array.tabulate(vocab) { r =>
      "w" + java.lang.Long.toString((java.lang.Long.rotateLeft(r * 0x9E3779B97F4A7C15L ^ mix, 17) *
        0xBF58476D1CE4E5B9L) >>> 28, 36)
    }
    val lnV = math.log(vocab.toDouble)
    val md = MessageDigest.getInstance("SHA-256")
    corpus = Array.fill(docs) {
      val sb = new StringBuilder
      for (i <- 0 until wordsPerDoc) {
        val w = words(math.min(vocab - 1, math.exp(rng.nextDouble() * lnV).toInt - 1))
        if (i > 0) sb += ' '
        sb ++= w
        tally(w) = tally.getOrElse(w, 0L) + 1
      }
      val d = sb.toString
      md.update(d.getBytes(UTF_8))
      d
    }
    digestHex = Main.hex(md)
  }

  override def build(): Unit = {
    import spark.implicits._
    rdd = spark.sparkContext.parallelize(corpus.toSeq, ctx.cfg.cores).cache()
    rdd.count()
    ds = spark.createDataset(rdd).cache()
    ds.count()
  }

  /** Two cycles: while the JIT compiles, the first cycle runs several
    * times slower than later ones and the second still up to 1.7 times;
    * a 10 s loop of 3-4 cycles would count that in its medians. From the
    * third on, operations run at their steady speed. */
  override def warmup(): Unit = (0 until 2 * cycle.size).foreach { i =>
    op(cycle(i % cycle.size), -1 - i)
    cleanExport(-1 - i)
  }

  private def exportDir(n: Int) = ctx.dir.resolve(s"export/op$n")
  private def cleanExport(n: Int): Unit = Main.deleteTree(exportDir(n))

  override def op(kind: String, n: Int): Long = {
    import spark.implicits._
    observed = kind match {
      case "shuffle" =>
        ctx.call("core", "MapReduce.shuffle")(
          MapReduce.shuffle(rdd, WordCount, partitions).glom().collect())
      case "run" =>
        Array(ctx.call("core", "MapReduce.run")(MapReduce.run(ds, WordCount).collect()))
      case "export_import" =>
        val dir = exportDir(n).toString
        ctx.call("core", "ExportedShuffle.write") {
          ExportedShuffle.write(rdd.flatMap(d => WordCount.map(d).iterator
            .map { case (k, v) => (k: Any, v: Any) }), dir, partitions,
            Some(WordCount.reduceAny))
        }
        ctx.call("core", "ExportedShuffle.read") {
          ExportedShuffle.read(spark, Seq(dir), partitions, Some(WordCount.reduceAny))
            .map { case (k, v) => (k.asInstanceOf[String], WordCount.toLong(v)) }
            .glom().collect()
        }
    }
    pairs
  }

  /** The SHA1 partition of every generated word, computed on first use. */
  private lazy val partitionOf: Map[String, Int] = {
    val p = Sha1HashPartitioner(partitions)
    tally.keys.map(k => k -> p(k)).toMap
  }

  /** Counts equal the generator's tally; for the partitioned entry
    * points every key sits in its SHA1 partition, sorted within it. */
  private def check(kind: String, parts: Array[Array[(String, Long)]]): Boolean = {
    val counts = parts.iterator.flatten.toSeq
    val sameCounts = counts.size == tally.size &&
      counts.forall { case (k, v) => tally.get(k).contains(v) }
    val partitioned = kind == "run" || {
      parts.length == partitions && parts.zipWithIndex.forall { case (ps, i) =>
        ps.forall { case (k, _) => partitionOf.get(k).contains(i) } &&
          ps.iterator.sliding(2).forall(w => w.size < 2 || w(0)._1 < w(1)._1)
      }
    }
    sameCounts && partitioned
  }

  override def after(rec: OpRec): Unit = {
    if (rec.ok && observed != null) {
      if (ctx.cfg.corrupt && rec.n == 0) {
        val ps = observed.find(_.nonEmpty).get
        ps(0) = (ps(0)._1, ps(0)._2 + 1)
      }
      rec.ok = check(rec.kind, observed)
    }
    observed = null
    cleanExport(rec.n)
  }

  override def verify(ops: Seq[OpRec]): Unit = ()
  override def digest: String = digestHex

  override def report(ops: Seq[OpRec]): Seq[(String, Double, String, Int)] = {
    val ok = ops.filter(_.ok)
    Seq(("rows_per_s", ok.map(_.rows).sum / (ops.map(_.ms).sum / 1000.0),
      "rows/s", ops.size))
  }

  override def layers(ops: Seq[OpRec]): Map[String, Double] = {
    def spanMs(name: String) =
      Main.median(ctx.tracer.spans.filter(_.name == name).map(_.durMs).toSeq)
    val shuffles = ops.filter(o => o.kind == "shuffle" && o.cost.isDefined)
    val keys = tally.keys.toArray
    val p = Sha1HashPartitioner(partitions)
    val nsPerKey = Main.median((0 until 5).map { _ =>
      val t = System.nanoTime()
      var acc = 0
      keys.foreach(k => acc += p(k))
      if (acc < 0) println(acc)
      (System.nanoTime() - t).toDouble / keys.length
    })
    Map(
      "core.shuffle_ms" -> spanMs("MapReduce.shuffle"),
      "core.run_ms" -> spanMs("MapReduce.run"),
      "core.export_ms" -> spanMs("ExportedShuffle.write"),
      "core.import_ms" -> spanMs("ExportedShuffle.read"),
      "core.combine_ratio" ->
        Main.mean(shuffles.map(_.cost.get.shuffleWriteRecords.toDouble / pairs)),
      "core.partition_ns_per_key" -> nsPerKey)
  }

  override def close(): Unit = {
    if (ds != null) ds.unpersist()
    if (rdd != null) rdd.unpersist()
  }
}
