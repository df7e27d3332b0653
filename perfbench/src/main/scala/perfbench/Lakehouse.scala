package perfbench

import java.nio.file.{Files, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.CowTable

/** `lh_mixed`: the copy-on-write table, written and read in one closed
  * loop. Setup builds a key-clustered orders table and declares a bloom
  * index on the unsorted `o_token`. Each cycle of the loop then runs a
  * seeded op log:
  *  - writes: COW `mergeInto` and `upsertMor` batches (updates favour
  *    the most recently inserted keys; a tenth of the rows are inserts)
  *    and a key-range `deleteWhere` deletion-vector delete;
  *  - one update-mode streaming epoch into a second table through the
  *    `graft` catalog sink;
  *  - reads: key-range `readWhere`, a SQL filter through the `graft`
  *    catalog, `readVersion` of the previous version, Zipf-skewed point
  *    lookups on the bloom column (half of the keys absent),
  *    `countWhere`/`minWhere`/`maxWhere`, SQL `COUNT(*)` through the
  *    DSv2 aggregate pushdown, and a `tableChanges` slice of the last
  *    commit;
  *  - a maintenance round: `compactTable`, `vacuum`, `expireSnapshots`.
  * Every result is checked against a plain-DataFrame replay of the op
  * log. */
final class Lakehouse(ctx: Ctx) extends Workload(ctx) {
  import Orders._
  private val tiny = ctx.cfg.tiny
  val baseRows: Long = if (tiny) 4000 else 120000
  val files: Int = if (tiny) 4 else 32
  val batchRows: Int = if (tiny) 100 else 800
  val epochRows: Int = if (tiny) 100 else 800
  val customers: Long = baseRows / 20
  val streamCustomers: Long = if (tiny) 50 else 2000
  private val seed = ctx.cfg.seed

  // feed and read_version follow a merge, so the previous version is live
  override val cycle: IndexedSeq[String] = Vector(
    "merge", "feed", "read_version", "range_read", "lookup",
    "upsert", "count", "lookup", "sql_filter",
    "delete", "min", "lookup",
    "epoch", "max", "sql_count",
    "compact", "vacuum", "expire")
  override def opClass(kind: String): String = kind match {
    case "merge" | "upsert" => "commit"
    case "delete" => "delete"
    case "epoch" => "epoch"
    case "compact" | "vacuum" | "expire" => "maint"
    case "range_read" | "sql_filter" | "read_version" => "scan"
    case "lookup" => "lookup"
    case "count" | "min" | "max" | "sql_count" => "meta"
    case "feed" => "feed"
  }
  override def maxOps: Int = 12 * cycle.size
  /** The initial write is the costliest setup step; it is built once. */
  override def setupReps: Int = 1

  private val table = ctx.dir.resolve("orders")
  private val aggTable = ctx.dir.resolve("cust_totals")
  private val streamIn = ctx.dir.resolve("stream-in")
  private val staged = ctx.dir.resolve("staged")
  private def t = table.toString

  /** Generated op log, indexed by log position (warm-up ops first). */
  private sealed trait Entry
  private case class Batch(keys: Array[Long], rng: Long) extends Entry
  private case class Range(lo: Long, hi: Long) extends Entry
  private case class Epoch(cust: Array[Long], cents: Array[Long]) extends Entry
  private case class Read(lo: Long, hi: Long, token: Long) extends Entry
  private case object Maint extends Entry
  private var log: IndexedSeq[Entry] = _
  private var digestHex = ""
  private def pos(n: Int): Int = if (n < 0) -n - 1 else n + cycle.size
  private def kindAt(p: Int): String = cycle(p % cycle.size)

  // state carried across operations
  private var query: StreamingQuery = _
  private var targetBytes = 0L
  private var lastVersion = -1
  /** Writes that returned, in order; the replay applies them. */
  private val writes = mutable.ArrayBuffer.empty[Int]
  private val epochs = mutable.ArrayBuffer.empty[Int]
  /** Table version -> number of replayed writes it holds. */
  private val versionState = mutable.Map.empty[Int, Int]
  /** A read's result, and the replayed states it must equal. */
  private case class Seen(kind: String, x: Read, result: String, from: Int, to: Int)
  private val seen = mutable.Map.empty[Int, Seen]
  private val sourceBytes = mutable.Map.empty[Int, Long]
  private var files0: Map[String, Long] = Map.empty
  private var written = 0L
  private var lastDf: DataFrame = _

  override def generate(): Unit = {
    val rng = ctx.rng(11)
    val md = MessageDigest.getInstance("SHA-256")
    var nextKey = baseRows
    log = (0 until maxOps + cycle.size).map { p =>
      val e: Entry = kindAt(p) match {
        case "merge" | "upsert" =>
          val keys = mutable.LinkedHashSet.empty[Long]
          val inserts = batchRows / 10
          (0 until inserts).foreach { i => keys += nextKey + i }
          // updates decay exponentially with age, scale 3% of the table
          while (keys.size < batchRows) {
            val age = (-math.log(1 - rng.nextDouble()) * 0.03 * nextKey).toLong
            keys += math.max(0L, nextKey - 1 - age)
          }
          nextKey += inserts
          Batch(keys.toArray, rng.nextLong())
        case "delete" =>
          val lo = rng.nextLong(nextKey)
          Range(lo, lo + batchRows / 2)
        case "epoch" =>
          Epoch(Array.fill(epochRows)(rng.nextLong(streamCustomers)),
            Array.fill(epochRows)(rng.nextLong(1000000L)))
        case "compact" | "vacuum" | "expire" => Maint
        case kind =>
          val span = if (opClass(kind) == "meta") nextKey / 5 else nextKey / 100
          val lo = rng.nextLong(nextKey - span)
          // Zipf-skewed over a seeded permutation of the keys; half absent
          val k = (math.exp(rng.nextDouble() * math.log(nextKey.toDouble)).toLong *
            7919L + p) % nextKey
          Read(lo, lo + span,
            token(if (rng.nextBoolean()) k else k + (1L << 40), seed))
      }
      md.update((e match {
        case Batch(ks, r) => ks.mkString(",") + r
        case Epoch(c, v) => c.mkString(",") + v.mkString(",")
        case other => other.toString
      }).getBytes)
      e
    }
    digestHex = Main.hex(md)
  }

  override def build(): Unit = {
    ctx.call("cowtable", "CowTable.init")(
      CowTable.init(base(spark, baseRows, files, seed, customers), t))
    ctx.call("cowtable", "CowTable.declareBloom")(
      CowTable.declareBloom(spark, t, Seq("o_token"), 0.01, 2L * baseRows / files))
    val m = CowTable.latestManifest(t).get
    targetBytes = CowTable.entriesDF(spark, t, m).filter(col("kind") === "data")
      .agg(avg(col("bytes"))).head().getDouble(0).toLong
    (0 to m.version).foreach(versionState(_) = 0)
    lastVersion = m.version
    spark.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
  }

  private def startStream(): Unit = {
    query = spark.readStream
      .schema(StructType(Seq(StructField("o_custkey", LongType),
        StructField("o_cents", LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(streamIn.toString)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("total"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ctx.dir.resolve("checkpoint").toString)
      .option("upsertKeys", "o_custkey")
      .toTable(s"graft.`$aggTable`")
  }

  /** One operation of each kind from the first cycle of the op log; the
    * first streaming epoch also fixes the state partition count. */
  override def warmup(): Unit = {
    Files.createDirectories(streamIn)
    cycle.distinct.foreach { k =>
      val n = -1 - cycle.indexOf(k)
      prepare(k, n)
      if (k == "epoch")
        graft.streaming.StreamTune.withAdaptivePartitions(spark,
          epochRows.toLong * 16 * 20) {
          startStream()
          op(k, n)
        }
      else op(k, n)
      record(k, n, ok = true)
    }
    files0 = treeFiles(table) ++ treeFiles(aggTable)
  }

  override def prepare(kind: String, n: Int): Unit = {
    val p = pos(n)
    Files.createDirectories(staged)
    log(p) match {
      case Batch(keys, r) =>
        val dir = staged.resolve(s"batch$p")
        batchDf(keys, p, r).coalesce(1).write.parquet(dir.toString)
        sourceBytes(p) = treeFiles(dir).filter(_._1.endsWith(".parquet")).values.sum
      case Epoch(c, v) =>
        val dir = staged.resolve(s"epoch$p")
        import spark.implicits._
        c.zip(v).toSeq.toDF("o_custkey", "o_cents").coalesce(1)
          .write.parquet(dir.toString)
        sourceBytes(p) = treeFiles(dir).filter(_._1.endsWith(".parquet")).values.sum
      case _ =>
    }
  }

  private def batchDf(keys: Array[Long], p: Int, r: Long): DataFrame =
    spark.createDataFrame(batch(keys, seed, p, new java.util.SplittableRandom(r),
      customers).asJava, schema)

  private def range(x: Read): Column = col(Key) >= x.lo && col(Key) < x.hi
  private def filterSql(x: Read) =
    s"SELECT o_orderkey, o_custkey, o_cents FROM graft.`$t` " +
      s"WHERE o_orderkey >= ${x.lo} AND o_orderkey < ${x.hi} AND o_status = 'F'"

  /** Order-independent digest of collected rows. */
  private def rowsDigest(rs: Array[Row]): String =
    s"${rs.length}:${rs.map(r => MurmurHash3.seqHash(r.toSeq).toLong).sum}"

  override def op(kind: String, n: Int): Long = {
    val p = pos(n)
    val cow = "cowtable"
    def read(x: Read, from: Int, to: Int)(result: => String): Long = {
      seen(p) = Seen(kind, x, result, from, to)
      0L
    }
    (kind, log(p)) match {
      case ("merge", Batch(keys, _)) =>
        val src = spark.read.parquet(staged.resolve(s"batch$p").toString)
        ctx.call(cow, "CowTable.mergeInto")(CowTable.mergeInto(spark, t, src, Seq(Key)))
        keys.length
      case ("upsert", Batch(keys, _)) =>
        val src = spark.read.parquet(staged.resolve(s"batch$p").toString)
        ctx.call(cow, "CowTable.upsertMor")(CowTable.upsertMor(spark, t, src, Seq(Key)))
        keys.length
      case ("delete", Range(lo, hi)) =>
        ctx.call(cow, "CowTable.deleteWhere")(CowTable.deleteWhere(
          spark, t, col(Key) >= lo && col(Key) < hi))
        0L
      case ("epoch", Epoch(c, _)) =>
        val f = Files.list(staged.resolve(s"epoch$p")).iterator().asScala
          .find(_.toString.endsWith(".parquet")).get
        Files.move(f, streamIn.resolve(f"e$p%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
        ctx.call("streaming", "StreamingQuery.processAllAvailable")(
          query.processAllAvailable())
        c.length
      case ("compact", _) =>
        ctx.call(cow, "CowTable.compactTable")(CowTable.compactTable(spark, t, targetBytes))
        0L
      case ("vacuum", _) =>
        ctx.call(cow, "CowTable.vacuum")(CowTable.vacuum(spark, t, 4))
        0L
      case ("expire", _) =>
        ctx.call(cow, "CowTable.expireSnapshots")(CowTable.expireSnapshots(spark, t, 2000L))
        0L
      case (_, x: Read) =>
        val now = writes.size
        kind match {
          case "range_read" => read(x, now, now)(rowsDigest(ctx.call(cow,
            "CowTable.readWhere")(CowTable.readWhere(spark, t, range(x)).collect())))
          case "sql_filter" => read(x, now, now) {
            lastDf = ctx.call("plans", "CowDsv2.sql")(spark.sql(filterSql(x)))
            rowsDigest(ctx.call("plans", "CowDsv2.scan")(lastDf.collect()))
          }
          case "read_version" => read(x, versionState(lastVersion - 1), now)(
            rowsDigest(ctx.call(cow, "CowTable.readVersion")(CowTable.readVersion(
              spark, t, lastVersion - 1).filter(range(x)).collect())))
          case "lookup" => read(x, now, now)(rowsDigest(ctx.call(cow,
            "CowTable.readWhere")(CowTable.readWhere(spark, t,
            col("o_token") === x.token).collect())))
          case "count" => read(x, now, now)(ctx.call(cow, "CowTable.countWhere")(
            CowTable.countWhere(spark, t, range(x))).toString)
          case "min" => read(x, now, now)(ctx.call(cow, "CowTable.minWhere")(
            CowTable.minWhere(spark, t, "o_cents", range(x))).toString)
          case "max" => read(x, now, now)(ctx.call(cow, "CowTable.maxWhere")(
            CowTable.maxWhere(spark, t, "o_cents", range(x))).toString)
          case "sql_count" => read(x, now, now) {
            lastDf = ctx.call("plans", "CowDsv2.sql")(
              spark.sql(s"SELECT COUNT(*) FROM graft.`$t`"))
            ctx.call("plans", "CowDsv2.aggregate")(lastDf.head().getLong(0)).toString
          }
          case "feed" => read(x, versionState(lastVersion - 1), now)(
            rowsDigest(ctx.call(cow, "CowTable.tableChanges")(CowTable.tableChanges(
              spark, t, lastVersion - 1, lastVersion, Seq(Key)).collect())))
        }
      case other => throw new IllegalStateException(s"op log mismatch: $other")
    }
  }

  /** Books a returned operation into the replay and the version map. */
  private def record(kind: String, n: Int, ok: Boolean): Unit = {
    val p = pos(n)
    if (ok && (opClass(kind) == "commit" || kind == "delete")) writes += p
    if (ok && kind == "epoch") epochs += p
    lastVersion = CowTable.latestManifest(t).get.version
    versionState.getOrElseUpdate(lastVersion, writes.size)
    Main.deleteTree(staged.resolve(s"batch$p"))
    Main.deleteTree(staged.resolve(s"epoch$p"))
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case other => other +: other.children.flatMap(planNodes)
  }

  override def after(rec: OpRec): Unit = {
    val p = pos(rec.n)
    val before = lastVersion
    record(rec.kind, rec.n, rec.ok)
    // a data-writing commit adds exactly one version
    if (rec.ok && rec.cls == "commit" && lastVersion != before + 1) rec.ok = false
    val now = treeFiles(table) ++ treeFiles(aggTable)
    val fresh = now.filter { case (f, b) => !files0.get(f).contains(b) }
    files0 = now
    written += fresh.values.sum
    rec.extra("metadata_bytes") =
      fresh.filter(_._1.startsWith(table.resolve("manifest").toString)).values.sum.toDouble
    rec.extra("live_dv_runs") =
      CowTable.latestManifest(t).get.dvRunCounts.values.sum.toDouble
    rec.extra("source_bytes") = sourceBytes.getOrElse(p, 0L).toDouble
    if (rec.cost.isDefined && rec.ok) traced(rec, before)
  }

  /** Layer counts of a traced operation, taken outside its interval. */
  private def traced(rec: OpRec, before: Int): Unit = rec.kind match {
    case "merge" | "upsert" =>
      // the manifest diff: data files the commit replaced, and their rows
      def data(v: Int) = CowTable.entriesDF(spark, t, CowTable.readManifest(t, v))
        .filter(col("kind") === "data").select("path", "numRows")
      val gone = data(before).join(data(lastVersion), Seq("path"), "left_anti")
        .agg(count(lit(1)), coalesce(sum(col("numRows")), lit(0L))).head()
      rec.extra("files_rewritten") = gone.getLong(0).toDouble
      rec.extra("rows_rewritten") = gone.getLong(1).toDouble
    case "epoch" => Option(query.lastProgress).foreach { pr =>
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      rec.extra("add_batch_ms") = d.getOrElse("addBatch", 0.0)
      rec.extra("planning_ms") = d.getOrElse("queryPlanning", 0.0)
      rec.extra("wal_ms") = d.getOrElse("walCommit", 0.0)
      rec.extra("state_rows") = pr.stateOperators.map(_.numRowsTotal.toDouble).sum
    }
    case "range_read" =>
      val x = seen(pos(rec.n)).x
      val t0 = System.nanoTime()
      val (kept, total) = CowTable.pruneReport(spark, t, range(x))
      rec.extra("prune_ms") = (System.nanoTime() - t0) / 1e6
      rec.extra("files_kept_ratio") = kept.toDouble / total
    case "lookup" =>
      val cond = col("o_token") === seen(pos(rec.n)).x.token
      val t0 = System.nanoTime()
      val (bloomKept, _, total) = CowTable.pruneReportBloom(spark, t, cond)
      rec.extra("prune_ms") = (System.nanoTime() - t0) / 1e6
      rec.extra("bloom_skip_ratio") = 1 - bloomKept.toDouble / total
      val kept = CowTable.pruneDataFiles(spark, t, CowTable.latestManifest(t).get, cond)
      rec.extra("files_read") = kept.size.toDouble
      rec.extra("files_holding") =
        if (kept.isEmpty) 0.0
        else spark.read.parquet(kept: _*).filter(cond)
          .select(input_file_name()).distinct().count().toDouble
    case "sql_filter" =>
      rec.extra("plan_files") = planNodes(lastDf.queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.inputPartitions.size }.sum.toDouble
    case "sql_count" =>
      val nodes = planNodes(lastDf.queryExecution.executedPlan)
      rec.extra("pushed") =
        if (nodes.exists(_.isInstanceOf[LocalTableScanExec]) &&
            !nodes.exists(_.isInstanceOf[BatchScanExec])) 1.0 else 0.0
    case _ =>
  }

  /** Replays the op log on plain DataFrames; compares every read, the
    * final table and the streaming aggregates with the replay. */
  override def verify(ops: Seq[OpRec]): Unit = {
    val states = mutable.ArrayBuffer[DataFrame](
      base(spark, baseRows, files, seed, customers).coalesce(ctx.cfg.cores).localCheckpoint())
    writes.foreach { p =>
      val prev = states.last
      states += (log(p) match {
        case Batch(keys, r) =>
          val b = batchDf(keys, p, r)
          prev.join(b.select(Key), Seq(Key), "left_anti").unionByName(b)
        case Range(lo, hi) => prev.filter(!(col(Key) >= lo && col(Key) < hi))
        case other => throw new IllegalStateException(s"not a write: $other")
      }).coalesce(ctx.cfg.cores).localCheckpoint()
    }
    def expected(s: Seen): String = {
      val st = states(s.to)
      s.kind match {
        case "range_read" => rowsDigest(st.filter(range(s.x)).collect())
        case "sql_filter" => rowsDigest(st.filter(range(s.x) && col("o_status") === "F")
          .select("o_orderkey", "o_custkey", "o_cents").collect())
        case "read_version" => rowsDigest(states(s.from).filter(range(s.x)).collect())
        case "lookup" => rowsDigest(st.filter(col("o_token") === s.x.token).collect())
        case "count" => st.filter(range(s.x)).count().toString
        case "min" | "max" =>
          val r = st.filter(range(s.x))
            .agg(if (s.kind == "min") min("o_cents") else max("o_cents")).head()
          (if (r.isNullAt(0)) None else Some(r.getLong(0))).toString
        case "sql_count" => st.count().toString
        case "feed" => rowsDigest(changes(states(s.from), st).collect())
      }
    }
    val corruptAt = if (ctx.cfg.corrupt) ops.find(o => seen.contains(pos(o.n))).map(_.n) else None
    ops.foreach { o =>
      seen.get(pos(o.n)).foreach { s =>
        val got = if (corruptAt.contains(o.n)) s.result + "x" else s.result
        val want = expected(s)
        if (o.ok && got != want) {
          System.err.println(s"lh_mixed: operation ${o.n} (${o.kind}) returned $got, expected $want")
          o.ok = false
        }
      }
    }
    val observed = {
      val d = tableDigest(CowTable.read(spark, t))
      if (ctx.cfg.corrupt) (d._1 + 1, d._2) else d
    }
    if (observed != tableDigest(states.last)) {
      System.err.println("lh_mixed: the final table differs from the replay")
      ops.filter(o => Set("commit", "delete", "maint")(o.cls)).foreach(_.ok = false)
    }
    val totals = mutable.Map.empty[Long, (Long, Long)]
    epochs.foreach { p =>
      val Epoch(c, v) = log(p)
      c.zip(v).foreach { case (k, x) =>
        val (n0, s0) = totals.getOrElse(k, (0L, 0L))
        totals(k) = (n0 + 1, s0 + x)
      }
    }
    val agg = spark.sql(s"SELECT o_custkey, n, total FROM graft.`$aggTable`").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    if (agg != totals.toMap) {
      System.err.println("lh_mixed: the streaming aggregates differ from the replay")
      ops.filter(_.cls == "epoch").foreach(_.ok = false)
    }
  }

  /** The row-level change feed between two plain snapshots. */
  private def changes(from: DataFrame, to: DataFrame): DataFrame = {
    val data = schema.fieldNames.filterNot(_ == Key).toSeq
    val o = from.select(col(Key) +: data.map(c => col(c).as(s"o_$c")) :+ lit(1).as("in_o"): _*)
    val n = to.select(col(Key) +: data.map(c => col(c).as(s"n_$c")) :+ lit(1).as("in_n"): _*)
    val j = o.join(n, Seq(Key), "full_outer")
    val same = data.map(c => col(s"o_$c") <=> col(s"n_$c")).reduce(_ && _)
    val pre = j.filter(col("in_o").isNotNull && (col("in_n").isNull || !same))
      .select(col(Key) +: data.map(c => col(s"o_$c").as(c)) :+
        when(col("in_n").isNull, "delete").otherwise("update_preimage").as("_change_type"): _*)
    val post = j.filter(col("in_n").isNotNull && (col("in_o").isNull || !same))
      .select(col(Key) +: data.map(c => col(s"n_$c").as(c)) :+
        when(col("in_o").isNull, "insert").otherwise("update_postimage").as("_change_type"): _*)
    pre.unionByName(post)
  }

  override def digest: String = digestHex

  override def report(ops: Seq[OpRec]): Seq[(String, Double, String, Int)] = {
    def p50(cls: String) = {
      val xs = ops.filter(o => o.cls == cls && !o.traced).map(_.ms)
      (s"${cls}_p50_ms", Main.median(xs), "ms", xs.size)
    }
    val commits = ops.filter(o => o.cls == "commit" && !o.traced).map(_.ms)
    val tail = Main.tail(commits)
    val fresh = ctx.dir.resolve("compacted")
    CowTable.read(spark, t).coalesce(ctx.cfg.cores).write.parquet(fresh.toString)
    val freshBytes = treeFiles(fresh).filter(_._1.endsWith(".parquet")).values.sum
    Main.deleteTree(fresh)
    val ingest = ops.filter(o => o.ok && Set("commit", "epoch")(o.cls))
    Seq(("rows_per_s", ingest.map(_.rows).sum / (ingest.map(_.ms).sum / 1000.0),
        "rows/s", ingest.size),
      p50("commit"),
      ("commit_tail_ms", tail.fold(Double.NaN)(_._2), "ms", commits.size),
      ("commit_tail_percentile", tail.fold(Double.NaN)(_._1.toDouble), "percentile",
        commits.size),
      p50("delete"), p50("epoch"), p50("maint"),
      p50("scan"), p50("lookup"), p50("meta"), p50("feed"),
      ("write_amp", written / ops.map(_.extra.getOrElse("source_bytes", 0.0)).sum,
        "ratio", ops.size),
      ("space_amp", treeFiles(table).values.sum.toDouble / freshBytes, "ratio", 1))
  }

  override def layers(ops: Seq[OpRec]): Map[String, Double] = {
    def spanMs(name: String) = {
      val xs = ctx.tracer.spans.filter(_.name == name).map(_.durMs).toSeq
      if (xs.isEmpty) 0.0 else Main.median(xs)
    }
    val traced = ops.filter(_.cost.isDefined)
    def avgExtra(os: Seq[OpRec], k: String) = Main.mean(os.flatMap(_.extra.get(k)))
    val commits = ops.filter(_.cls == "commit")
    val tracedCommits = traced.filter(_.cls == "commit")
    val epochOps = traced.filter(_.kind == "epoch")
    val rewritten = tracedCommits.flatMap(_.extra.get("rows_rewritten")).sum
    val lookups = traced.filter(_.kind == "lookup")
    val read = lookups.flatMap(_.extra.get("files_read")).sum
    val m = CowTable.latestManifest(t).get
    val live = CowTable.entriesDF(spark, t, m)
      .agg(coalesce(sum(col("bytes")), lit(0L))).head().getLong(0)
    val onDisk = treeFiles(table)
    Map(
      "cowtable.merge_ms" -> spanMs("CowTable.mergeInto"),
      "cowtable.upsert_mor_ms" -> spanMs("CowTable.upsertMor"),
      "cowtable.delete_ms" -> spanMs("CowTable.deleteWhere"),
      "cowtable.compact_ms" -> spanMs("CowTable.compactTable"),
      "cowtable.vacuum_ms" -> spanMs("CowTable.vacuum"),
      "cowtable.expire_ms" -> spanMs("CowTable.expireSnapshots"),
      "cowtable.files_rewritten" -> avgExtra(tracedCommits, "files_rewritten"),
      "cowtable.rewrite_useful_ratio" ->
        (if (rewritten > 0) tracedCommits.map(_.rows).sum / rewritten else 0.0),
      "cowtable.metadata_bytes" ->
        avgExtra(ops.filter(o => Set("commit", "delete")(o.cls)), "metadata_bytes"),
      "cowtable.live_dv_runs" -> avgExtra(commits, "live_dv_runs"),
      "cowtable.prune_ms" -> Main.median(traced.flatMap(_.extra.get("prune_ms"))),
      "cowtable.files_kept_ratio" -> avgExtra(traced, "files_kept_ratio"),
      "cowtable.bloom_skip_ratio" -> avgExtra(traced, "bloom_skip_ratio"),
      "cowtable.lookup_useful_ratio" ->
        (if (read > 0) lookups.flatMap(_.extra.get("files_holding")).sum / read else 0.0),
      "cowtable.meta_zero_job_ratio" -> Main.mean(traced.filter(_.cls == "meta")
        .map(o => if (o.cost.get.jobs == 0) 1.0 else 0.0)),
      "cowtable.feed_ms" -> spanMs("CowTable.tableChanges"),
      "plans.files_read" -> avgExtra(traced, "plan_files"),
      "plans.pushdown_ratio" -> avgExtra(traced, "pushed"),
      "streaming.epoch_ms" -> spanMs("StreamingQuery.processAllAvailable"),
      "streaming.add_batch_ms" -> avgExtra(epochOps, "add_batch_ms"),
      "streaming.planning_ms" -> avgExtra(epochOps, "planning_ms"),
      "streaming.wal_ms" -> avgExtra(epochOps, "wal_ms"),
      "streaming.jobs_per_epoch" -> Main.mean(epochOps.map(_.cost.get.jobs.toDouble)),
      "streaming.state_rows" -> avgExtra(epochOps, "state_rows"),
      "storage.bytes_written" -> written.toDouble,
      "storage.table_bytes" -> onDisk.values.sum.toDouble,
      "storage.live_bytes" -> live.toDouble,
      "storage.files_on_disk" -> onDisk.keys.count(f => f.endsWith(".parquet") &&
        f.startsWith(table.resolve("data").toString)).toDouble,
      "storage.files_live" -> m.nData.toDouble)
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    query = null
  }
}
