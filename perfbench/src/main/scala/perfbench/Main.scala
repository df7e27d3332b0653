package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

final case class Cfg(workload: String, seed: Long, seconds: Double,
    trace: Boolean, tiny: Boolean, corrupt: Boolean, work: Path,
    cores: Int)

/** One timed operation of the closed loop. */
final class OpRec(val n: Int, val kind: String, val cls: String,
    val ms: Double, val traced: Boolean, val rows: Long, var ok: Boolean) {
  var cost: Option[OpCost] = None
  /** Workload-specific per-operation measurements. */
  val extra = mutable.Map.empty[String, Double]
}

final class Ctx(val spark: SparkSession, val cfg: Cfg, val dir: Path,
    val tracer: Tracer) {
  /** Runs `body`, a call into the program's `layer` module, as a span. */
  def call[T](layer: String, name: String)(body: => T): T =
    tracer.call(layer, name)(body)
  def rng(stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(cfg.seed * 1000003L + stream)
}

/** A workload: generated inputs, a fixture, and a fixed cycle of
  * operation kinds that the closed loop walks through. */
abstract class Workload(val ctx: Ctx) {
  val spark: SparkSession = ctx.spark
  def cycle: IndexedSeq[String]
  def opClass(kind: String): String
  /** Upper bound on operations, so that all inputs exist after setup. */
  def maxOps: Int
  /** Fixture builds per run; `setup_s` counts their median. */
  def setupReps: Int = 3
  def generate(): Unit
  def build(): Unit
  def warmup(): Unit
  /** Prepares operation `n` outside the timed interval. */
  def prepare(kind: String, n: Int): Unit = ()
  /** Runs operation `n` and returns the input rows it consumed. */
  def op(kind: String, n: Int): Long
  /** Bookkeeping after operation `n`, outside the timed interval. */
  def after(rec: OpRec): Unit = ()
  /** Checks every operation's result; sets `ok` to false on a mismatch. */
  def verify(ops: Seq[OpRec]): Unit
  /** Digest of every generated input. */
  def digest: String
  /** The workload's end-to-end metrics: name -> (value, unit, samples). */
  def report(ops: Seq[OpRec]): Seq[(String, Double, String, Int)]
  /** The workload's own per-layer metrics (traced run). */
  def layers(ops: Seq[OpRec]): Map[String, Double]
  def close(): Unit = ()
}

object Main {
  val HeldOutSeed = 7919L

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      val s = xs.sorted
      Some(p -> s(math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1)))
    }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Short hex form of an input digest. */
  def hex(md: java.security.MessageDigest): String =
    md.digest().take(12).map("%02x".format(_)).mkString

  private def parse(args: Array[String]): Cfg = {
    val flags = args.filter(a => a == "--tiny" || a == "--corrupt").toSet
    val kv = args.filterNot(flags).grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    Cfg(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", flags("--tiny"),
      flags("--corrupt"), Paths.get(kv("work")),
      Runtime.getRuntime.availableProcessors())
  }

  def make(ctx: Ctx): Workload = ctx.cfg.workload match {
    case "mr_corpus" => new MrCorpus(ctx)
    case "lh_mixed" => new Lakehouse(ctx)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cfg = parse(args)
    val spark = graft.Graft.session(master = s"local[${cfg.cores}]",
      appName = "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - startMs) / 1000.0
    val tracer = new Tracer(spark.sparkContext)
    if (cfg.trace) {
      spark.sparkContext.addSparkListener(tracer.jobListener)
      spark.listenerManager.register(tracer.planListener)
    }
    try run(cfg, spark, tracer, sessionS)
    finally spark.stop()
  }

  private def run(cfg: Cfg, spark: SparkSession, tracer: Tracer,
      sessionS: Double): Unit = {
    // build the fixture setupReps times from scratch; the last one serves
    // the loop, after the workload's warm-up
    val phases = mutable.ArrayBuffer.empty[(Double, Double)]
    var w: Workload = null
    def secs(body: => Unit): Double = {
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    }
    var r = 0
    while (w == null || r < (if (cfg.tiny) 1 else w.setupReps)) {
      if (w != null) { w.close(); deleteTree(w.ctx.dir) }
      val dir = cfg.work.resolve(s"setup$r")
      Files.createDirectories(dir)
      w = make(new Ctx(spark, cfg, dir, tracer))
      phases += ((secs(w.generate()), secs(w.build())))
      r += 1
    }
    val reps = phases.size
    val warmupS = secs(w.warmup())
    val setupS = sessionS + median(phases.map { case (a, b) => a + b }.toSeq) + warmupS

    try {
      // the closed loop: one client, the next operation starts when the
      // previous one has returned
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMs()
      val ops = mutable.ArrayBuffer.empty[OpRec]
      val perKind = mutable.Map.empty[String, Int].withDefaultValue(0)
      val loop0 = System.nanoTime()
      def elapsedS = (System.nanoTime() - loop0) / 1e9
      var n = 0
      // whole cycles only, so every run sees the same op mix
      while ((elapsedS < cfg.seconds || n % w.cycle.size != 0) && n < w.maxOps) {
        val kind = w.cycle(n % w.cycle.size)
        // the traced run traces every other operation of each kind; the
        // untraced ones give the tracing overhead
        val traced = cfg.trace && perKind(kind) % 2 == 0
        perKind(kind) += 1
        w.prepare(kind, n)
        tracer.opId = n
        tracer.active = traced
        val spans0 = tracer.spans.size
        val t = System.nanoTime()
        val (rows, ok) =
          try (tracer.call("bench", kind)(w.op(kind, n)), true)
          catch {
            case e: Exception =>
              System.err.println(s"operation $n ($kind) failed: $e")
              e.printStackTrace()
              (0L, false)
          }
        val ms = (System.nanoTime() - t) / 1e6
        tracer.active = false
        val rec = new OpRec(n, kind, w.opClass(kind), ms, traced, rows, ok)
        if (traced) {
          PerfbenchBus.drain(spark.sparkContext)
          rec.cost = tracer.spans.lift(spans0).map(tracer.cost)
        }
        w.after(rec)
        ops += rec
        n += 1
      }
      val gcLoopMs = (gcMs() - gc0).toDouble
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      w.verify(ops.toSeq)
      val attempted = ops.size
      val failed = ops.count(!_.ok)

      val lat = ops.groupBy(_.kind).map { case (k, rs) =>
        k -> rs.filterNot(_.traced).map(_.ms).toSeq }
      val cycleMs = w.cycle.map(k => median(lat.getOrElse(k, Nil))).sum
      val opsPerS = ops.count(_.ok) / (ops.map(_.ms).sum / 1000.0)
      val rssMb = vmHwmMb()

      val setupPhases = Map(
        "setup.session_s" -> sessionS,
        "setup.generate_s" -> median(phases.map(_._1).toSeq),
        "setup.fixture_s" -> median(phases.map(_._2).toSeq),
        "setup.warmup_s" -> warmupS)
      val wl = w.report(ops.toSeq)
      val report = mutable.LinkedHashMap[String, Any](
        "workload" -> cfg.workload, "seed" -> cfg.seed,
        "held_out_seed" -> HeldOutSeed,
        "load" -> s"closed loop, 1 client thread, local[${cfg.cores}]",
        "input_digest" -> w.digest,
        "attempted" -> attempted, "failed" -> failed,
        "ops_by_kind" -> perKind.toSeq.sortBy(_._1).toMap,
        "metrics" -> (Seq(
          ("setup_s", setupS, "s", reps),
          ("ops_per_s", opsPerS, "1/s", attempted),
          ("cycle_ms", cycleMs, "ms", attempted),
          ("failed_ratio", failed.toDouble / attempted, "ratio", attempted),
          ("peak_rss_mb", rssMb, "MB", 1)) ++ wl).map {
          case (k, v, u, s) => k -> Map("value" -> v, "unit" -> u, "samples" -> s)
        }.toMap,
        "setup" -> setupPhases)

      val metrics: Map[String, Double] =
        if (!cfg.trace) Map(
          "setup_s" -> setupS, "ops_per_s" -> opsPerS, "cycle_ms" -> cycleMs,
          "peak_rss_mb" -> rssMb)
        else {
          val traced = ops.filter(_.cost.isDefined).toSeq
          val costs = traced.map(_.cost.get)
          def avg(f: OpCost => Double): Double = mean(costs.map(f))
          val byClass = Metrics.Classes.flatMap { c =>
            val cs = traced.filter(_.cls == c).map(_.cost.get)
            Seq(s"spark.jobs.$c" -> mean(cs.map(_.jobs.toDouble)),
              s"spark.outside_job_ms.$c" -> mean(cs.map(_.outsideJobMs)))
          }
          val overhead = w.cycle.flatMap { k =>
            val rs = ops.filter(_.kind == k)
            val (tr, un) = rs.partition(_.traced)
            if (tr.isEmpty || un.isEmpty) None
            else Some((median(tr.map(_.ms).toSeq), median(un.map(_.ms).toSeq)))
          }
          val opMs = traced.map(_.ms).sum
          val generic = Map(
            "spark.jobs" -> avg(_.jobs), "spark.stages" -> avg(_.stages),
            "spark.tasks" -> avg(_.tasks),
            "spark.outside_job_ms" -> avg(_.outsideJobMs),
            "spark.task_run_ms" -> avg(_.taskRunMs),
            "spark.task_cpu_ms" -> avg(_.taskCpuMs),
            "spark.gc_ms" -> avg(_.gcMs), "spark.sched_delay_ms" -> avg(_.schedMs),
            "spark.slot_busy_ratio" ->
              (if (opMs > 0) costs.map(_.taskRunMs).sum / (opMs * cfg.cores) else 0.0),
            "spark.shuffle_write_bytes" -> avg(_.shuffleWrite.toDouble),
            "spark.shuffle_read_bytes" -> avg(_.shuffleRead.toDouble),
            "spark.spill_bytes" -> avg(_.spill.toDouble),
            "spark.input_bytes" -> avg(_.input.toDouble),
            "spark.output_bytes" -> avg(_.output.toDouble),
            "catalyst.plan_ms" -> avg(_.planMs),
            "jvm.gc_ms" -> gcLoopMs, "jvm.heap_peak_mb" -> heapPeakMb,
            "trace.overhead_ms" ->
              mean(overhead.map { case (t, u) => t - u }),
            "trace.overhead_ratio" ->
              (if (overhead.isEmpty) 0.0
               else overhead.map(_._1).sum / overhead.map(_._2).sum - 1),
            "trace.spans" -> tracer.spans.size.toDouble) ++
            Metrics.Layers.map(l => s"self_ms.$l" -> avg(_.selfMs.getOrElse(l, 0.0))) ++
            byClass ++ setupPhases
          val all = generic ++ w.layers(ops.toSeq)
          report("per_kind") = ops.filter(_.cost.isDefined).groupBy(_.kind).map {
            case (k, rs) =>
              val cs = rs.map(_.cost.get)
              k -> Map("traced_ops" -> rs.size,
                "jobs" -> mean(cs.map(_.jobs.toDouble).toSeq),
                "stages" -> mean(cs.map(_.stages.toDouble).toSeq),
                "tasks" -> mean(cs.map(_.tasks.toDouble).toSeq),
                "outside_job_ms" -> mean(cs.map(_.outsideJobMs).toSeq),
                "plan_ms" -> mean(cs.map(_.planMs).toSeq),
                "traced_p50_ms" -> median(rs.map(_.ms).toSeq),
                "untraced_p50_ms" -> median(ops.filter(o => o.kind == k && !o.traced).map(_.ms).toSeq))
          }
          val spansFile = cfg.work.getParent.resolve(
            s"spans-${cfg.workload}-${cfg.seed}.json")
          Files.writeString(spansFile, Json(tracer.spansJson))
          report("spans_file") = spansFile.toString
          Metrics.PerLayer.map { case (name, _) =>
            name -> all.get(name).filterNot(_.isNaN).getOrElse(0.0)
          }.toMap
        }
      val units = (if (cfg.trace) Metrics.PerLayer else Metrics.EndToEnd).toMap
      println(Json(Map("report" -> report)))
      println(Json(mutable.LinkedHashMap(
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> units.keys.toSeq.sorted.map(k =>
          k -> Map("value" -> metrics(k), "unit" -> units(k))).toMap)))
    } finally w.close()
  }
}
