package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.Bench

/** Bench-protocol probe for named queries:
  * `runMain graft.tools.BenchOne <name[,name…]> [runs=7]`.
  *
  * Every run is one [[Bench.timeRun]] in the session of
  * [[Bench.warmSession]] — the cores, warm-up, fresh fixture per run,
  * noop sink and cache clearing of `graft.Bench` — so the numbers are
  * the bench's, one query at a time, with the run-to-run spread
  * visible instead of folded into a min-of-3. Per run it prints:
  *  - build (`benchSplit` gates only), op-construct and op-execute
  *    seconds;
  *  - task totals: tasks, input, output and shuffle bytes, GC time, and
  *    the gate table's bytes on disk;
  *  - one line per Spark job: start offset, duration, tasks, the half
  *    it ran in and the engine call site that launched it.
  *
  * Per name it ends with the min and median over the runs. Reads
  * `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_CPUS` like `graft.Bench`. */
object BenchOne {
  final case class Job(id: Int, startMs: Long, endMs: Long, tasks: Int,
      site: String)

  /** One probed run: its timing, its jobs in start order, and the task
    * totals of those jobs. */
  final case class Probe(timing: Bench.Timing, startMs: Long, jobs: Seq[Job],
      tasks: Long, inputBytes: Long, outputBytes: Long, shuffleBytes: Long,
      gcMs: Long, tableBytes: Long)

  private class Recorder extends SparkListener {
    val starts = new ConcurrentHashMap[Int, (Long, Int, String)]()
    val jobs = new ConcurrentHashMap[Int, Job]()
    val sqlSites = new ConcurrentHashMap[Long, String]()
    val tasks, input, output, shuffle, gc = new AtomicLong(0L)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlSites.put(s.executionId, s.description)
      case _ =>
    }

    // The `callSite.short` property exists only where an entry point
    // called `setCallSite`, and then it wins. A job of a SQL query takes
    // the call site of the action that started the query: AQE runs its
    // stages from pool threads, whose own call site names no engine
    // code. Otherwise Spark names a job's final stage after its call site.
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
      val site = prop("callSite.short")
        .orElse(prop("spark.sql.execution.id")
          .flatMap(id => Option(sqlSites.get(id.toLong))))
        .orElse(js.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
        .getOrElse("?")
      starts.put(js.jobId, (js.time, js.stageInfos.map(_.numTasks).sum, site))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(starts.remove(je.jobId)).foreach { case (t, n, site) =>
        jobs.put(je.jobId, Job(je.jobId, t, je.time, n, site))
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(t.taskMetrics).foreach { m =>
        tasks.incrementAndGet()
        input.addAndGet(m.inputMetrics.bytesRead)
        output.addAndGet(m.outputMetrics.bytesWritten)
        shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        gc.addAndGet(m.jvmGCTime)
      }
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** One [[Bench.timeRun]] of `name` with a listener attached for its
    * duration. */
  def probe(spark: SparkSession, sfDir: String, name: String): Probe = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try {
      val start = System.currentTimeMillis()
      val timing = Bench.timeRun(spark, sfDir, name)
      ListenerBridge.drain(spark.sparkContext)
      Probe(timing, start, rec.jobs.values.asScala.toSeq.sortBy(_.id),
        rec.tasks.get, rec.input.get, rec.output.get, rec.shuffle.get,
        rec.gc.get, timing.table.map(t => dirBytes(Paths.get(t))).getOrElse(0L))
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  private def report(name: String, run: Int, p: Probe): Unit = {
    val t = p.timing
    val build = t.build.map(b => f"build=$b%.3f ").getOrElse("")
    println(f"[benchone] $name run $run: ${build}op=${t.op}%.3f " +
      f"(construct=${t.construct}%.3f execute=${t.execute}%.3f) total=${t.total}%.3f")
    val table = t.table.map(_ => f" table_mb=${p.tableBytes / 1e6}%.1f").getOrElse("")
    println(f"[benchone] $name run $run totals: jobs=${p.jobs.size} " +
      f"tasks=${p.tasks} input_mb=${p.inputBytes / 1e6}%.1f " +
      f"output_mb=${p.outputBytes / 1e6}%.1f " +
      f"shuffle_mb=${p.shuffleBytes / 1e6}%.1f gc_ms=${p.gcMs}$table")
    val buildEndMs = p.startMs + t.build.fold(0L)(b => (b * 1000).toLong)
    p.jobs.foreach { j =>
      val half = if (t.build.isEmpty) "" else if (j.startMs < buildEndMs) "build " else "op    "
      println(f"[job] id=${j.id}%4d at=${(j.startMs - p.startMs) / 1e3}%7.3f " +
        f"dur=${(j.endMs - j.startMs) / 1e3}%6.3f tasks=${j.tasks}%4d  $half${j.site}")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.tools.BenchOne <name[,name...]> [runs=7]")
      sys.exit(2)
    }
    val names = args(0).split(",").toSeq
    val runs = if (args.length > 1) args(1).toInt else 7
    val (spark, sfDir) = Bench.warmSession()
    names.foreach { name =>
      val times = (1 to runs).map { run =>
        val p = probe(spark, sfDir, name)
        report(name, run, p)
        p.timing.total
      }
      println(f"[benchone] $name runs: ${times.map(t => f"$t%.3f").mkString(", ")}" +
        f" min=${times.min}%.3f median=${times.sorted.apply(runs / 2)}%.3f")
    }
    spark.stop()
  }
}
