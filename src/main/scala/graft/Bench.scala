package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line on stdout (driver contract).
  *
  * Headline queries span the engine's surface: scan-agg, broadcast and
  * fact⋈fact joins, window top-k, as-of, minhash dedup, knn, text
  * quality, sessionization. Each is forced through the `noop` sink so
  * the FULL plan executes (a bare `count()` would let Catalyst prune
  * projected expressions).
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q2_filter_project", "q3_region_revenue",
    "q4_fact_join", "q4_bucketed", "q35_bucketed_cust",
    "q7_topk_per_group", "q9_top10_global",
    "q21_asof_join", "q29_asof_native", "q36_asof_sql",
    "wordcount_dataframe", "ta_quality",
    "ta_langid_ngram", "q33_theta_sketch", "q34_kll_quantile",
    "ta_heavy_hitters", "ta_commonness",
    "dd_bloom_incremental", "dd_bloom_sharded",
    "dd_minhash_incremental",
    "sa_weighted_mix", "sa_stratified_n", "sa_pack_bins",
    "dd_minhash_lsh_full", "dd_simhash_pairs", "dd_dup_spans",
    "dd_decontaminate", "ss_knn_brute", "ss_knn_ivf", "ss_knn_pq",
    "ev_sessions",
    // round 8: the skew-handling building blocks (salted agg/join have
    // no perf tracking without these), CDC compaction, deterministic
    // corpus shuffle, stream-stream attribution (batch form), CMS build,
    // and the dedup-retention deliverable
    "sc_salted_sum_hicard", "sc_salted_join", "cdc_latest", "sa_shuffle",
    "ev_attribution", "ta_cms_freq", "dd_retain", "ss_semdedup",
    // round 8 second half: SCD2 intervalization, ordered funnel,
    // temperature mixing, KLL range buckets, bloom-pruned join,
    // RANGE-frame window, characteristic terms, grouped centroids
    "cdc_scd2", "ev_funnel", "sa_temperature_mix", "sa_range_buckets",
    "sc_bloom_join", "q37_trailing_window", "ta_char_terms",
    "ss_centroids",
    // round 9: serving a query batch from the STORED PQ index (the
    // first run builds the index; min-of-3 reports steady-state serving)
    "ss_knn_pq_stored",
    // round 10: SCD2 point-in-time join (native as-of over the interval
    // dimension) and incremental semantic dedup (stored-store ingest)
    "cdc_scd2_pit", "ss_semdedup_incr",
    // round 10: generalized k-stage funnel, 4-stage instance
    "ev_funnel4",
    // round 10 second half: z-order layout (Morton + pruning report),
    // the one-scan quality-filter funnel report, and sketch-state
    // streaming distinct (benched in its batch form)
    "sc_zorder_prune", "ta_filter_funnel", "ev_distinct",
    // round 10: iterative OPQ (adoption-gated; serving cost class of
    // ss_knn_pq either way — the gate decides rotate-vs-plain offline)
    "ss_knn_pq_opq_it",
    // round 10 third wave: incremental MV maintenance (delta-sized
    // retract-add vs full re-agg), 1-bit Hamming candidate tier + exact
    // rerank, sketch-state streaming quantiles (batch form), and the
    // forward/nearest as-of directions over the native merge
    "cdc_agg_maintain", "ss_knn_hamming", "ev_quantiles",
    "q40_asof_forward", "q41_asof_nearest",
    // round 10 fourth wave: MV-rewrite serving (fact aggregate answered
    // from the keys-level summary; first run pays the one-time MV
    // build), BM25 retrieval, one-pass data-quality audit, AMS
    // join-size estimation (sketch passes + the exact join it gates on)
    "mv_rewrite", "ta_bm25", "dq_audit", "sc_join_estimate",
    // round 10 fifth wave: copy-on-write MERGE INTO (per-run table
    // init + file-pruned merge + full table read-back)
    "lh_merge",
    // round 10 sixth wave: TPC-H-derived snowflake joins (q5: 6-table /
    // q8: 8-table broadcast pipeline), left-outer histogram (q13),
    // having-pushdown large-volume join (q18)
    "tpch_q5", "tpch_q8", "tpch_q13", "tpch_q18",
    // round 10 seventh wave: correlated-average join (tpch_q17),
    // disjunctive-predicate join (tpch_q19), z-order compaction of a
    // merge-built table, merge-on-read delete + DV-applied read-back,
    // and the version-to-version change data feed
    "tpch_q17", "tpch_q19", "lh_compact_zorder", "lh_delete_vectors",
    "lh_changes",
    // round 10 close-out: the pure pushdown aggregate (q6) and the
    // late-vs-ontime priority counting join (q12, adapted)
    "tpch_q6", "tpch_q12",
    // round 11: manifest-stats data skipping (readWhere over a
    // clustered CoW table; build half = NTILE layout harness), the
    // corpus-wide approximate k-NN join (every vector a query), schema
    // evolution through MERGE, and the last adapted TPC-H join shape
    "lh_stats_prune", "ss_knn_join", "lh_evolve", "tpch_q21",
    // round 11: BPE segmentation engine (pinned merges, full oracle)
    // and token-budget packing on real BPE counts
    "ta_bpe_pinned", "sa_pack_bins_bpe",
    // round 11: metadata-only COUNT (interior files answered from
    // manifest row counts minus DV entries, boundary files scanned) and
    // skipping as a transparent optimizer rule (plain read + filter)
    "lh_count_meta", "lh_skip_rule",
    // round 12: partitioned-table pruning, metadata MIN/MAX, row-group
    // DV skipping, the SQL (CALL) merge surface, and the IVF+PQ join
    // (codes-side candidates + exact rerank)
    "lh_partition_prune", "lh_minmax_meta", "lh_rowgroup_dv",
    "lh_sql_merge", "ss_knn_join_pq",
    // round 12 (late): the MERGE INTO statement through DSv2 row-level
    // operations, the change feed as a real MicroBatchStream, and the
    // PQ join served from lakehouse-resident codes
    "lh_merge_stmt", "lh_changes_stream", "ss_knn_join_pq_cow",
    // merge-on-read MERGE INTO: DVs + appends, no group rewrite; the
    // SQL-only _file-metadata maintenance report over the unified scan
    "lh_merge_mor", "lh_file_audit",
    // selective DV materialization: rewrite only dead-heavy files;
    // the one-CALL maintenance policy (selective rewrite+compact+vacuum)
    "lh_dv_maint", "lh_maintain",
    // range-encoded deletion vectors: dense delete → O(#files) runs;
    // the per-file cost-based COW/MOR hybrid merge
    "lh_dv_compress", "lh_merge_hybrid",
    // the CoW table as a Structured Streaming sink (epoch-idempotent),
    // and the update-mode twin (per-epoch MOR upserts across a restart)
    "lh_stream_sink", "lh_stream_upsert", "lh_stream_part",
    // TPC-H wave 3: correlated-MIN catalog (q2), profit rollup (q9),
    // scalar-in-HAVING (q11), nested-IN half-sum (q20)
    "tpch_q2", "tpch_q9", "tpch_q11", "tpch_q20",
    // watermark-drained stream-stream LEFT OUTER join (null emission)
    "ev_attribution_outer", "ev_attribution_outer_stream",
    // native session_window twin of the gaps-and-islands sessionization
    "ev_sessions_native",
    // round 14: stable-column-id schema evolution (rename/widen/drop +
    // merge + DV delete on the renamed column), one-CALL maintenance
    // racing an interleaved upsert (rebase-and-retry), the partitioned
    // change-feed source, and the predicate-pushed filtered ANN join
    "lh_evolve2", "lh_maintain_conc", "lh_feed_part",
    "ss_knn_join_filtered",
    // round 15: TIMESTAMP AS OF resolution (metadata-only) over a
    // re-stamped 3-version history, incl. one SQL-path read
    "lh_time_travel",
    // round 15: bloom point-lookup skipping (declare+backfill+probe
    // build half; probe/readWhere op half) and the storage-partitioned
    // join over two bucketed CoW tables (exchange-free fact⋈fact)
    "lh_bloom_prune", "lh_spj_join",
    // round 16: MERGE WITH SCHEMA EVOLUTION (the statement evolves the
    // target inside the merge — AddColumn metadata commit + row-level
    // MERGE against the evolved schema) and WRITE-AUDIT-PUBLISH over
    // branch refs (stage, one-pass audit, atomic publish / drop)
    "lh_merge_evolve", "lh_wap",
    // round 16: exact total-variation distribution drift vs a pinned
    // reference snapshot (one scan per side, decimal-pure); real
    // ImageIO PNG decode; Hamming-banded perceptual image dedup
    "dq_drift", "mm_decode_png", "dd_image_phash",
    // round 16: version-over-version drift (time travel pins both
    // sides of the report; the ingest between them is a real merge)
    // and perceptual AUDIO dedup (container parse + energy-gradient
    // hash through the same banded machinery as the image gate)
    "dq_drift_cow", "dd_audio_phash",
    // round 17: lossy-JPEG perceptual dedup (nonzero-Hamming recall
    // path, deterministic engineered distances), sketch-backed drift
    // for high-cardinality columns (KLL quantile bins + CMS/heavy-
    // hitter frequency distance, bounded state), and mid-stream
    // schema evolution through the update-mode streaming sink
    "dd_image_jpeg", "dq_drift_sketch", "lh_stream_upsert_evolve",
    // round 17 (late): perceptual VIDEO dedup — container parse +
    // per-frame real decode + frame-hash alignment (full-containment
    // pairing catches re-encodes AND trimmed copies exactly)
    "dd_video_frames",
    // round 18: TEMPORAL alignment for video dedup (offset voting +
    // contiguous-run detection rejects the reordered decoy containment
    // accepts), cross-codec WAV audio dedup (javax.sound.sampled RIFF
    // next to the GA1 container), and the change feed replayed ACROSS
    // a schema-evolution boundary (per-version slices rename forward /
    // up-cast / NULL-extend onto the evolved stream schema)
    "dd_video_align", "dd_audio_wav", "lh_changes_evolve",
    // round 18 (late): partial-column CDC upsert (absent columns keep
    // matched rows' current values, read from exactly the candidate
    // files match discovery already bounded) and MID-RUN table
    // evolution absorbed by the update-mode streaming sink without a
    // restart (rename-forward + preserve-not-clobber per epoch)
    "lh_upsert_partial", "lh_stream_upsert_mid",
    // round 18 (late): hi-card drift ACROSS LAKEHOUSE VERSIONS — time
    // travel pins the reference side, the ingest between the versions
    // is two partial-column upserts, the report is the bounded-state
    // sketch flavor (KLL + CMS/MG, one aggregate per side)
    "dq_drift_sketch_cow",
    // round 18 (late): SQL-path COUNT(*) / MIN / MAX through DSv2
    // complete aggregate pushdown — the bare aggregates plan a one-row
    // LocalTableScan proven from sidecar row counts minus live DV runs
    // (COUNT) and full-file stats with DV'd files read by a bounded
    // planning job (MIN/MAX); filtered twins pinned OFF the path
    "lh_count_push", "lh_minmax_push")

  /** Production (raw) forms for names whose GATE entry is an accuracy
    * ENVELOPE: the gate form recomputes the exact answer alongside the
    * sketch/banded operator purely so the oracle can check it — timing
    * that would measure oracle overhead, not the operator. The bench
    * times the raw production operator under the same name (comparable
    * with earlier rounds, which timed exactly these). */
  val raw: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "ev_distinct" -> ((s, d) => graft.streaming.EventStreams
      .distinctUsersHourly(graft.Tables.events(s, d))),
    "ev_quantiles" -> ((s, d) => graft.streaming.EventStreams
      .valueQuantilesHourly(graft.Tables.events(s, d))),
    // production serving = shortlist + exact rerank (the gate times the
    // oracle-able first stage alone)
    "ss_knn_hamming" -> ((s, d) => graft.operators.Similarity
      .hammingRerank(graft.Tables.embeddings(s, d))),
    "q33_theta_sketch" -> ((s, d) => graft.operators.Advanced.q33ThetaRaw(s, d)),
    "dq_drift_sketch" -> ((s, d) =>
      graft.operators.DataQuality.dqDriftSketchRaw(s, d)),
    "dq_drift_sketch_cow" -> ((s, d) =>
      graft.operators.DataQuality.dqDriftSketchCowRaw(s, d)),
    "q34_kll_quantile" -> ((s, d) => graft.operators.Advanced.q34KllRaw(s, d)),
    "dd_simhash_pairs" -> ((s, d) => graft.operators.Dedup.ddSimhashPairs(s, d)),
    "ss_knn_ivf" -> ((s, d) =>
      graft.operators.Similarity.knnIvf(s, d, graft.operators.Similarity.IvfProbe)),
    "ss_knn_pq" -> ((s, d) => graft.operators.Similarity.knnPq(s, d)),
    // production join only (the gate form re-runs brute force for the
    // recall envelope — oracle overhead, not the operator)
    "ss_knn_join" -> ((s, d) => graft.operators.Similarity.knnJoin(s, d)),
    "ss_knn_join_pq" -> ((s, d) => graft.operators.Similarity.knnJoinPq(s, d)),
    // production = encode-once into the CoW code table + serve the join
    // from stored codes (the gate adds the exact join for its recall
    // envelope — oracle overhead)
    "ss_knn_join_pq_cow" -> ((s, d) =>
      graft.operators.Similarity.knnJoinPqCow(s, d)),
    "dd_bloom_incremental" -> ((s, d) => graft.operators.Dedup.ddBloomAdmit(s, d)),
    "dd_dup_spans" -> ((s, d) => graft.operators.Dedup.ddDupSpansHashed(s, d)),
    "dd_decontaminate" -> ((s, d) => graft.operators.Dedup.ddDecontaminateHashed(s, d)),
    "dd_bloom_sharded" -> ((s, d) => graft.operators.Dedup.ddBloomAdmitSharded(s, d)),
    // stored-index serving only (no brute-force oracle recompute): the
    // ensure is a meta-read cache hit after the first run
    "ss_knn_pq_stored" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val base = graft.operators.PqIndex.ensurePqIndex(s, d)
      val batch = graft.Tables.embeddings(s, d)
        .filter(col("vec_id") < graft.operators.Similarity.NumQueries)
        .select(col("vec_id").as("q_id"), col("embedding"))
      graft.operators.PqIndex.knnPqStored(s, base, batch)
    }),
    // production ingest only: fresh store, two id-ordered half batches
    // (the gate form additionally recomputes the full-batch keep-set
    // for its equivalence booleans — oracle overhead, not the operator)
    "ss_semdedup_incr" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ops = graft.operators.Similarity
      val emb = graft.Tables.embeddings(s, d)
        .filter(col("vec_id") < ops.NearDupCap)
      val cents = ops.cachedCentroids(graft.Tables.embeddings(s, d), d)
      val store = java.nio.file.Files
        .createTempDirectory("bench_sdi").toString
      graft.operators.IncrementalSemDedup.initStore(s, store, cents,
        ops.SemDedupThreshold)
      val mid = ops.NearDupCap / 2
      graft.operators.IncrementalSemDedup.ingest(s, store,
        emb.filter(col("vec_id") < mid), cents)
      graft.operators.IncrementalSemDedup.ingest(s, store,
        emb.filter(col("vec_id") >= mid), cents)
    }),
    // production CMS: one sketch-build aggregate at production width
    // (the gate form also recomputes exact counts for the oracle)
    "ta_cms_freq" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.Tables.documents(s, d)
        .select(explode(graft.operators.TextAnalysis.tokens(col("text")))
          .as("token"))
        .agg(graft.functions.CmsFunctions.cms_sketch(col("token"),
          graft.operators.TextAnalysis.CmsDepth, 1024).as("sk"))
    }),
  )

  /** Cores for the bench session, from `SPARK_GRAFT_CPUS` (default 32). */
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The bench session and scale-factor dir (`SPARK_GRAFT_SF_DIR`),
    * shared by [[main]] and `graft.tools.BenchOne`: `local[cpus]`
    * through [[Graft.session]], warmed up by one q1 run (JVM and codegen
    * warm-up outside any timed region). */
  def warmSession(): (SparkSession, String) = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session(master = s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    (spark, sfDir)
  }

  /** One timed run. `build` is the lakehouse fixture half (None for a
    * plain query); the op half splits into constructing its DataFrame
    * (driver-side work: manifests, pruning, commits) and executing it
    * into the noop sink. `table` is the fixture's path. */
  final case class Timing(build: Option[Double], construct: Double,
      execute: Double, table: Option[String]) {
    def op: Double = construct + execute
    def total: Double = build.getOrElse(0.0) + op
  }

  /** One run of `name` under the bench protocol: a `benchSplit` gate
    * builds a fresh fixture and times build and op halves separately; a
    * plain query runs its raw production form if it has one. The result
    * goes through the `noop` sink so the FULL plan executes, and the
    * cache is cleared afterwards, also on failure. */
  def timeRun(spark: SparkSession, sfDir: String, name: String): Timing =
    try graft.operators.CowGates.benchSplit.get(name) match {
      case Some(mk) =>
        val (build, op) = mk(spark, sfDir)
        val t0 = System.nanoTime()
        val table = build()
        val t1 = System.nanoTime()
        val df = op(table)
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        Timing(Some((t1 - t0) / 1e9), (t2 - t1) / 1e9, (t3 - t2) / 1e9,
          Some(table))
      case None =>
        val q = raw.getOrElse(name, SparkEntry.queries(name))
        val t0 = System.nanoTime()
        val df = q(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        Timing(None, (t1 - t0) / 1e9, (t2 - t1) / 1e9, None)
    } finally spark.catalog.clearCache() // isolate per-query cache/memory

  def main(args: Array[String]): Unit = {
    val (spark, sfDir) = warmSession()
    // three timed runs per query, report the min; per-run times go to
    // stderr so run-to-run variance is attributable (round-2 verdict:
    // shared-host noise made regressions indistinguishable from drift).
    // A query that throws is marked "err" in the JSON, excluded from the
    // total, and fails the whole bench (nonzero exit) — time-to-crash
    // must never masquerade as a fast run (round-9 verdict).
    // the lakehouse gates are fixture-build + operator; time the halves
    // separately so operator drift is visible round-over-round (the
    // reported query number stays build+op, comparable with earlier
    // rounds; the split goes to the "lh_split" JSON key)
    val results: Seq[(String, Option[Double], Option[(Double, Double)],
        Option[String])] = headline.map { name =>
      var err: Option[String] = None
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val splits = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      var run = 0
      while (run < 3 && err.isEmpty) {
        run += 1
        try {
          val t = timeRun(spark, sfDir, name)
          times += t.total
          t.build.foreach(b => splits += ((b, t.op)))
        } catch {
          case e: Throwable =>
            err = Some(e.toString.replaceAll("""["\\\n\r\t]""", " ").take(300))
            System.err.println(s"[bench] $name FAILED: $e")
        }
      }
      if (err.isEmpty) System.err.println(
        f"[bench] $name runs: ${times.map(t => f"$t%.3f").mkString(", ")}")
      val split = if (splits.isEmpty) None
        else Some((splits.map(_._1).min, splits.map(_._2).min))
      (name, if (err.isEmpty) Some(times.min) else None, split, err)
    }
    val qs = results.map {
      case (k, Some(v), _, _) => "\"" + k + f"\":$v%.3f"
      case (k, None, _, _)    => "\"" + k + "\":\"err\""
    }.mkString("{", ",", "}")
    // A query that errored on a later run may still carry splits from the
    // successful run — suppress them so the artifact stays consistent.
    val lhSplits = results.collect { case (k, _, Some((b, o)), None) =>
      "\"" + k + f"""\":{"build":$b%.3f,"op":$o%.3f}""" }
    val lhJson =
      if (lhSplits.isEmpty) ""
      else lhSplits.mkString(""","lh_split":{""", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e)) =>
      "\"" + k + "\":\"" + e + "\"" }
    val errsJson =
      if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    val total = results.flatMap(_._2).sum
    val nErr = errs.size
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","failed":$nErr,"queries":$qs$lhJson$errsJson,"sf":"$sfDir"}"""
    // The per-query map outgrew the driver's stdout tail capture at ~113
    // queries (BENCH_r14.json came back "parsed": null), so the full
    // artifact goes to a FILE and stdout carries a compact, always-
    // parseable last line pointing at it. The file default is
    // CPU-STAMPED: the driver benches at two core counts and the
    // second run used to overwrite the first's per-query data
    // (round-18 verdict — PERF per_query was empty two rounds running).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_local_full_c$cpus.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes("UTF-8"))
    // sentinel-wrapped copy first (regex-extractable from any log
    // capture), then the bare compact JSON as the true LAST stdout
    // line (run/outputStrategy passes it raw; showSuccess=false keeps
    // sbt from appending a [success] line after it). The driver's
    // tail capture is 2000 chars and it parses from that tail — the
    // r14 lesson — so the per-query map (~3 KB at 135 queries) can
    // never ride the parsed line; it lives in the cpu-stamped file
    // artifact above, which survives both of the driver's runs.
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","failed":$nErr,"n_queries":${headline.size},"sf":"$sfDir","json_path":"$outPath"}"""
    println(s"GRAFT_BENCH_JSON>>>$compact<<<GRAFT_BENCH_JSON")
    spark.stop()
    println(compact)
    if (nErr > 0) {
      System.err.println(s"[bench] $nErr queries FAILED — bench is invalid")
      sys.exit(1)
    }
  }
}
