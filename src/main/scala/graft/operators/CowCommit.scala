package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** The manifest-and-commit seam of [[CowTable]]: the v3 manifest
  * format and its parser, the entries cache, the per-file stats and
  * bloom sidecars collected at commit time, the optimistic commit
  * protocol, and every function that claims a version — the `init*`
  * family, [[rowLevelCommit]], [[alterTable]], [[declareBloom]],
  * [[consolidateBlooms]] and the branches. [[commitWithRetry]] and
  * [[commitWithStatsDF]] are `private` here: every other seam commits
  * through one of those functions. */
private[operators] trait CowCommit { self: CowTable.type =>

  /** The manifest header. The entries-parquet sidecar is the SOLE
    * data-file list, so commit writes and reads parse O(1) driver-side
    * text regardless of file count. DV lines stay in the text: they
    * are delta-sized by contract (maintenance folds them), the read
    * path needs them driver-side for the anti-join broadcast decision
    * anyway, and the counted `dv:<runs>:<path>` form keeps run counts
    * metadata-only. The `dropped:` tombstone line lists every column
    * name (and prior-name chain) ever dropped, so a later ADD can never
    * resurrect an old file's physical column under a reused name. */
  private val Header = "graft-cow-manifest-v3"
  private val DvPrefix = "dv:"
  private val DroppedPrefix = "dropped:"
  private val SchemaPrefix = "schema:"
  private val EntriesPrefix = "entries:"
  private val EntryCountPrefix = "nentries:"
  private val PartColsPrefix = "partcols:"
  private val BloomColsPrefix = "bloomcols:"
  private val BloomRelPrefix = "bloomrel:"
  private val BucketSpecPrefix = "bucketspec:"
  private val EndMarker = "end"

  /** Path segment + part-JSON key for a file's bucket id. Reserved
    * (double-underscore) so it can never collide with a user column's
    * `__p_` partition segment. */
  private[graft] val BucketSegment = "__gbucket"

  /** `bucketspec:<n>:<urlenc(col)>` codec. */
  private def encodeBucketSpec(s: (String, Int)): String =
    s"${s._2}:${java.net.URLEncoder.encode(s._1, "UTF-8")}"

  private def decodeBucketSpec(line: String): (String, Int) = {
    val i = line.indexOf(':')
    (java.net.URLDecoder.decode(line.substring(i + 1), "UTF-8"),
      line.take(i).toInt)
  }

  /** `bloomcols:` line codec — `urlenc(col):fpp:items` joined by ','.
    * Column names are URL-encoded so ':'/',' in a name cannot split the
    * record (the same reserved-character discipline as path
    * normalization). */
  private def encodeBloomCols(specs: Map[String, BloomColSpec]): String =
    specs.toSeq.sortBy(_._1).map { case (c, s) =>
      java.net.URLEncoder.encode(c, "UTF-8") + ":" + s.fpp + ":" +
        s.itemsPerFile
    }.mkString(",")

  private def decodeBloomCols(line: String): Map[String, BloomColSpec] =
    line.split(",").filter(_.nonEmpty).map { rec =>
      val Array(c, fpp, items) = rec.split(":")
      java.net.URLDecoder.decode(c, "UTF-8") ->
        BloomColSpec(fpp.toDouble, items.toLong)
    }.toMap

  private[operators] def manifestDir(table: String): Path = Paths.get(table, "manifest")
  private[operators] def manifestPath(table: String, v: Int): Path =
    manifestDir(table).resolve(s"v$v.manifest")

  /** `input_file_name()`/`_metadata.file_path` yield URIs; manifests
    * store filesystem paths. Percent-decodes WITHOUT the form-encoding
    * plus-is-space rule (a literal '+' in a path must survive), so the
    * decoded URI of a file equals its raw path. */
  private[operators] def normalize(p: String): String = {
    val noScheme = if (p.startsWith("file:")) p.stripPrefix("file:") else p
    java.net.URLDecoder.decode(noScheme.replace("+", "%2B"), "UTF-8")
      .replaceAll("/+", "/")
  }

  /** SQL twin of [[normalize]] for URI-valued path columns — the
    * codegen'd memoizing [[graft.functions.PathNorm]] (the regex-chain
    * form cost ~40% of a DV-applied read at sf0.1; see that scaladoc). */
  private[operators] def normalizeSql(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.PathNorm(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))

  /** One `dv:`-stripped manifest line `<runs>:<path>` → (path, runs).
    * Paths are absolute (start with '/'), so the leading all-digit
    * segment is unambiguous. */
  private def parseDvLine(l: String): Option[(String, Long)] = {
    val i = l.indexOf(':')
    if (i > 0 && l.take(i).forall(_.isDigit))
      Some((l.substring(i + 1), l.take(i).toLong))
    else None
  }

  /** Reads manifest `v` of `table`. None ONLY for a missing file or
    * the zero-length claim [[writeManifestText]] leaves between its
    * create-exclusive claim and the atomic rename (a claim is either
    * empty or complete). Any other content that is not a well-formed
    * v3 manifest — a foreign or retired header, an unknown line, a
    * malformed dv line, a missing `end`/`entries:`/`nentries:` — throws:
    * silently skipping it would serve an older snapshot and drop the
    * version from vacuum's and expiry's live sets. */
  private[operators] def parseManifest(table: String, v: Int): Option[Manifest] = {
    val path = manifestPath(table, v)
    if (!Files.isRegularFile(path)) return None
    val all = {
      val src = scala.io.Source.fromFile(path.toFile, "UTF-8")
      try src.getLines().toList finally src.close()
    }
    if (all.isEmpty) return None
    def refuse(why: String): Nothing = throw new IllegalStateException(
      s"cow table $table: manifest v$v is not a readable " +
        s"$Header manifest ($why); first line: '${all.head}'")
    if (all.head != Header) refuse("unknown header")
    if (all.last != EndMarker) refuse(s"missing '$EndMarker' marker")
    val body = all.tail.dropRight(1)
    def one(prefix: String): Option[String] =
      body.find(_.startsWith(prefix)).map(_.stripPrefix(prefix))
    val leftovers = body.filterNot(l => LinePrefixes.exists(l.startsWith))
    if (leftovers.nonEmpty) refuse(s"unknown line '${leftovers.head}'")
    val schema = one(SchemaPrefix).getOrElse(refuse(s"no '$SchemaPrefix'"))
    val rel = one(EntriesPrefix).getOrElse(refuse(s"no '$EntriesPrefix'"))
    val nEntries = one(EntryCountPrefix).getOrElse(
      refuse(s"no '$EntryCountPrefix'")).toLong
    val dvp = body.filter(_.startsWith(DvPrefix)).map { l =>
      parseDvLine(l.stripPrefix(DvPrefix))
        .getOrElse(refuse(s"uncounted dv line '$l'")) }
    Some(Manifest(v, table, dvp.map(_._1), schema, rel, nEntries,
      partitionCols = one(PartColsPrefix)
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      dvRunCounts = dvp.toMap,
      bloomCols = one(BloomColsPrefix).map(decodeBloomCols)
        .getOrElse(Map.empty[String, BloomColSpec]),
      bloomRels = body.filter(_.startsWith(BloomRelPrefix))
        .map(_.stripPrefix(BloomRelPrefix)),
      bucketSpec = one(BucketSpecPrefix).map(decodeBucketSpec),
      droppedNames = one(DroppedPrefix)
        .map(_.split(",").toSeq.filter(_.nonEmpty)
          .map(java.net.URLDecoder.decode(_, "UTF-8")).toSet)
        .getOrElse(Set.empty[String])))
  }

  /** Every line form a manifest body may hold. */
  private val LinePrefixes = Seq(SchemaPrefix, EntriesPrefix,
    EntryCountPrefix, PartColsPrefix, BloomColsPrefix, BloomRelPrefix,
    BucketSpecPrefix, DroppedPrefix, DvPrefix)

  /** Test hook: how many times a manifest's data-file list was
    * materialized on the driver (the [[Manifest.files]] loader). The
    * planning-scale spec pins that commit + selective read planning
    * over a large table never fire it. */
  private[graft] val driverManifestFileListLoads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The file-list loader: one columnar collect of the sidecar's data
    * rows (kind='data'), normalized to openable filesystem paths.
    * Needs an active session — every CowTable operation has one; a
    * bare parse that never touches `.files` never pays it. */
  private[operators] def sidecarDataPaths(table: String, rel: String): Seq[String] =
    sidecarScan(SparkSession.active, table, rel)
      .filter(col("kind") === "data").select("path")
      .collect().map(r => normalize(r.getString(0))).toSeq

  private[operators] def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ArrayBuffer[Path]()
      while (it.hasNext) buf += it.next()
      buf.toSeq
    } finally s.close()
  }

  /** Best-effort recursive delete, for reclaiming a sidecar dir whose
    * commit attempt was abandoned (parquet dirs may hold `_SUCCESS`
    * markers or `_temporary` leftovers, so one-level listing is not
    * enough). Never throws — the abandon path must surface the
    * ORIGINAL failure, not a cleanup IOException. */
  private def deleteRecursively(p: Path): Unit =
    try {
      if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
      Files.deleteIfExists(p)
    } catch { case _: java.io.IOException => () }

  private[operators] def completeVersions(table: String): Seq[Int] = {
    val dir = manifestDir(table)
    if (!Files.isDirectory(dir)) return Nil
    listDir(dir).map(_.getFileName.toString)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toInt }
      .sorted(Ordering[Int].reverse)
  }

  def latestManifest(table: String): Option[Manifest] =
    completeVersions(table).iterator
      .flatMap(v => parseManifest(table, v))
      .nextOption()

  def readManifest(table: String, version: Int): Manifest =
    parseManifest(table, version).getOrElse(
      throw new IllegalArgumentException(
        s"cow table $table has no complete manifest v$version"))

  // ------------------------------------------------------------ commit

  /** Create-exclusive claim on the version, then tmp-write + atomic
    * rename. Throws FileAlreadyExistsException when racing a committer
    * that claimed the same version first. */
  private def writeManifestText(table: String, version: Int,
      content: String): Unit = {
    val dir = manifestDir(table)
    Files.createDirectories(dir)
    val target = manifestPath(table, version)
    Files.createFile(target) // atomic claim; loser throws here
    val tmp = dir.resolve(s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, content.getBytes("UTF-8"))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Bounded optimistic-concurrency retry loop around a version commit.
    * `attempt(head)` recomputes the carried entries AGAINST `head` and
    * commits `head.version + 1`; on a claim loss the loop waits for the
    * winner's manifest to COMPLETE (a claimed-but-unwritten file is
    * invisible to readers), runs `validate(newHead)` — which must throw
    * on a GENUINE conflict (file overlap, overlapping deletes, schema
    * divergence, key collisions) — and re-attempts against the new
    * head, at most [[CommitRetries]] times. This is the
    * Delta/Iceberg-style reconciliation that lets writers touching
    * DISJOINT files race and ALL land with serialized versions, while
    * overlapping writers still fail loudly (from `validate`). A
    * crashed winner (claim forever incomplete) also fails loudly after
    * the wait budget. Data/DV files a losing attempt already wrote are
    * reused verbatim on retry — version dirs carry a uniq suffix and
    * manifests reference absolute paths, so the directory's version
    * number is free to lag the committed version; a failed attempt's
    * entries-sidecar dir is KB-sized litter no manifest references. */
  private[graft] val CommitRetries = 5

  /** Schema equality for rebase validation — by field names and types,
    * not raw JSON: a parquet scan round-trip flips nullability flags,
    * which is not a conflicting schema change. */
  private[graft] def schemaCompatible(x: String, y: String): Boolean =
    x == y || scala.util.Try {
      def norm(j: String) = DataType.fromJson(j).asInstanceOf[StructType]
        .fields.map(f => (f.name, f.dataType.catalogString)).toSeq
      norm(x) == norm(y)
    }.getOrElse(false)

  /** Rebase metadata preservation: every rebasing committer re-commits
    * the schema it derived from its BASE, so a concurrent
    * metadata-only schema commit (an [[alterTable]] that assigned
    * stable field ids without renaming/dropping/widening — compatible
    * under [[schemaCompatible]], hence not a conflict) would be
    * silently reverted. When the head's schema is a pure metadata
    * refinement of ours (names/types identical, JSON differs) adopt it
    * wholesale; otherwise (an evolve-merge rebasing over a
    * metadata-only commit: shapes differ by design) carry the head's
    * field metadata onto identically-named/typed fields ours left
    * bare. [[alterTable]], [[createBranch]] and [[publishBranch]] opt
    * out — the schema they commit IS the intended one. */
  private[graft] def adoptHeadSchema(schema: StructType,
      h: Manifest): StructType = {
    val hs = h.schema
    if (hs.json != schema.json && schemaCompatible(hs.json, schema.json)) hs
    else {
      val byName = hs.fields.map(f => f.name -> f).toMap
      StructType(schema.fields.map { f =>
        byName.get(f.name) match {
          case Some(hf)
              if hf.dataType.catalogString == f.dataType.catalogString &&
                f.metadata == org.apache.spark.sql.types.Metadata.empty &&
                hf.metadata != org.apache.spark.sql.types.Metadata.empty =>
            f.copy(metadata = hf.metadata)
          case _ => f
        }
      })
    }
  }

  private def commitWithRetry(table: String, base: Manifest,
      validate: Manifest => Unit,
      attempt: Manifest => Manifest): Manifest = {
    var head = base
    var tries = 0
    while (true) {
      try return attempt(head)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          tries += 1
          if (tries > CommitRetries) throw new IllegalStateException(
            s"cow commit on $table lost $CommitRetries consecutive " +
              "version races — giving up")
          var h = latestManifest(table).getOrElse(head)
          var waits = 0
          while (h.version <= head.version && waits < 100) {
            Thread.sleep(50L)
            h = latestManifest(table).getOrElse(head)
            waits += 1
          }
          if (h.version <= head.version) throw new IllegalStateException(
            s"cow commit on $table: version ${head.version + 1} was " +
              "claimed but its manifest never completed (crashed " +
              "writer?) — run vacuum, then retry")
          validate(h)
          head = h
      }
    }
    head // unreachable
  }

  /** The standard rebase validity rule, shared by every committer's
    * retry loop: an interleaved commit is compatible iff it (a) kept
    * the schema and partitioning, (b) did not rewrite or remove any
    * data file this operation rewrites (`rewrittenN`) or targets with
    * fresh deletion vectors (`dvTargetN`), (c) did not itself add a
    * deletion vector inside any of those files (overlapping deletes
    * are refused at FILE granularity — conservative, never wrong),
    * (d) — when `srcKeys` is given — did not add rows carrying this
    * operation's source keys (a rebase would silently lose an update
    * or duplicate an insert), and (e) — with `refuseAddedData` — did
    * not add any data file at all. (e) is the DSv2 merge-on-read rule:
    * that write sees only row ids and written files, never the
    * statement's ON condition, so it cannot re-verify its match
    * decisions; an added row could have matched (a phantom) and a
    * rebase would duplicate a MERGE insert or skip an update/delete
    * the statement owed. It refuses some benign races the key-aware
    * committers accept, as a loud retryable error. All sets are
    * NORMALIZED paths. Everything else (appends, disjoint-file
    * rewrites, deletes in other files, maintenance that only moved
    * untouched files) rebases and lands. */
  private[graft] def standardRebaseValidate(spark: SparkSession,
      op: String, table: String, base: Manifest,
      rewrittenN: Set[String], dvTargetN: Set[String],
      srcKeys: Option[(DataFrame, Seq[String])] = None,
      refuseAddedData: Boolean = false)(h: Manifest): Unit = {
    def conflict(msg: String) = throw new java.util.ConcurrentModificationException(
      s"$op $table: concurrent $msg — rerun against the new snapshot")
    if (!schemaCompatible(h.schemaJson, base.schemaJson))
      conflict("schema change")
    if (h.partitionCols != base.partitionCols) conflict("re-partitioning")
    val mine = rewrittenN ++ dvTargetN
    if (mine.nonEmpty) {
      // candidate-sized sidecar probe — a race on a large v3 table
      // never materializes the head's file list
      val live = entriesLiveAmong(spark, table, h, mine.toSeq)
      if (!mine.forall(live.contains))
        conflict("rewrite of a file this operation rewrites or deletes from")
      if (dvTargets(spark, h.dvs.filterNot(base.dvs.toSet), h.dvRunCounts)
          .exists(mine.contains))
        conflict("delete inside a file this operation rewrites or deletes from")
    }
    lazy val added = addedDataPaths(spark, table, h, base)
    if (refuseAddedData && added.nonEmpty)
      conflict("write of data files while this statement matched rows " +
        "against the old snapshot — its match decisions may be stale " +
        "(phantom rows)")
    srcKeys.foreach { case (sk, keys) =>
      if (added.nonEmpty && rawScan(spark, base, added)
          .join(broadcast(sk), keys, "left_semi").limit(1).count() > 0L)
        conflict("write of rows matching this operation's source keys")
    }
  }

  /** The normalized data-file paths `dvs` delete rows from — a
    * projection of [[dvFiles]] (`runs` counts every path of `dvs`). */
  private[operators] def dvTargets(spark: SparkSession, dvs: Seq[String],
      runs: Map[String, Long]): Set[String] =
    dvFiles(spark, dvs, runs).select("__dv_fp")
      .collect().map(_.getString(0)).toSet

  /** Data paths of `h` absent from `base` — the rebase validator's
    * "what landed since my snapshot" set, computed as a SIDECAR
    * anti-join (executor-side; the collected result is the
    * interleaved delta, not a table listing) so a race on a large
    * table never materializes either side's file list. Returned paths
    * are normalized, hence openable. */
  private def addedDataPaths(spark: SparkSession, table: String,
      h: Manifest, base: Manifest): Seq[String] = {
    def side(m: Manifest): DataFrame = entriesDF(spark, table, m)
      .filter(col("kind") === "data")
      .select(normalizeSql(col("path")).as("__np"))
    side(h).join(side(base), Seq("__np"), "left_anti")
      .collect().map(_.getString(0)).toSeq
  }

  /** An entries sidecar is IMMUTABLE once its manifest commits (the rel
    * path carries a uniq suffix and is never rewritten), so a bounded
    * per-JVM cache removes the read-back Spark jobs from the hot
    * lifecycle: committers pre-populate it with what they just wrote,
    * and the merge/delete/compact loop never re-reads its own
    * manifests. SIZE-GATED: only sidecars at or below
    * [[SmallSidecarEntries]] entries are ever driver-materialized —
    * planning over a large table stays a columnar scan of the sidecar
    * parquet, never a driver seq (the 10⁶-file rung). Bounded
    * (whole-map clear past the cap) so a long-lived session over many
    * tables can't grow it unboundedly. */
  private val entriesCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[FileEntry]]()
  private val EntriesCacheCap = 256

  /** Sidecars above this entry count are never collected to the driver:
    * every planning consumer ([[pruneDataFilesExpr]],
    * [[countWhereDetailed]], [[tableChanges]], [[vacuum]], merge
    * discovery, compaction sizing) runs its predicate/set algebra on
    * the parquet-backed entries DataFrame and collects only surviving
    * paths or aggregated counts. The same bound, counted in runs, is
    * [[dvFiles]]' switch between a driver read and a columnar one. */
  private[graft] val SmallSidecarEntries = 10000L

  /** Test hook: total sidecar entry rows materialized on the driver by
    * [[loadEntries]]. The de-collected-planning spec pins that planning
    * over a large (100k-entry) sidecar leaves this unchanged. */
  private[graft] val driverEntryRowsLoaded =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test hook: path strings COLLECTED to the driver by read planning
    * ([[pruneDataFilesExpr]]'s stats-kept + bloom-proven collects) —
    * the planner's survivors, the one driver materialization a file
    * scan genuinely needs (Spark's task planning takes a file list).
    * The de-collected-planning spec pins that a SELECTIVE readWhere
    * collects O(survivors), never O(#files): all interval/equality/
    * bloom algebra runs in the sidecar scan executor-side. */
  private[graft] val driverReadPathsListed =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test hook: physical file paths materialized on the DRIVER by
    * [[vacuum]] — the reclaimed set plus the O(#version-dirs) dir
    * list, never the full O(#files) physical listing (that walk runs
    * as an executor job). The de-collected-planning spec pins this. */
  private[graft] val driverVacuumPathsListed =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test hook: data/DV/stream file deletions performed by the LAST
    * [[vacuum]] call's EXECUTOR job (a task-side accumulator — on a
    * cluster the increments ship back with task completion). The
    * retention spec pins that this equals the reclaimed-set size, i.e.
    * every physical delete ran inside a Spark task, none in a driver
    * loop. Manifest/sidecar cleanup (O(#versions) metadata) stays
    * driver-side by design. */
  private[graft] val lastVacuumExecutorDeletes =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def clearEntriesCache(): Unit = {
    entriesCache.clear()
    dvRunCache.clear()
  }

  private def cacheEntries(table: String, rel: String,
      entries: Seq[FileEntry]): Unit =
    if (entries.size <= SmallSidecarEntries) {
      if (entriesCache.size >= EntriesCacheCap) entriesCache.clear()
      entriesCache.put((table, rel), entries)
    }

  /** The canonical dv sidecar rows for a commit's dv set — what
    * [[commitWithStatsDF]] writes regardless of what the carry
    * contained (see the canonicalization note there); its driver-side
    * fast path caches exactly these rows. */
  private def canonDvRows(dvs: Seq[String]): Seq[FileEntry] =
    dvs.map(FileEntry("dv", _, -1L, None, None))

  /** The sidecar's stored schema. */
  private val entriesSchema = StructType(Seq(
    StructField("kind", StringType), StructField("path", StringType),
    StructField("bytes", LongType), StructField("numRows", LongType),
    StructField("stats", StringType), StructField("part", StringType)))

  /** Commit: entries parquet sidecar + pointer manifest. An empty
    * `entries` is a valid snapshot (the `end` marker distinguishes
    * "complete but empty" from "half-written"); `schema` keeps such a
    * snapshot readable. */
  def commitEntries(spark: SparkSession, table: String, version: Int,
      entries: Seq[FileEntry], schema: StructType): Manifest =
    // a data-file-free commit: the sidecar is written on the driver
    commitWithStatsDF(spark, table, version, spark.createDataFrame(entries),
      Nil, schema, entries.collect { case e if e.kind == "dv" => e.path },
      carriedSeq = Some(entries))

  /** [[commitEntries]] with the entries as a DATAFRAME — the
    * registration shape for tables whose file list should never be a
    * driver seq at all (the 10⁶-file rung): the carry is a columnar
    * copy into the v3 sidecar, the manifest text stays O(1) lines, and
    * the planning-scale spec drives its million-entry case through
    * exactly this door. `entries` must have the sidecar schema
    * (kind, path, bytes, numRows, stats[, part]); dv-kind entries are
    * not supported here (DV paths are text-manifest lines — pass them
    * through the delta committers). */
  def commitEntriesDF(spark: SparkSession, table: String, version: Int,
      entries: DataFrame, schema: StructType,
      partitionCols: Seq[String] = Nil): Manifest =
    commitWithStatsDF(spark, table, version, entries, Nil, schema,
      Nil, partitionCols)

  /** Version 0 of a new table: `files` and nothing carried — the one
    * commit of every `init*` builder. */
  private def commitInit(df: DataFrame, table: String, files: Seq[String],
      schema: StructType, partitionCols: Seq[String] = Nil,
      bucketSpec: Option[(String, Int)] = None): Manifest = {
    val spark = df.sparkSession
    commitWithStatsDF(spark, table, 0,
      spark.createDataFrame(Seq.empty[FileEntry]), files, schema, Nil,
      partitionCols, bucketSpecOverride = Some(bucketSpec),
      carriedSeq = Some(Nil))
  }

  /** Test hook: runs at the top of every stats commit — the injection
    * point the concurrency spec uses to land a competing commit in the
    * window between an operation reading its base manifest and
    * claiming its version (deterministic race replay). */
  private[graft] var preCommitHook: () => Unit = () => ()

  /** The internal commit: `carriedDF` rides sidecar-to-sidecar as a
    * DataFrame (at 10⁶ files the carry is a columnar copy, never a
    * driver seq); `newDataFiles` get their stats computed IN the
    * sidecar write itself — [[statsEntriesDF]] unioned in, one Spark
    * job total, nothing collected. `carriedDvs` are the carried DV
    * paths for the manifest text (driver-resident by construction:
    * the manifest format lists them).
    *
    * `carriedSeq`: the carried entries as a driver seq when the caller
    * already holds them (small sidecars) — lets the commit write its
    * sidecar ON THE DRIVER with zero Spark jobs ([[driverSidecarRows]]:
    * the new files' entries fold from their footers) and cache it,
    * and build the new files' bloom sketches on the driver too
    * ([[buildBloomSidecar]]); metadata-sized work stays off the
    * cluster. A new file whose footer cannot prove its stats keeps the
    * fused stats-scan + sidecar-write Spark job. */
  private def commitWithStatsDF(spark: SparkSession, table: String,
      version: Int, carriedDF: DataFrame, newDataFiles: Seq[String],
      schema: StructType,
      carriedDvs: Seq[String], partitionCols: Seq[String] = Nil,
      knownDvRuns: Map[String, Long] = Map.empty,
      schemaAuthoritative: Boolean = false,
      bloomColsOverride: Option[Map[String, BloomColSpec]] = None,
      extraBloomRels: Seq[String] = Nil,
      bloomRelsReplace: Option[Seq[String]] = None,
      bucketSpecOverride: Option[Option[(String, Int)]] = None,
      droppedOverride: Option[Set[String]] = None,
      carriedSeq: Option[Seq[FileEntry]] = None): Manifest = {
    preCommitHook()
    val headOpt = latestManifest(table)
    // a rebasing committer re-commits its base-derived schema; fold the
    // head's metadata refinements in so a concurrent field-id
    // assignment survives ([[adoptHeadSchema]]); alterTable opts out
    val commitSchema =
      if (schemaAuthoritative) schema
      else headOpt match {
        case Some(h) if h.version == version - 1 => adoptHeadSchema(schema, h)
        case _ => schema
      }
    // bloom index carry: the declaration + every prior sidecar ride
    // from the head (sidecars are immutable, keyed by file path — rows
    // for files no longer in the snapshot are simply never consulted);
    // a commit that adds data files while blooms are declared builds
    // ONE new sidecar for exactly those files, in its own Spark job.
    // Specs whose column chain no longer resolves (dropped) fall away.
    val headForBloom = headOpt.filter(_.version == version - 1)
    val bloomSpecs = bloomColsOverride
      .getOrElse(headForBloom.map(_.bloomCols).getOrElse(
        Map.empty[String, BloomColSpec]))
      .filter { case (k, _) => resolveBloomField(commitSchema, k).isDefined }
    // one footer read per new file, shared with dropEmptyFiles: row
    // counts, sizes and stats for the driver path below
    val conf = spark.sparkContext.hadoopConfiguration
    val facts = newDataFiles.map(f =>
      Option(writtenFacts.remove(f)).getOrElse(readFooterFacts(conf, f)))
    val newBloomRel =
      if (bloomSpecs.isEmpty || newDataFiles.isEmpty) None
      else buildBloomSidecar(spark, table, version, newDataFiles,
        bloomSpecs, commitSchema, carriedSeq.map(_ => facts.map(_.numRows)))
    val bloomRels = bloomRelsReplace match {
      case Some(rels) => (rels ++ newBloomRel).distinct
      case None => (headForBloom.map(_.bloomRels).getOrElse(Nil) ++
        extraBloomRels ++ newBloomRel).distinct
    }
    // the bucket declaration rides like the bloom one: spec carried
    // from the head; per-FILE attribution lives in the entries' part
    // JSON, so a commit whose new files are not bucket-routed simply
    // leaves them unattributed (the scan then stops reporting
    // co-partitioning — a planning downgrade, never a wrong result)
    val bucketSpec = bucketSpecOverride
      .getOrElse(headForBloom.flatMap(_.bucketSpec))
    // new files written under `__p_`/bucket dirs recover their
    // partition or bucket tuples from the path; others commit with
    // part=NULL — kept by pruning, never unsound
    val newParts =
      if (partitionCols.nonEmpty)
        partJsonOf(newDataFiles.filter(
          _.split("/").exists(_.startsWith("__p_"))), partitionCols)
      else if (bucketSpec.isDefined) bucketPartsOf(newDataFiles)
      else Map.empty[String, String]
    // DV run counts resolve AT COMMIT TIME: carried counts ride from
    // the head manifest (knownDvRuns); a freshly written sidecar gets
    // ONE footer read here, so the read path's broadcast decision
    // never opens a footer again
    val dvRunsAll: Map[String, Long] = carriedDvs.map(p =>
      p -> knownDvRuns.getOrElse(p, dvRunCount(spark, p))).toMap
    val rel = s"files/v$version-${java.util.UUID.randomUUID().toString.take(8)}"
    val out = manifestDir(table).resolve(rel)
    Files.createDirectories(out.getParent)
    // dv sidecar rows are CANONICALIZED on every commit: carried dv
    // rows are dropped and exactly one synthetic row per carriedDvs
    // element is appended, so nData = entryCount - dvs.size holds BY
    // CONSTRUCTION, whatever dv rows the carry held. dv rows carry only
    // (kind, path) information downstream — every bytes/stats consumer
    // filters kind='data' first — so the rebuild loses nothing.
    driverSidecarRows(spark, carriedSeq, facts, newParts, carriedDvs) match {
      case Some(rows) =>
        // driver-side sidecar write — zero Spark jobs
        writeSidecarDriver(spark, out, rows)
        cacheEntries(table, rel, rows)
      case None => describedJobs(spark, "CowTable.commitWithStatsDF: " +
          s"stats scan of ${newDataFiles.size} files + sidecar write") {
        val carriedDataDF = carriedDF.filter(col("kind") =!= "dv")
        val withNew =
          if (newDataFiles.isEmpty) carriedDataDF
          else carriedDataDF.unionByName(
            statsEntriesDF(spark, newDataFiles, newParts),
            allowMissingColumns = true)
        val entriesOut =
          if (carriedDvs.isEmpty) withNew
          else withNew.unionByName(
            spark.createDataFrame(canonDvRows(carriedDvs)),
            allowMissingColumns = true)
        entriesOut.select(entriesSchema.fieldNames.map(c =>
            if (entriesOut.columns.contains(c)) col(c)
            else lit(null).cast("string").as(c)): _*)
          .coalesce(1).write.mode("overwrite").parquet(out.toString)
      }
    }
    val dvs = carriedDvs
    // the sole data-file list is the just-written sidecar: the entry
    // count comes from its parquet FOOTER (metadata-only, no Spark
    // job, no driver list) — the commit never materializes the
    // carried file paths, which is the whole point
    val nEntries = parquetRowCount(spark, out)
    // dropped-column tombstones carry forward on EVERY commit (the
    // drop's guard must outlive retention cleanup of old manifests)
    val dropped = droppedOverride
      .getOrElse(headForBloom.map(_.droppedNames).getOrElse(
        Set.empty[String]))
    val partLine =
      if (partitionCols.isEmpty) Nil
      else Seq(PartColsPrefix + partitionCols.mkString(","))
    val bloomLines =
      (if (bloomSpecs.isEmpty) Nil
       else Seq(BloomColsPrefix + encodeBloomCols(bloomSpecs))) ++
        bloomRels.map(BloomRelPrefix + _)
    val bucketLine =
      bucketSpec.map(s => BucketSpecPrefix + encodeBucketSpec(s)).toSeq
    val droppedLine =
      if (dropped.isEmpty) Nil
      else Seq(DroppedPrefix + dropped.toSeq.sorted
        .map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(","))
    writeManifestText(table, version,
      (Seq(Header, SchemaPrefix + commitSchema.json, EntriesPrefix + rel,
        EntryCountPrefix + nEntries) ++ partLine ++ bloomLines ++
        bucketLine ++ droppedLine ++
        dvs.map(p => s"$DvPrefix${dvRunsAll(p)}:$p") :+ EndMarker)
        .mkString("\n"))
    Manifest(version, table, dvs, commitSchema.json, rel, nEntries,
      partitionCols, dvRunsAll, bloomSpecs, bloomRels, bucketSpec, dropped)
  }

  /** Writes an entries sidecar ON THE DRIVER ([[writeParquetDriver]]).
    * Only for commits whose rows are already a driver seq
    * ([[commitWithStatsDF]]'s driver path). */
  private def writeSidecarDriver(spark: SparkSession, out: Path,
      rows: Seq[FileEntry]): Unit = {
    import org.apache.spark.unsafe.types.UTF8String
    writeParquetDriver(spark, out, entriesSchema, rows.map(e =>
      org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(e.kind), UTF8String.fromString(e.path),
        e.bytes, e.numRows.map(Long.box).orNull,
        e.stats.map(UTF8String.fromString).orNull,
        e.part.map(UTF8String.fromString).orNull)))
  }

  /** Writes metadata rows as one parquet part file under `out`, ON THE
    * DRIVER, through the SAME writer `df.write.parquet` uses
    * ([[org.apache.spark.sql.graftbridge.WriteBridge]]), so the bytes
    * are layout-identical to a Spark-written sidecar; zero Spark jobs. */
  private def writeParquetDriver(spark: SparkSession, out: Path,
      schema: StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): Unit = {
    Files.createDirectories(out)
    val w = org.apache.spark.sql.graftbridge.WriteBridge
      .parquetWriter(spark, schema)
      .open(out.resolve("part-00000-" +
        java.util.UUID.randomUUID().toString.take(8) +
        ".parquet").toString, 0, 0)
    try rows.foreach(w.write) finally w.close()
  }

  /** Runs `body` with `what` as the Spark job description (restoring the
    * caller's afterwards), so the SQL executions and jobs of a metadata
    * fallback name the engine function that started them. */
  private[operators] def describedJobs[T](spark: SparkSession, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setJobDescription(what)
    try body finally sc.setLocalProperty(key, prev)
  }

  /** Footer-only row count of a just-written parquet dir — O(#part
    * files) metadata reads, no Spark job. */
  private def parquetRowCount(spark: SparkSession, dir: Path): Long = {
    val conf = spark.sessionState.newHadoopConf()
    listPartFiles(dir).map(f => Tables.withFooter(conf, f)(_.getRecordCount))
      .sum
  }

  /** Which of `candidates` (normalized) are live data files of `m` —
    * the candidate-sized membership probe the streaming sink's replay
    * guard needs. A SMALL sidecar answers entirely on the driver (set
    * intersection over the cached entries — zero Spark jobs, and this
    * probe runs once per streaming epoch); a large one stays a filtered
    * columnar scan, so a manifest's full file list never
    * materializes for an epoch-sized question. */
  private[graft] def entriesLiveAmong(spark: SparkSession, table: String,
      m: Manifest, candidates: Seq[String]): Set[String] = {
    if (candidates.isEmpty || !m.dataNonEmpty) return Set.empty
    val candN = candidates.map(normalize)
    smallEntries(spark, table, m) match {
      case Some(es) =>
        val live = es.iterator.filter(_.kind == "data")
          .map(e => normalize(e.path)).toSet
        candN.filter(live.contains).toSet
      case None =>
        entriesDF(spark, table, m)
          .filter(col("kind") === "data" &&
            normalizeSql(col("path")).isInCollection(candN))
          .select("path").collect().map(r => normalize(r.getString(0))).toSet
    }
  }

  /** The manifest's entries as a driver seq IF driver-affordable (the
    * same [[SmallSidecarEntries]] gate as [[entriesDF]]'s LocalRelation
    * path) — None for a large sidecar, which must stay a parquet scan.
    * Paths come back RESOLVED (openable), like [[loadEntries]]. */
  private[operators] def smallEntries(spark: SparkSession, table: String,
      m: Manifest): Option[Seq[FileEntry]] =
    if (m.entryCount <= SmallSidecarEntries)
      Some(loadEntries(spark, table, m))
    else None

  /** The write side of the small-table switch: a commit's whole
    * sidecar as driver rows — the carried data entries, the new files'
    * entries folded from their footers ([[driverStatsEntries]]) and one
    * canonical row per DV — when the carry is a driver seq (the head's
    * sidecar is at or under [[SmallSidecarEntries]], so the caller holds
    * it) and the new files keep the sidecar under that gate. None: the
    * commit runs the fused stats scan + sidecar write, as large
    * sidecars always do. */
  private[operators] def driverSidecarRows(spark: SparkSession,
      carried: Option[Seq[FileEntry]], newFiles: Seq[FooterFacts],
      parts: Map[String, String], dvs: Seq[String]): Option[Seq[FileEntry]] =
    carried.filter(cs => newFiles.isEmpty ||
        cs.size + newFiles.size <= SmallSidecarEntries)
      .flatMap(cs => driverStatsEntries(spark, newFiles, parts).map(nr =>
        cs.filterNot(_.kind == "dv") ++ nr ++ canonDvRows(dvs)))

  /** The manifest's entries as a DataFrame (kind, path, bytes, numRows,
    * stats, part) — the substrate for data skipping and file-set
    * algebra. Small sidecars serve from the driver cache (a
    * LocalRelation — no Spark job); large sidecars are a PARQUET SCAN,
    * so planning predicates evaluate executor-side and only surviving
    * paths are ever collected. Paths here are the sidecar's STORED
    * strings (normalized URIs for stats-scanned files) — consumers
    * compare through [[normalizeSql]]/[[normalize]] before opening
    * files. */
  def entriesDF(spark: SparkSession, table: String, m: Manifest): DataFrame =
    smallEntries(spark, table, m) match {
      case Some(es) => spark.createDataFrame(es)
      case None => sidecarScan(spark, table, m.entriesRel)
    }

  private def sidecarScan(spark: SparkSession, table: String,
      rel: String): DataFrame =
    spark.read.schema(entriesSchema)
      .parquet(manifestDir(table).resolve(rel).toString)

  /** Driver-side entries, cached per immutable sidecar — SMALL sidecars
    * only; callers must size-gate through [[entriesDF]]. Sidecar paths
    * written from the stats scan are NORMALIZED URIs; data paths
    * resolve through normalize alone and dv rows back to the manifest's
    * raw dv-line strings, so entry paths are always openable. */
  private def loadEntries(spark: SparkSession, table: String,
      m: Manifest): Seq[FileEntry] = {
    val rel = m.entriesRel
    val cached = entriesCache.get((table, rel))
    if (cached != null) cached
    else {
      val byNorm = m.dvs.map(f => normalize(f) -> f).toMap
      def resolve(stored: String): String = {
        val n = normalize(stored)
        byNorm.getOrElse(n, n)
      }
      // size-gated DRIVER-side parquet read (no Spark job): a small
      // sidecar is headed for the driver cache anyway, and the old
      // `sidecarScan().collect()` paid a full plan + 1-task job per
      // fresh sidecar — one such job after EVERY commit, the single
      // most repeated job in the lakehouse gates' profiles. Large
      // sidecars never reach this path ([[entriesDF]] gates on
      // entryCount), so the 10⁶-file discipline is untouched.
      // NULL optional fields read as None; bytes keeps the -1
      // "unknown" convention of dv rows
      val loaded = readParquetDriver(spark,
          listPartFiles(manifestDir(table).resolve(rel))) { r =>
        FileEntry(r.needStr("kind"), resolve(r.needStr("path")),
          r.long("bytes").getOrElse(-1L), r.long("numRows"), r.str("stats"),
          r.str("part"))
      }
      driverEntryRowsLoaded.addAndGet(loaded.size.toLong)
      cacheEntries(table, rel, loaded)
      loaded
    }
  }

  /** Reads small parquet files with the parquet example API on the
    * driver — no Spark job; callers size-gate. The one driver reader of
    * the entries sidecars ([[loadEntries]]) and the deletion vectors
    * ([[dvFiles]]). */
  private[operators] def readParquetDriver[T](spark: SparkSession, files: Seq[String])(
      row: DriverRecord => T): Seq[T] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(f))
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null)
        .map(g => row(new DriverRecord(f, g))).toVector
      finally reader.close()
    }
  }

  // ------------------------------------------------------- file stats

  /** Columns worth min/max stats: orderable atomics. Capped so a
    * 1000-column table doesn't bloat every manifest (Delta's
    * first-32-columns rule). */
  private val MaxStatsCols = 24
  private[operators] def statsEligible(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case StringType | DateType | TimestampType | TimestampNTZType |
         BooleanType => true
    case _ => false
  }

  // ------------------------------------------------- schema evolution

  /** Field-metadata keys for stable-column-id schema evolution. `fid`
    * is a stable numeric identity assigned when a field first takes
    * part in an evolution (and to merge-added columns); `prev` is the
    * field's PRIOR physical names, newest last — the resolution chain
    * a read uses to pick the value out of files written before a
    * rename. Both ride inside the manifest schema JSON (StructField
    * metadata round-trips), so evolution is metadata-only: no data
    * file is rewritten by rename, drop, or widen. */
  private[graft] val FieldIdKey = "graft.fid"
  private[graft] val PrevNamesKey = "graft.prev"

  private[graft] def prevNamesOf(f: StructField): Seq[String] =
    if (f.metadata.contains(PrevNamesKey))
      f.metadata.getStringArray(PrevNamesKey).toSeq
    else Nil

  private[graft] def fieldIdOf(f: StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
    else None

  private[operators] def hasRenames(sch: StructType): Boolean =
    sch.fields.exists(f => prevNamesOf(f).nonEmpty)

  /** Every CURRENT or HISTORICAL name in use — new columns must avoid
    * all of them, or an old file's physical column would resolve into
    * two logical fields. */
  private[graft] def allKnownNames(sch: StructType): Set[String] =
    sch.fields.flatMap(f => f.name +: prevNamesOf(f)).toSet

  /** The type widenings the parquet vectorized reader performs
    * natively (Spark 4 widening promotions), so a widen is
    * metadata-only: old files keep their narrow physical type and the
    * scan upcasts. Anything else would need a rewrite — refused. */
  private[graft] def widenOk(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (a, b) if a == b => true
      case (ByteType | ShortType | IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType | FloatType, DoubleType) =>
        true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision >= f.precision
      // integral -> decimal rides the parquet reader's native
      // promotion too (verified on this Spark); scale-0 only, and the
      // precision must hold the whole source range so no stored value
      // can overflow the upcast
      case (ByteType, t: DecimalType) => t.scale == 0 && t.precision >= 3
      case (ShortType, t: DecimalType) => t.scale == 0 && t.precision >= 5
      case (IntegerType, t: DecimalType) => t.scale == 0 && t.precision >= 10
      case (LongType, t: DecimalType) => t.scale == 0 && t.precision >= 20
      case _ => false
    }

  /** mergeInto's type discipline, shared by every committer that
    * writes SOURCE rows into the table's files: a coerced write would
    * commit files whose physical schema differs from the carried
    * files', and a later read of the mixed set resolves to an
    * arbitrary file's type. (It also keeps the bloom discovery probe
    * honest — the sketches hash at the target type.) Callers cast
    * their source explicitly; the failure mode here is silent, so the
    * check is loud. */
  private[operators] def requireSourceTypes(op: String, schema: StructType,
      source: DataFrame): Unit = {
    val sTypes = source.schema.map(f => f.name -> f.dataType).toMap
    schema.fields.foreach { f =>
      sTypes.get(f.name).foreach(st => require(
        st.catalogString == f.dataType.catalogString,
        s"$op: column ${f.name} type mismatch — source " +
          s"${st.catalogString} vs target ${f.dataType.catalogString}; " +
          "cast the source explicitly"))
    }
  }

  /** In-place schema evolution as ONE metadata-only commit: `renames`
    * (old → new name), `drops`, `widens` (column → wider type,
    * [[widenOk]]), and `adds` (new nullable columns, appended — old
    * files' rows NULL-extend at scan; this is also what SQL
    * `MERGE WITH SCHEMA EVOLUTION` lands through the catalog) apply
    * to the manifest schema; every data file, DV,
    * and stats entry is carried by reference — nothing is read or
    * rewritten. Reads resolve renamed fields through their recorded
    * prior names (coalesce at scan — old files' values survive),
    * widened fields through the parquet reader's native widening
    * promotion, and dropped fields simply stop being requested.
    * Stats-based pruning stays EXACT on old files: the pruners parse
    * old sidecar stats under the historical names and fold them into
    * the current ones ([[withStatsStruct]]). Partition columns and
    * merge keys in flight are the caller's contract: partition
    * columns refuse all three operations here. Racing writers rebase
    * like every other commit; an interleaved schema change conflicts. */
  def alterTable(spark: SparkSession, table: String,
      renames: Map[String, String] = Map.empty,
      drops: Seq[String] = Nil,
      widens: Map[String, DataType] = Map.empty,
      adds: Seq[(String, DataType)] = Nil): Manifest = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    val schema = m.schema
    val names = schema.fieldNames.toSet
    (renames.keys ++ drops ++ widens.keys).foreach(c => require(
      names.contains(c), s"alterTable: column $c does not exist"))
    (renames.keys ++ drops ++ widens.keys).foreach(c => require(
      !m.partitionCols.contains(c),
      s"alterTable: $c is a partition column — refuse rename/drop/widen"))
    // The bucket column is just as load-bearing as a partition column:
    // per-file __gbucket attribution was computed as
    // xxhash64(col AT ITS WRITE-TIME TYPE) % n, and the DSv2 scan
    // reports KeyGroupedPartitioning from it. A widen (int -> bigint
    // changes the xxhash64 input width), rename, or drop would leave
    // old files attributed under the stale domain while new writes
    // hash the new one — storage-partitioned joins would then silently
    // drop matches. Refuse; `rebucketTable` is the rewrite path.
    m.bucketSpec.map(_._1).foreach(bc =>
      (renames.keys ++ drops ++ widens.keys).foreach(c => require(c != bc,
        s"alterTable: $c is the bucket column — rename/drop/widen would " +
          "desynchronize per-file bucket attribution; rebucketTable first")))
    require(renames.keys.toSet.intersect(drops.toSet).isEmpty &&
      widens.keys.toSet.intersect(drops.toSet).isEmpty,
      "alterTable: a column cannot be dropped and renamed/widened at once")
    // a DROPPED column's name (and its prior-name chain) is gone from
    // the schema, so allKnownNames alone forgets it — the manifest's
    // tombstone set closes exactly that hole: drop(c) then add(c)
    // would resurrect old files' stale physical values (reads resolve
    // parquet columns BY NAME), the silent wrong-data case
    val known = allKnownNames(schema) ++ m.droppedNames
    renames.foreach { case (from, to) =>
      require(to != from && !known.contains(to),
        s"alterTable: rename $from -> $to collides with a current, " +
          "historical, or dropped column name")
    }
    require(renames.values.toSeq.distinct.size == renames.size,
      "alterTable: duplicate rename targets")
    // ADD COLUMN (always nullable — old files' rows NULL-extend at
    // scan): a new name must not collide with any current, historical,
    // or rename-target name; old files' physical columns under a
    // resurrected name would resolve into two fields
    require(adds.map(_._1).distinct.size == adds.size,
      "alterTable: duplicate added column names")
    adds.foreach { case (c, _) =>
      require(!known.contains(c) && !renames.values.exists(_ == c),
        s"alterTable: added column $c collides with a current, " +
          "historical, dropped, or rename-target column name")
    }
    widens.foreach { case (c, to) =>
      val from = schema(c).dataType
      require(widenOk(from, to),
        s"alterTable: cannot widen $c from ${from.catalogString} to " +
          s"${to.catalogString} — supported: int-family->bigint, " +
          "int-family/float->double, decimal precision growth at " +
          "fixed scale, integral->decimal(p,0) holding the full range")
    }
    // stable ids: first evolution assigns position-based ids to every
    // field that lacks one; they are never reused afterwards
    var nextId = schema.fields.flatMap(fieldIdOf).foldLeft(-1L)(math.max)
    val newFields = schema.fields.flatMap { f =>
      if (drops.contains(f.name)) None
      else {
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        if (fieldIdOf(f).isEmpty) { nextId += 1; mb.putLong(FieldIdKey, nextId) }
        val newName = renames.getOrElse(f.name, f.name)
        if (newName != f.name)
          mb.putStringArray(PrevNamesKey,
            (prevNamesOf(f) :+ f.name).toArray)
        val newType = widens.getOrElse(f.name, f.dataType)
        Some(StructField(newName, newType, f.nullable, mb.build()))
      }
    }
    require(newFields.nonEmpty, "alterTable: cannot drop every column")
    // tombstones: the dropped fields' names AND their prior-name chains
    // persist in every later manifest, so the re-add guard survives
    // retention cleanup of the manifests that knew the column
    val newTombstones: Set[String] =
      schema.fields.filter(f => drops.contains(f.name))
        .flatMap(f => f.name +: prevNamesOf(f)).toSet
    val addedFields = adds.map { case (c, dt) =>
      nextId += 1
      StructField(c, dt, nullable = true,
        new MetadataBuilder().putLong(FieldIdKey, nextId).build())
    }
    val newSchema = StructType(newFields.toSeq ++ addedFields)
    def validate(h: Manifest): Unit =
      if (!schemaCompatible(h.schemaJson, m.schemaJson))
        throw new java.util.ConcurrentModificationException(
          s"alterTable $table: concurrent schema change — rerun against " +
            "the new snapshot")
    def attempt(h: Manifest): Manifest =
      commitWithStatsDF(spark, table, h.version + 1,
        entriesDF(spark, table, h), Nil, newSchema, h.dvs,
        h.partitionCols, knownDvRuns = h.dvRunCounts,
        schemaAuthoritative = true,
        droppedOverride = Some(h.droppedNames ++ newTombstones),
        carriedSeq = smallEntries(spark, table, h))
    commitWithRetry(table, m, validate, attempt)
  }

  /** Fold the optimizer's alias-substituted rename resolution back to
    * the logical column: a renamed table's read plants
    * `coalesce(cur, prevs…) AS cur`, and a predicate pushed below that
    * projection arrives referencing the coalesce itself. When a
    * Coalesce's attribute names are EXACTLY a field's recorded name
    * chain, it IS that logical column — replace it with the current
    * attribute so the stats pruner (whose per-column stats already
    * fold historical keys) can evaluate the comparison. A user-written
    * coalesce over unrelated columns never matches a chain and is left
    * alone (conservatively unpruned). */
  private[operators] def foldRenameCoalesce(e: Expression,
      dataSchema: StructType): Expression = {
    val chains: Map[Set[String], String] = dataSchema.fields
      .filter(f => prevNamesOf(f).nonEmpty)
      .map(f => (prevNamesOf(f).toSet + f.name) -> f.name).toMap
    if (chains.isEmpty) e
    else e.transform {
      case c: org.apache.spark.sql.catalyst.expressions.Coalesce
          if c.children.forall(_.isInstanceOf[AttributeReference]) =>
        val names = c.children
          .map(_.asInstanceOf[AttributeReference].name).toSet
        chains.get(names) match {
          case Some(cur) => c.children.collectFirst {
            case a: AttributeReference if a.name == cur => a
          }.getOrElse(c)
          case None => c
        }
    }
  }

  /** Per-column struct<min,max,nulls> schema over the eligible columns
    * — the from_json target when pruning. Field METADATA (the
    * evolution id + prior-name chain) rides along so the parser can
    * fold historical stats keys into current names. */
  private[operators] def statsSchemaFor(dataSchema: StructType): StructType =
    StructType(dataSchema.fields.filter(f => statsEligible(f.dataType))
      .take(MaxStatsCols).map(f => StructField(f.name, StructType(Seq(
        StructField("min", f.dataType), StructField("max", f.dataType),
        StructField("nulls", LongType))), nullable = true,
        f.metadata)).toSeq)

  /** Per-file row count + stats JSON for just-written data files as a
    * LAZY DataFrame keyed by normalized path — joined into the commit's
    * sidecar write, so the whole stats-collect + sidecar-write is ONE
    * Spark job that never materializes per-file stats on the driver
    * (the shape that still works at 10⁶ files). Reads only the
    * delta-sized, just-written, page-cached files. */
  private[operators] def statsEntriesDF(spark: SparkSession, files: Seq[String],
      parts: Map[String, String] = Map.empty): DataFrame = {
    val df = spark.read.parquet(files: _*)
    val sc = df.schema.fields.filter(f => statsEligible(f.dataType))
      .take(MaxStatsCols)
    val statsCol =
      if (sc.isEmpty) lit(null).cast("string")
      else to_json(struct(sc.map(f => struct(
        min(col(f.name)).as("min"), max(col(f.name)).as("max"),
        sum(isnull(col(f.name)).cast("long")).as("nulls"))
        .as(f.name)).toSeq: _*))
    // partition values ride as a normalized-path → JSON lookup (files
    // are delta-sized, so the map literal is bounded by the write)
    val partCol =
      if (parts.isEmpty) lit(null).cast("string")
      else {
        val m = map(parts.toSeq.flatMap { case (k, v) =>
          Seq(lit(normalize(k)), lit(v)) }: _*)
        element_at(m, col("path"))
      }
    // normalized so sidecar paths string-equal listPartFiles' raw paths
    df.groupBy(
        normalizeSql(col("_metadata.file_path")).as("path"),
        col("_metadata.file_size").as("bytes"))
      .agg(count(lit(1)).as("numRows"), statsCol.as("stats"))
      .select(lit("data").as("kind"), col("path"), col("bytes"),
        col("numRows"), col("stats"), partCol.as("part"))
  }

  /** Best-effort removal of a version directory whose write produced
    * no listed file (all part files were zero-row and already deleted
    * by [[dropEmptyFiles]]): the write-then-check discipline below
    * replaces the old `df.isEmpty` pre-checks — which EXECUTED the
    * operator's heaviest plan a second time just to decide whether to
    * write (guide §1.2: don't compute things you throw away) — so an
    * empty result now leaves an empty directory to tidy instead of a
    * doubled job. Uncommitted dirs are vacuum's domain anyway; this
    * just keeps the tree clean on the common path. */
  private[operators] def dropDirIfNoFiles(out: Path, kept: Seq[String]): Unit =
    if (kept.isEmpty && Files.isDirectory(out)) {
      val walk = Files.walk(out)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      catch { case _: java.io.IOException => () }
      finally walk.close()
    }

  /** Zero-row part files (empty shuffle partitions) carry no data and
    * would need a sidecar fallback row — a manifest simply never lists
    * them. One footer read per just-written (local, delta-sized) file;
    * for data files (`keepFacts`) that read also yields the file's
    * [[FooterFacts]], kept for the commit that lists the file. */
  private[operators] def dropEmptyFiles(spark: SparkSession, files: Seq[String],
      keepFacts: Boolean = true): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.filter { f =>
      val n =
        if (!keepFacts) Tables.withFooter(conf, f)(_.getRecordCount)
        else {
          val ff = readFooterFacts(conf, f)
          if (writtenFacts.size >= WrittenFactsCap) writtenFacts.clear()
          writtenFacts.put(f, ff)
          ff.numRows
        }
      if (n == 0L) Files.deleteIfExists(Paths.get(f))
      n > 0L
    }
  }

  // ------------------------------- driver-side commit metadata

  /** Facts of files [[dropEmptyFiles]] just read, keyed by the path it
    * returned, so the commit that lists them reads no footer twice. The
    * files are immutable; entries are dropped when a commit takes them
    * and the map clears whole past its cap (abandoned writes). */
  private val writtenFacts =
    new java.util.concurrent.ConcurrentHashMap[String, FooterFacts]()
  private val WrittenFactsCap = 4096

  /** The key Spark's parquet writer stores its row schema under. */
  private val SparkRowMetaKey = "org.apache.spark.sql.parquet.row.metadata"

  private[operators] def readFooterFacts(
      conf: org.apache.hadoop.conf.Configuration, file: String): FooterFacts = {
    val (path, bytes) = scanIdentity(conf, file)
    Tables.withFooter(conf, file) { r =>
      val meta = r.getFooter
      val schema = sparkSchemaOf(meta)
      val fields = schema.toSeq.flatMap(_.fields
        .filter(f => statsEligible(f.dataType)).take(MaxStatsCols))
      // rebased (pre-Gregorian) datetimes read back shifted
      val legacy = meta.getFileMetaData.getKeyValueMetaData.keySet.stream()
        .anyMatch(_.startsWith("org.apache.spark.legacy"))
      val stats =
        if (schema.isEmpty || legacy) None
        else {
          val cols = fields.map(f => footerColumnStats(f, meta.getBlocks))
          if (cols.forall(_.isDefined)) Some(cols.map(_.get)) else None
        }
      FooterFacts(path, bytes, r.getRecordCount, fields, stats)
    }
  }

  /** A file's path and size as the stats scan names them: the
    * normalized qualified URI `_metadata.file_path` yields, and
    * `_metadata.file_size`. */
  private def scanIdentity(conf: org.apache.hadoop.conf.Configuration,
      file: String): (String, Long) = {
    val hp = new org.apache.hadoop.fs.Path(file)
    val st = hp.getFileSystem(conf).getFileStatus(hp)
    (normalize(st.getPath.toUri.toString), st.getLen)
  }

  /** The schema `spark.read.parquet` infers for a Spark-written file
    * (the row schema its writer stores); None for any other file. */
  private def sparkSchemaOf(
      meta: org.apache.parquet.hadoop.metadata.ParquetMetadata): Option[StructType] =
    Option(meta.getFileMetaData.getKeyValueMetaData.get(SparkRowMetaKey))
      .flatMap(s => scala.util.Try(DataType.fromJson(s)).toOption).collect {
        case s: StructType => s
      }

  /** How a value of parquet column `pt`, boxed as parquet-mr boxes it
    * (Integer, Long, Boolean, Float, Double, Binary), becomes the
    * catalyst value Spark reads for `dt` — None for a physical form this
    * does not decode (INT96 or nanosecond timestamps, unsigned or
    * narrowed integers, anything not written the way Spark writes
    * `dt`). */
  private def catalystValue(dt: DataType,
      pt: org.apache.parquet.schema.PrimitiveType): Option[Any => Any] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def bytes(v: Any): Array[Byte] =
      v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
    val ann = pt.getLogicalTypeAnnotation
    def int(bits: Int): Boolean = ann match {
      case i: IntLogicalTypeAnnotation => i.isSigned && i.getBitWidth == bits
      case null => bits == 32 || bits == 64
      case _ => false
    }
    def micros(utc: Boolean): Option[Any => Any] = ann match {
      case t: TimestampLogicalTypeAnnotation
          if t.isAdjustedToUTC == utc && pt.getPrimitiveTypeName == INT64 =>
        t.getUnit match {
          case TimeUnit.MICROS => Some(identity)
          case TimeUnit.MILLIS => Some(v => v.asInstanceOf[Long] * 1000L)
          case _ => None
        }
      case _ => None
    }
    (dt, pt.getPrimitiveTypeName) match {
      case (BooleanType, BOOLEAN) | (FloatType, FLOAT) | (DoubleType, DOUBLE) =>
        Some(identity)
      case (ByteType, INT32) if int(8) => Some(v => v.asInstanceOf[Integer].toByte)
      case (ShortType, INT32) if int(16) => Some(v => v.asInstanceOf[Integer].toShort)
      case (IntegerType, INT32) if int(32) => Some(identity)
      case (LongType, INT64) if int(64) => Some(identity)
      case (DateType, INT32) if ann.isInstanceOf[DateLogicalTypeAnnotation] =>
        Some(identity)
      case (TimestampType, _) => micros(utc = true)
      case (TimestampNTZType, _) => micros(utc = false)
      case (StringType, BINARY) if ann.isInstanceOf[StringLogicalTypeAnnotation] =>
        Some(v => org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes(v)))
      case (BinaryType, BINARY) if ann == null => Some(bytes)
      case (d: DecimalType, p) => ann match {
        case a: DecimalLogicalTypeAnnotation if a.getScale == d.scale => p match {
          case INT32 | INT64 => Some(v => Decimal(
            v.asInstanceOf[Number].longValue, d.precision, d.scale))
          case FIXED_LEN_BYTE_ARRAY | BINARY => Some(v => Decimal(
            new java.math.BigDecimal(new java.math.BigInteger(bytes(v)), d.scale),
            d.precision, d.scale))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
  }

  /** (min, max, nulls) of top-level column `f` folded over the row-group
    * statistics — exactly what `min`/`max`/`sum(isnull)` over the file
    * compute, or None where the footer cannot prove it: a missing or
    * dropped min/max (parquet-mr omits binary stats past 4 KiB), INT96
    * or nanosecond timestamps, a physical encoding this fold does not
    * decode, and float/double extrema that are NaN or a zero (the
    * footer rewrites a 0.0 min as -0.0 and drops NaN bounds, while
    * `min` keeps whichever zero came first and ranks NaN highest). */
  private def footerColumnStats(f: StructField,
      blocks: java.util.List[org.apache.parquet.hadoop.metadata.BlockMetaData])
      : Option[(Any, Any, Long)] = {
    val path = org.apache.parquet.hadoop.metadata.ColumnPath.get(f.name)
    var lo, hi: Any = null
    var nulls = 0L
    def less(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    val it = blocks.iterator()
    while (it.hasNext) {
      val b = it.next()
      if (b.getRowCount > 0L) {
        val chunk = b.getColumns.stream().filter(_.getPath == path)
          .findFirst().orElse(null)
        if (chunk == null) return None
        val s = chunk.getStatistics
        if (s == null || !s.isNumNullsSet) return None
        nulls += s.getNumNulls
        if (s.hasNonNullValue) {
          val c = catalystValue(f.dataType, chunk.getPrimitiveType)
            .getOrElse(return None)
          val (mn, mx) = (c(s.genericGetMin), c(s.genericGetMax))
          if (lo == null || less(mn, lo)) lo = mn
          if (hi == null || less(hi, mx)) hi = mx
        } else if (s.getNumNulls != b.getRowCount) return None
      }
    }
    val unordered = (lo, hi) match {
      case (a: java.lang.Float, b: java.lang.Float) =>
        a.isNaN || b.isNaN || a == 0.0f || b == 0.0f
      case (a: java.lang.Double, b: java.lang.Double) =>
        a.isNaN || b.isNaN || a == 0.0 || b == 0.0
      case _ => false
    }
    if (unordered) None else Some((lo, hi, nulls))
  }

  /** The entry rows [[statsEntriesDF]] would produce for `files`, built
    * from their footers on the driver — byte for byte: the stats JSON
    * goes through Spark's own `to_json` evaluator with the session's
    * time zone. None when any file's facts are unproven or the files
    * disagree on their stats columns. Zero-row files get no row, as in
    * the scan (which groups rows by file). */
  private[operators] def driverStatsEntries(spark: SparkSession, facts: Seq[FooterFacts],
      parts: Map[String, String]): Option[Seq[FileEntry]] = {
    val live = facts.filter(_.numRows > 0L)
    if (live.exists(_.stats.isEmpty) ||
        live.map(_.statsFields.map(f => (f.name, f.dataType))).distinct.size > 1)
      return None
    val partN = parts.map { case (k, v) => normalize(k) -> v }
    val fields = live.headOption.map(_.statsFields).getOrElse(Nil)
    val toJson = org.apache.spark.sql.catalyst.expressions.json
      .StructsToJsonEvaluator(Map.empty, StructType(fields.map(f =>
        StructField(f.name, StructType(Seq(StructField("min", f.dataType),
          StructField("max", f.dataType), StructField("nulls", LongType)))))),
        Some(spark.sessionState.conf.sessionLocalTimeZone))
    import org.apache.spark.sql.catalyst.InternalRow
    Some(org.apache.spark.sql.internal.SQLConf.withExistingConf(
        spark.sessionState.conf) {
      live.map { ff =>
        val stats = Option.when(fields.nonEmpty)(toJson.evaluate(InternalRow
          .fromSeq(ff.stats.get.map { case (mn, mx, n) => InternalRow(mn, mx, n) }))
          .toString)
        FileEntry("data", ff.path, ff.bytes, Some(ff.numRows), stats,
          partN.get(ff.path))
      }
    })
  }

  // ------------------------------------------- per-file bloom sidecars

  /** Bloom sidecar row shape: one row per (data file, declared column)
    * — `coltype` is the column's LOGICAL type at build time, because a
    * later widen changes the probe's hash domain (xxhash64 of an int is
    * not xxhash64 of its upcast long): probes consult only rows whose
    * coltype equals the current type, so a pre-widen file simply keeps
    * conservatively until a maintenance rewrite refreshes its row. */
  private[operators] val bloomEntrySchema = StructType(Seq(
    StructField("path", StringType), StructField("col", StringType),
    StructField("coltype", StringType), StructField("sketch", BinaryType)))

  /** Types a bloom sketch can index: hashed by value identity, so
    * equality-lookup-shaped types only (no floating point — `= 0.1`
    * point lookups are a data-modeling bug the index should not
    * legitimize). */
  private[operators] def bloomEligible(dt: DataType): Boolean = dt match {
    case StringType | BinaryType | ByteType | ShortType | IntegerType |
        LongType | DateType | TimestampType => true
    case _ => false
  }

  /** A declared bloom key resolves through the same name chains as
    * stats: the spec may have been declared under a name the column
    * held at the time. */
  private[operators] def resolveBloomField(schema: StructType,
      key: String): Option[StructField] =
    schema.fields.find(f => f.name == key || prevNamesOf(f).contains(key))

  /** Test hook: number of prunes that actually opened the bloom index
    * (a predicate with no bloom-eligible equality conjunct must leave
    * this untouched — the minmax path never pays the sidecar scan). */
  private[graft] val bloomPrunesConsulted =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Build ONE bloom sidecar covering `files`: (path, col, coltype,
    * sketch) parquet under the manifest dir. With `fileRows` (the
    * files' row counts, given when the table's entries are small) and
    * at most [[BloomDriverRows]] rows, the sketches are built on the
    * driver ([[driverBloomRows]]); otherwise in a single distributed
    * job ([[bloomSketchesDF]]) — scan the files, one
    * [[graft.functions.BloomSketchBytes]] aggregate per declared column
    * grouped by `_metadata.file_path`. Reads resolve historical names
    * per file vintage (coalesce over the recorded prev-name chain,
    * narrow physical types upcast natively), so a declareBloom backfill
    * over an evolved table hashes every file's values at the CURRENT
    * logical type — the same domain later probes use. */
  private[operators] def buildBloomSidecar(spark: SparkSession, table: String,
      version: Int, files: Seq[String], specs: Map[String, BloomColSpec],
      schema: StructType, fileRows: Option[Seq[Long]]): Option[String] = {
    val resolved = specs.toSeq.sortBy(_._1).flatMap { case (k, spec) =>
      resolveBloomField(schema, k)
        .filter(f => bloomEligible(f.dataType)).map(f => (f, spec))
    }.distinctBy(_._1.name)
    if (resolved.isEmpty || files.isEmpty) return None
    val rel =
      s"files/bloom-v$version-${java.util.UUID.randomUUID().toString.take(8)}"
    val out = manifestDir(table).resolve(rel)
    Files.createDirectories(out.getParent)
    val driverRows = fileRows.filter(_.sum <= BloomDriverRows)
      .flatMap(_ => driverBloomRows(spark, files, resolved))
    driverRows match {
      case Some(rows) => writeParquetDriver(spark, out, bloomEntrySchema, rows)
      case None => describedJobs(spark, "CowTable.buildBloomSidecar: sketch " +
          s"scan of ${files.size} files") {
        bloomSketchesDF(spark, files, resolved)
          .write.mode("overwrite").parquet(out.toString)
      }
    }
    Some(rel)
  }

  /** The columnar sketch build: one scan, one [[graft.functions.
    * BloomSketchBytes]] aggregate per column grouped by file. */
  private[operators] def bloomSketchesDF(spark: SparkSession, files: Seq[String],
      resolved: Seq[(StructField, BloomColSpec)]): DataFrame = {
    val readSchema = StructType(resolved.flatMap { case (f, _) =>
      StructField(f.name, f.dataType) +:
        prevNamesOf(f).map(p => StructField(p, f.dataType))
    })
    val df = spark.read.schema(readSchema).parquet(files: _*)
      .select(normalizeSql(col("_metadata.file_path")).as("path") +:
        resolved.map { case (f, _) =>
          coalesce((f.name +: prevNamesOf(f)).map(col): _*).as(f.name)
        }: _*)
    val aggs = resolved.map { case (f, spec) =>
      graft.functions.BloomFunctions
        .bloom_sketch(col(f.name), spec.itemsPerFile, spec.fpp)
        .as("__bl_" + f.name)
    }
    df.groupBy(col("path"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("path"), explode(array(resolved.map { case (f, _) =>
        struct(lit(f.name).as("col"),
          lit(f.dataType.catalogString).as("coltype"),
          col("__bl_" + f.name).as("sketch"))
      }: _*)).as("e"))
      .select(col("path"), col("e.col").as("col"),
        col("e.coltype").as("coltype"), col("e.sketch").as("sketch"))
  }

  /** Total new rows up to which a commit builds its bloom sketches on
    * the driver: one thread there reads and hashes ~1.4M rows/s, while
    * the sketch job pays a fixed ~0.4 s but scales with the cores.
    * Measured on a 4-vCPU VM (`local[4]`, one `bigint` column, 30k-row
    * files, median of 5): 120k rows took 80 ms on the driver against
    * 442 ms for the job, 1M rows 743 ms against 855 ms, 2M rows 1,465 ms
    * against 1,285 ms — the crossover lies between 1M and 2M rows. */
  private[operators] val BloomDriverRows = 1L << 20

  /** The rows [[bloomSketchesDF]] writes, built on the driver with
    * [[graft.functions.BloomState]] — byte-identical sketches, since a
    * sketch depends only on the hashed value set. One file open per
    * file reads just the bloom columns. None (the commit runs the job)
    * where the scan would do what this reader does not: coalesce a
    * renamed column's prior names, upcast a widened type, or decode a
    * physical form other than the one Spark writes for the type (INT96
    * timestamps among them). Zero-row files get no rows, as in the
    * scan's group-by. */
  private[operators] def driverBloomRows(spark: SparkSession, files: Seq[String],
      resolved: Seq[(StructField, BloomColSpec)])
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.parquet.column.ColumnReader
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{BloomKernel, BloomState}
    if (resolved.exists(r => prevNamesOf(r._1).nonEmpty)) return None
    val conf = spark.sparkContext.hadoopConfiguration
    val out = Seq.newBuilder[org.apache.spark.sql.catalyst.InternalRow]
    files.foreach { file =>
      val (path, _) = scanIdentity(conf, file)
      val ok = Tables.withFooter(conf, file) { r =>
        val meta = r.getFooter
        val mt = meta.getFileMetaData.getSchema
        // per column: one value as catalyst sees it, when the file holds
        // the column at the declared type in the form Spark writes it
        val readers = resolved.map { case (f, _) =>
          Option.when(mt.containsField(f.name) && sparkSchemaOf(meta)
              .exists(_.find(_.name == f.name).exists(_.dataType == f.dataType)))(
            mt.getType(mt.getFieldIndex(f.name)))
            .filter(_.isPrimitive).map(_.asPrimitiveType).flatMap { pt =>
              val raw: ColumnReader => Any = pt.getPrimitiveTypeName match {
                case INT32 => _.getInteger
                case INT64 => _.getLong
                case _ => _.getBinary
              }
              catalystValue(f.dataType, pt).map(c => raw.andThen(c))
            }
        }
        if (readers.exists(_.isEmpty)) false
        else {
          val proj = new org.apache.parquet.schema.MessageType(mt.getName,
            resolved.map(r => mt.getType(mt.getFieldIndex(r._1.name))): _*)
          r.setRequestedSchema(proj)
          val states = resolved.map { case (_, spec) =>
            val bits = BloomKernel.optimalNumBits(spec.itemsPerFile, spec.fpp)
            new BloomState(bits, BloomKernel.optimalNumHashes(spec.itemsPerFile, bits))
          }
          var pages = r.readNextRowGroup()
          val nonEmpty = pages != null
          while (pages != null) {
            val store = new org.apache.parquet.column.impl.ColumnReadStoreImpl(pages,
              new org.apache.parquet.example.data.simple.convert
                .GroupRecordConverter(proj).getRootConverter,
              proj, meta.getFileMetaData.getCreatedBy)
            resolved.indices.foreach { i =>
              val dt = resolved(i)._1.dataType
              val desc = proj.getColumnDescription(Array(resolved(i)._1.name))
              val c = store.getColumnReader(desc)
              val read = readers(i).get
              var n = pages.getRowCount
              while (n > 0L) {
                if (c.getCurrentDefinitionLevel == desc.getMaxDefinitionLevel) {
                  val v = read(c)
                  states(i).put(BloomKernel.hash1(v, dt), BloomKernel.hash2(v, dt))
                }
                c.consume()
                n -= 1
              }
            }
            pages = r.readNextRowGroup()
          }
          if (nonEmpty) resolved.indices.foreach { i =>
            val f = resolved(i)._1
            out += org.apache.spark.sql.catalyst.InternalRow(
              UTF8String.fromString(path), UTF8String.fromString(f.name),
              UTF8String.fromString(f.dataType.catalogString),
              BloomKernel.serialize(states(i)))
          }
          true
        }
      }
      if (!ok) return None
    }
    Some(out.result())
  }

  /** Declare per-file bloom point-lookup indexes on `cols` — the
    * skipping shape min/max stats cannot serve: an equality predicate
    * on a high-cardinality column that is NOT the table's sort/cluster
    * key (the id-lookup) intersects every file's [min,max], but a
    * per-file membership sketch prunes every file that provably lacks
    * the key (no false negatives — a kept file set always covers the
    * matching rows; false positives only cost extra reads at the
    * declared fpp). Backfills sketches for the CURRENT snapshot in one
    * distributed job and commits the declaration; every subsequent
    * commit (ingest, merge, compaction) then sidecars ITS new files
    * automatically inside [[commitWithStatsDF]]. */
  def declareBloom(spark: SparkSession, table: String,
      specs: Map[String, BloomColSpec]): Manifest = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    def check(h: Manifest): StructType = {
      val schema = h.schema
      specs.keys.foreach { k =>
        val f = resolveBloomField(schema, k).getOrElse(
          throw new IllegalArgumentException(
            s"declareBloom: column $k does not exist"))
        require(bloomEligible(f.dataType),
          s"declareBloom: ${f.name} is ${f.dataType.catalogString} — " +
            "bloom indexes take string/binary/integral/date/timestamp")
      }
      schema
    }
    check(m)
    def attempt(h: Manifest): Manifest = {
      val schema = check(h)
      // a small head's entries name the files and their row counts, so
      // the backfill can take the driver path
      val small = smallEntries(spark, table, h)
      val data = small.map(_.filter(_.kind == "data"))
      val backfill = buildBloomSidecar(spark, table, h.version + 1,
        data.fold(h.files)(_.map(_.path)), specs, schema,
        data.filter(_.forall(_.numRows.isDefined)).map(_.map(_.numRows.get)))
      // the sidecar is written BEFORE the create-exclusive commit; a
      // lost race rebuilds a fresh backfill on retry, so the abandoned
      // rel would be referenced by no manifest ever — vacuum only
      // sweeps rels of DROPPED manifests and would never reclaim it.
      // Delete it with the failed attempt.
      try commitWithStatsDF(spark, table, h.version + 1,
        entriesDF(spark, table, h), Nil, schema, h.dvs,
        h.partitionCols, knownDvRuns = h.dvRunCounts,
        bloomColsOverride = Some(h.bloomCols ++ specs),
        extraBloomRels = backfill.toSeq,
        carriedSeq = small)
      catch { case e: Throwable =>
        backfill.foreach(r => deleteRecursively(manifestDir(table).resolve(r)))
        throw e
      }
    }
    commitWithRetry(table, m, h => { check(h); () }, attempt)
  }

  def declareBloom(spark: SparkSession, table: String, cols: Seq[String],
      fpp: Double, itemsPerFile: Long): Manifest =
    declareBloom(spark, table,
      cols.map(_ -> BloomColSpec(fpp, itemsPerFile)).toMap)

  /** Consolidate the bloom index back to ONE sidecar: every commit
    * with new data files appends a sidecar, so after V ingests a probe
    * scans V small parquet dirs — this rewrites the LIVE files' rows
    * (dead files' rows simply dropped, duplicates from re-declares
    * deduped) into a fresh rel and re-points the manifest at it alone.
    * One metadata commit; the replaced rels stay on disk for the old
    * manifests that reference them and age out through vacuum's
    * dropped-version cleanup. The maintenance pass [[cow_maintain]]
    * runs this automatically past a sidecar-count threshold. */
  def consolidateBlooms(spark: SparkSession, table: String): Manifest = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    if (m.bloomRels.size <= 1) return m
    val rel =
      s"files/bloom-v${m.version + 1}-" +
        java.util.UUID.randomUUID().toString.take(8)
    val out = manifestDir(table).resolve(rel)
    // liveness folds executor-side against the entries sidecar (v3:
    // the only file list there is) — never a driver seq
    val live = entriesDF(spark, table, m).filter(col("kind") === "data")
      .select(normalizeSql(col("path")).as("__live"))
    spark.read.schema(bloomEntrySchema)
      .parquet(m.bloomRels.map(r =>
        manifestDir(table).resolve(r).toString): _*)
      .join(live, normalizeSql(col("path")) === col("__live"), "left_semi")
      .dropDuplicates("path", "col", "coltype")
      .write.mode("overwrite").parquet(out.toString)
    def validate(h: Manifest): Unit =
      if (h.version != m.version)
        throw new java.util.ConcurrentModificationException(
          s"consolidateBlooms $table: concurrent commit — rerun against " +
            "the new snapshot")
    def attempt(h: Manifest): Manifest =
      commitWithStatsDF(spark, table, h.version + 1,
        entriesDF(spark, table, h), Nil, h.schema,
        h.dvs, h.partitionCols, knownDvRuns = h.dvRunCounts,
        bloomRelsReplace = Some(Seq(rel)),
        carriedSeq = smallEntries(spark, table, h))
    // the consolidated rel was written before the commit; a concurrent
    // commit makes validate refuse (the live-file fold is stale), so
    // the abandoned rel — referenced by no manifest — must be deleted
    // here or it leaks forever (vacuum only sweeps dropped manifests'
    // rels).
    try commitWithRetry(table, m, validate, attempt)
    catch { case e: Throwable =>
      deleteRecursively(out)
      throw e
    }
  }

  private[operators] def versionOfDir(name: String): Option[Int] =
    if (name.startsWith("v")) name.drop(1).takeWhile(_.isDigit) match {
      case "" => None
      case d => Some(d.toInt)
    } else None

  private[operators] def listPartFiles(out: Path): Seq[String] =
    listDir(out).map(_.toAbsolutePath.toString)
      .filter { p =>
        val n = Paths.get(p).getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }.sorted

  /** Leaf part files under a possibly partitioned (subdir-per-value)
    * write. */
  private def listPartFilesRec(out: Path): Seq[String] = {
    val here = listPartFiles(out)
    val sub = listDir(out).filter(Files.isDirectory(_))
      .flatMap(listPartFilesRec)
    (here ++ sub).sorted
  }

  /** [[listPartFilesRec]] with mtimes — a pure function on the object,
    * so [[vacuum]]'s listing job ships no driver state to executors. */
  private[graft] def walkPartFilesWithMtime(dir: String): Seq[(String, Long)] =
    listPartFilesRec(Paths.get(dir)).map(f =>
      (f, Files.getLastModifiedTime(Paths.get(f)).toMillis))

  /** Version dirs carry a unique suffix because data is written BEFORE
    * the version is claimed: two committers racing the same version
    * number must not land in the same directory, or the loser's
    * `mode(overwrite)` write could delete the winner's files in the
    * window before the winner's manifest rename. Manifests reference
    * absolute file paths, so the directory name is free to vary; vacuum
    * walks every version dir regardless of name. */
  private[operators] def versionDir(table: String, kind: String, v: Int): Path =
    Paths.get(table, kind,
      s"v$v-${java.util.UUID.randomUUID().toString.take(8)}")

  /** Write `df` as version `v`'s data files and return their paths
    * (stats are collected inside the commit's sidecar write). */
  private def writeData(df: DataFrame, table: String, v: Int): Seq[String] = {
    val out = versionDir(table, "data", v)
    df.write.mode("overwrite").parquet(out.toString)
    val kept = dropEmptyFiles(df.sparkSession, listPartFiles(out))
    dropDirIfNoFiles(out, kept)
    kept
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Decoded value of one `__p_col=value` path segment; Hive's default
    * partition marker maps back to None. NOTE the marker is lossy for
    * STRING columns — Spark writes both NULL and '' as
    * `__HIVE_DEFAULT_PARTITION__` — so None means "null or ''" there
    * and every exact-evaluation consumer must treat it as UNKNOWN
    * (see [[partUnknown]]); for non-string types only NULL maps to
    * the marker, so None stays exact. */
  private def partSegValue(seg: String): Option[String] = {
    val v = seg.substring(seg.indexOf('=') + 1)
    val dec = java.net.URLDecoder.decode(v.replace("+", "%2B"), "UTF-8")
    if (dec == "__HIVE_DEFAULT_PARTITION__") None else Some(dec)
  }

  /** Write `df` under a Hive-style directory layout on `partCols`
    * WITHOUT dropping the columns from the data files: each partition
    * column is duplicated into a write-only `__p_<c>` twin that drives
    * `partitionBy`, so every emitted file is single-valued on the
    * partition columns AND still self-contained (a direct file scan
    * sees the full schema — the MANIFEST, not the directory layout, is
    * the source of truth, Iceberg-style). Returns the written paths;
    * the commit recovers each one's partition tuple from its dirs. */
  private[operators] def writeDataPartitioned(df: DataFrame, table: String, v: Int,
      partCols: Seq[String]): Seq[String] = {
    val out = versionDir(table, "data", v)
    val dup = partCols.foldLeft(df)((d, c) =>
      d.withColumn(s"__p_$c", col(c)))
    dup.write.partitionBy(partCols.map(c => s"__p_$c"): _*)
      .mode("overwrite").parquet(out.toString)
    val files = dropEmptyFiles(df.sparkSession, listPartFilesRec(out))
    dropDirIfNoFiles(out, files)
    files
  }

  /** Per-file partition-values JSON, recovered from the `__p_<c>=<v>`
    * directory segments of a partitioned write. */
  private def partJsonOf(files: Seq[String],
      partCols: Seq[String]): Map[String, String] =
    files.map { f =>
      val kv = f.split("/").filter(_.startsWith("__p_")).map { s =>
        s.substring(4, s.indexOf('=')) -> partSegValue(s)
      }
      val json = partCols.map { c =>
        val vo = kv.collectFirst { case (k, x) if k == c => x }.flatten
        jsonStr(c) + ":" + vo.map(jsonStr).getOrElse("null")
      }.mkString("{", ",", "}")
      f -> json
    }.toMap

  /** BUCKET-PRESERVING write: new rows route to `__gbucket=<i>` files
    * by the declared bucket expression and recover their attribution
    * from the path — so ingest and maintenance on a bucketed table
    * keep the storage-partitioned-join report alive instead of
    * degrading it. Rows of untouched buckets write no file (empty
    * shuffle partitions drop), so a narrow delta stays narrow. */
  private[operators] def writeDataBucketed(df: DataFrame, table: String, v: Int,
      bucketCol: String, n: Int): Seq[String] = {
    val out = versionDir(table, "data", v)
    df.withColumn(BucketSegment, bucketIdCol(col(bucketCol), n))
      .repartition(n, col(BucketSegment))
      .write.partitionBy(BucketSegment).mode("overwrite")
      .parquet(out.toString)
    val files = dropEmptyFiles(df.sparkSession, listPartFilesRec(out))
    dropDirIfNoFiles(out, files)
    files
  }

  private[operators] def writeDataMaybePartitioned(df: DataFrame, table: String,
      v: Int, partCols: Seq[String],
      bucketSpec: Option[(String, Int)] = None): Seq[String] =
    (partCols, bucketSpec) match {
      case (Seq(), Some((c, n))) if df.columns.contains(c) =>
        writeDataBucketed(df, table, v, c, n)
      case (Seq(), _) => writeData(df, table, v)
      case _ => writeDataPartitioned(df, table, v, partCols)
    }

  /** Initialize the table at version 0 with `df`'s rows. */
  def init(df: DataFrame, table: String): Manifest =
    commitInit(df, table, writeData(df, table, 0), df.schema)

  /** Initialize a PARTITIONED table at version 0: data files are laid
    * out one-partition-per-file-set on `partCols` (Hive-style dirs, but
    * the columns stay IN the files — the manifest records each file's
    * exact partition tuple, Iceberg-style), so a partition predicate
    * prunes files from metadata alone, composed with min/max stats
    * skipping on every other column. Merges into the table preserve the
    * discipline; compactions may merge across partitions, in which case
    * the merged files simply lose exact-partition pruning (part=NULL is
    * always kept), never soundness. */
  def initPartitioned(df: DataFrame, table: String,
      partCols: Seq[String]): Manifest = {
    require(partCols.nonEmpty && partCols.forall(df.columns.contains),
      s"initPartitioned: partition columns $partCols must exist")
    commitInit(df, table, writeDataPartitioned(df, table, 0, partCols),
      df.schema, partCols)
  }

  /** [[initPartitioned]] with an EXPLICIT within-partition file layout
    * (the partitioned twin of [[initFiled]]): `fileCol` (an int column,
    * dropped from the table) sub-splits each partition into
    * deterministic one-bucket files, so per-file stats are exactly the
    * per-(partition, bucket) min/max — what the partition-pruning gate
    * needs to re-derive planned-file counts in the oracle. */
  def initPartitionedFiled(df: DataFrame, table: String,
      partCols: Seq[String], fileCol: String, nFiles: Int): Manifest = {
    require(partCols.nonEmpty && partCols.forall(df.columns.contains),
      s"initPartitionedFiled: partition columns $partCols must exist")
    val spark = df.sparkSession
    val out = versionDir(table, "data", 0)
    val dup = partCols.foldLeft(df)((d, c) =>
      d.withColumn(s"__p_$c", col(c)))
    // one shuffle task per bucket value, so each (partition, bucket)
    // directory receives exactly one file
    dup.repartition(nFiles, col(fileCol))
      .write.partitionBy(partCols.map(c => s"__p_$c") :+ fileCol: _*)
      .mode("overwrite").parquet(out.toString)
    commitInit(df, table, dropEmptyFiles(spark, listPartFilesRec(out)),
      StructType(df.schema.filterNot(_.name == fileCol)), partCols)
  }

  /** Metadata-only partition listing: distinct partition values with
    * file and (written, pre-DV) row counts, straight off the entries
    * sidecar — no data file is opened. A null in a STRING partition
    * column groups "null or ''" together (the Hive default-partition
    * marker is lossy on strings — see [[partUnknown]]). */
  def partitions(spark: SparkSession, table: String): DataFrame = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    require(m.partitionCols.nonEmpty, s"$table is not partitioned")
    val dataSchema = m.schema
    val pvs = m.partitionCols.map(c =>
      partValueCol(dataSchema, c).as(c))
    entriesDF(spark, table, m).filter(col("kind") === "data")
      .select(pvs :+ col("numRows"): _*)
      .groupBy(m.partitionCols.map(col): _*)
      .agg(count(lit(1)).as("n_files"), sum(col("numRows")).as("n_rows"))
  }

  /** Initialize with an EXPLICIT file layout: one physical file per
    * distinct value of `fileCol` (an int column in [1, nFiles]) — rows
    * sharing a value land together, so per-file stats are exactly the
    * per-group min/max. The deterministic layout the stats-pruning gate
    * needs; production tables get the same effect from
    * [[compactTableZorder]]'s range partitioning. */
  def initFiled(df: DataFrame, table: String, fileCol: String,
      nFiles: Int): Manifest = {
    val out = versionDir(table, "data", 0)
    df.repartition(nFiles, col(fileCol))
      .write.partitionBy(fileCol).mode("overwrite").parquet(out.toString)
    commitInit(df, table, dropEmptyFiles(df.sparkSession, listPartFilesRec(out)),
      StructType(df.schema.filterNot(_.name == fileCol)))
  }

  /** [[initFiled]] with a deterministic WITHIN-FILE row order: rows of
    * each one-bucket file ascend by `sortCols` — the clustered layout
    * (time/key-ordered ingest, Z-order maintenance) under which a
    * range-shaped delete occupies CONTIGUOUS row positions per file and
    * the range-encoded deletion vector collapses to one run per file. */
  def initFiledSorted(df: DataFrame, table: String, fileCol: String,
      nFiles: Int, sortCols: Seq[String]): Manifest = {
    val out = versionDir(table, "data", 0)
    df.repartition(nFiles, col(fileCol))
      .sortWithinPartitions((fileCol +: sortCols).map(col): _*)
      .write.partitionBy(fileCol).mode("overwrite").parquet(out.toString)
    commitInit(df, table, dropEmptyFiles(df.sparkSession, listPartFilesRec(out)),
      StructType(df.schema.filterNot(_.name == fileCol)))
  }

  // ------------------------------------------------- bucketed layout

  /** The writer-side bucket id — MUST stay in lockstep with
    * [[graft.functions.GraftBucket.bucketId]] (the catalog-published
    * V2 bucket function the optimizer uses to reason about
    * co-partitioning): `pmod(xxhash64(col), n)` at xxhash64's default
    * seed. A NULL key hashes to the seed itself, exactly like the
    * builtin. The equality is spec-pinned per supported type. */
  private def bucketIdCol(c: Column, n: Int): Column =
    pmod(xxhash64(c), lit(n.toLong)).cast("int")

  private def bucketPartsOf(files: Seq[String]): Map[String, String] =
    files.flatMap { f =>
      f.split("/").find(_.startsWith(BucketSegment + "="))
        .map(seg => f ->
          s"""{"$BucketSegment":${seg.stripPrefix(BucketSegment + "=")}}""")
    }.toMap

  /** Initialize CLUSTERED BY (col) INTO n BUCKETS: rows route to files
    * by `pmod(xxhash64(col), n)`, the spec lands in the manifest, and
    * every file's bucket id rides in its entries part JSON. Two tables
    * bucketed the same way join EXCHANGE-FREE through the DSv2 scan's
    * KeyGroupedPartitioning report (storage-partitioned join) — the
    * repeated fact⋈fact shuffle a 100 TB lakehouse cannot afford to
    * pay per query. Commits that later add non-routed files (a plain
    * merge) leave those files unattributed: the scan silently stops
    * reporting co-partitioning until [[rebucketTable]] restores the
    * layout — a planning downgrade, never a correctness risk. */
  def initBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Manifest = {
    require(nBuckets > 0, s"initBucketed: nBuckets $nBuckets <= 0")
    require(df.columns.contains(bucketCol),
      s"initBucketed: column $bucketCol must exist")
    commitInit(df, table, writeDataBucketed(df, table, 0, bucketCol, nBuckets),
      df.schema, bucketSpec = Some((bucketCol, nBuckets)))
  }

  // --------------------------------------------- branches (WAP)

  /** A branch's own table path: a branch IS a cow table (every
    * committer, reader, and audit works on it unchanged) whose
    * manifest chain lives under the parent, seeded by reference. */
  def branchPath(table: String, name: String): String = {
    require(name.matches("[A-Za-z0-9_.-]{1,64}"),
      s"branch name '$name' — use [A-Za-z0-9_.-], max 64 chars")
    s"$table/branches/$name"
  }

  private def branchBasePath(bp: String): Path =
    manifestDir(bp).resolve("parent-base")

  /** The write-audit-publish staging primitive: fork `name` off the
    * parent's CURRENT snapshot as a self-contained cow table — ONE
    * metadata commit carrying every data file, DV, bloom sidecar
    * (re-pointed absolute: `manifestDir.resolve` passes absolute rels
    * through), partition/bucket spec, and schema BY REFERENCE; no
    * byte of data copies. Writes to the returned path land under the
    * branch (its own `data/v*` dirs), invisible to parent readers
    * until [[publishBranch]]. The parent's base version is recorded
    * for publish-time conflict detection. Do NOT vacuum a branch —
    * its early manifests reference parent files vacuum must not
    * reason about; branches are short-lived staging, dropped or
    * published, and [[vacuum]] on the PARENT refuses while any
    * branch exists (a branch may reference any historical file). */
  def createBranch(spark: SparkSession, table: String,
      name: String): String = {
    val m = latestManifest(table).getOrElse(
      throw new IllegalArgumentException(s"cow table $table does not exist"))
    val bp = branchPath(table, name)
    require(latestManifest(bp).isEmpty, s"branch $name already exists")
    // parent-base lands BEFORE the v0 commit: a crash between the two
    // steps then leaves a base file with no manifest — invisible to
    // [[listBranches]] (manifest-gated), so it neither blocks the
    // parent's vacuum nor breaks a createBranch retry. The inverse
    // order left a listable branch whose publish failed with a raw
    // NoSuchFileException. The write is CREATE-EXCLUSIVE (the same
    // discipline as the manifest version claim): two concurrent
    // createBranch calls both pass the manifest-empty check above, and
    // a plain overwrite would let the loser's base land AFTER the
    // winner's v0 commit, silently re-pointing the recorded parent
    // version publishBranch validates against. A base file that
    // already exists with NO manifest is a crash leftover — delete and
    // re-claim (the re-claim keeps exactly one winner if two retries
    // race here too).
    val basePath = branchBasePath(bp)
    Files.createDirectories(basePath.getParent)
    val baseBytes = m.version.toString.getBytes("UTF-8")
    def claimBase(): Unit =
      Files.write(basePath, baseBytes,
        java.nio.file.StandardOpenOption.CREATE_NEW)
    try claimBase()
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(basePath)
        claimBase()
    }
    commitWithStatsDF(spark, bp, 0, entriesDF(spark, table, m), Nil,
      m.schema, m.dvs, m.partitionCols,
      knownDvRuns = m.dvRunCounts, schemaAuthoritative = true,
      bloomColsOverride = Some(m.bloomCols),
      bloomRelsReplace = Some(m.bloomRels.map(r =>
        manifestDir(table).resolve(r).toString)),
      bucketSpecOverride = Some(m.bucketSpec),
      droppedOverride = Some(m.droppedNames))
    // backstop for the residual window (a racing call's crash-leftover
    // cleanup deleting OUR freshly claimed base before our commit):
    // the v0 commit is the real atomicity point — the committed winner
    // re-asserts its base content afterwards, so publishBranch always
    // validates against the version this branch actually forked from
    val after =
      if (Files.isRegularFile(basePath))
        Some(new String(Files.readAllBytes(basePath), "UTF-8").trim)
      else None
    if (!after.contains(m.version.toString))
      Files.write(basePath, baseBytes)
    bp
  }

  def listBranches(table: String): Seq[String] = {
    val dir = Paths.get(table, "branches")
    if (!Files.isDirectory(dir)) Nil
    else listDir(dir).map(_.getFileName.toString)
      .filter(n => latestManifest(s"$table/branches/$n").isDefined)
      .sorted
  }

  /** Atomically adopt the branch head as the parent's next version —
    * the PUBLISH of write-audit-publish. The create-exclusive version
    * claim is the atomicity point: readers see either the old parent
    * snapshot or the complete branch state, never a mix. Publish is
    * fast-forward-only: if the parent advanced past the branch's
    * recorded base, the branch staged against a stale world and the
    * publish REFUSES (re-branch and re-stage — the WAP loop is
    * cheap, the alternative is silently dropping the interleaved
    * commits' effects). Bloom sidecars written on the branch carry as
    * absolute rels; run [[consolidateBlooms]] (or `cow_maintain`)
    * afterwards to fold them parent-local before dropping the branch. */
  def publishBranch(spark: SparkSession, table: String,
      name: String): Manifest = {
    val bp = branchPath(table, name)
    val bh = latestManifest(bp).getOrElse(
      throw new IllegalArgumentException(s"branch $name does not exist"))
    require(Files.isRegularFile(branchBasePath(bp)),
      s"publishBranch $table/$name: parent-base record is missing — " +
        "the branch fork never completed; drop and re-create the branch")
    val base = new String(Files.readAllBytes(branchBasePath(bp)),
      "UTF-8").trim.toInt
    val m = latestManifest(table).getOrElse(
      throw new IllegalArgumentException(s"cow table $table does not exist"))
    def validate(h: Manifest): Unit =
      if (h.version != base)
        throw new java.util.ConcurrentModificationException(
          s"publishBranch $table/$name: parent advanced to v${h.version} " +
            s"past the branch base v$base — re-branch and re-stage")
    validate(m)
    def attempt(h: Manifest): Manifest =
      commitWithStatsDF(spark, table, h.version + 1,
        entriesDF(spark, bp, bh), Nil, bh.schema,
        bh.dvs, bh.partitionCols, knownDvRuns = bh.dvRunCounts,
        schemaAuthoritative = true,
        droppedOverride = Some(bh.droppedNames),
        bloomColsOverride = Some(bh.bloomCols),
        // branch-resident rels publish absolute; rels that point back
        // into the PARENT's manifest dir (carried from the fork)
        // re-relativize, so they keep the identity every pre-branch
        // manifest already lists them under
        bloomRelsReplace = Some(bh.bloomRels.map { r =>
          val abs = manifestDir(bp).resolve(r).toString
          val parentPrefix = manifestDir(table).toString + "/"
          if (abs.startsWith(parentPrefix)) abs.stripPrefix(parentPrefix)
          else abs
        }),
        bucketSpecOverride = Some(bh.bucketSpec),
        carriedSeq = smallEntries(spark, bp, bh))
    commitWithRetry(table, m, validate, attempt)
  }

  /** Discard a staged branch — the REJECT of write-audit-publish, and
    * the cleanup after a publish. REFERENCE-AWARE: a published branch's
    * data/DV files and bloom sidecars are listed in parent manifests BY
    * PATH, so the sweep keeps exactly what any retained parent
    * manifest references and deletes everything else (the branch's own
    * manifest chain always goes — the branch stops existing; kept data
    * files live on under the dormant dir until compaction rewrites
    * them parent-local and [[vacuum]]'s branch-dir re-sweep reclaims
    * the leftovers). A rejected (never-published) branch is referenced
    * by nothing and vanishes entirely. Idempotent. */
  def dropBranch(spark: SparkSession, table: String, name: String): Unit =
    sweepBranchDir(table, name)

  /** Delete everything under the branch dir that NO retained parent
    * manifest references (files/DVs by path; bloom/entries sidecar
    * rels as whole dirs). Bottom-up, best-effort; empty dirs fold. */
  private[operators] def sweepBranchDir(table: String, name: String): Unit = {
    val root = Paths.get(branchPath(table, name))
    if (!Files.exists(root)) return
    val bpNorm = normalize(root.toString)
    val keep: Set[String] = completeVersions(table)
      .flatMap(v => parseManifest(table, v))
      .flatMap { m =>
        (m.files ++ m.dvs) ++
          (m.bloomRels :+ m.entriesRel).map(r =>
            manifestDir(table).resolve(r).toString)
      }.map(normalize).filter(_.startsWith(bpNorm)).toSet
    def walk(p: Path): Boolean = {
      if (keep(normalize(p.toString))) false // kept file or whole rel dir
      else if (Files.isDirectory(p)) {
        val gone = listDir(p).map(walk).forall(identity)
        if (gone) { try Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () } }
        gone
      } else {
        try Files.deleteIfExists(p)
        catch { case _: java.io.IOException => () }
        true
      }
    }
    walk(root)
    ()
  }

  // ------------------------------------------------- DSv2 commit hooks

  /** [[normalize]] for the DSv2 surface ([[graft.plans.CowDsv2Table]])
    * — path identity there must match the manifest's. */
  private[graft] def normalizePath(p: String): String = normalize(p)

  /** A fresh data directory for version `v` — where a DSv2 batch write
    * stages its part files before [[rowLevelCommit]] publishes them. */
  private[graft] def newDataDir(table: String, v: Int): String =
    versionDir(table, "data", v).toString

  /** A fresh deletion-vector directory for version `v` — where a DSv2
    * merge-on-read (delta) write stages its DV part files before
    * [[rowLevelCommit]] publishes them. */
  private[graft] def newDvDir(table: String, v: Int): String =
    versionDir(table, "dv", v).toString

  /** (bytes, numRows) per NORMALIZED path for the given planned data
    * files — the scan-planning/statistics lookup of the DSv2 table.
    * Driver materialization is O(#planned), never O(#entries): the
    * sidecar is filtered executor-side first. */
  private[graft] def dataFileMeta(spark: SparkSession, table: String,
      m: Manifest, files: Seq[String]): Map[String, (Long, Long)] = {
    if (files.isEmpty) return Map.empty
    val norm = files.map(normalize)
    entriesDF(spark, table, m)
      .filter(col("kind") === "data" &&
        normalizeSql(col("path")).isInCollection(norm))
      .select(normalizeSql(col("path")), col("bytes"), col("numRows"))
      .collect()
      .map(r => r.getString(0) -> (
        (if (r.isNullAt(1)) -1L else r.getLong(1)),
        (if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
  }

  /** The committer of every operation that rewrites rows or files:
    * the merge engine [[mergeRows]] (behind [[mergeInto]], [[upsertMor]]
    * and [[mergeIntoHybrid]]), [[deleteWhere]], the DSv2 batch, delta
    * and streaming-append writes of [[graft.plans.CowDsv2Table]], and
    * the maintenance ops [[rewriteDeletes]], [[compactTable]],
    * [[compactTableZorder]] and [[rebucketTable]]. Each publishes ONE
    * version through it that drops the `removed` data files (group
    * rewrites, compacted tails) and adds `addedData` (written under
    * this table's data dir) and
    * `addedDvs` (fresh deletion-vector parquet). Each attempt carries
    * the HEAD's data entries minus `removed` and the head's DVs minus
    * `retiredDvs`, plus `addedDvs`, and commits the head's schema
    * widened by the source-only columns of `evolveFrom`
    * ([[evolvedSinkSchema]]), so a rebase never reverts what the head
    * committed (a concurrent field-id assignment included). DV entries
    * whose data file was removed stay in place unless retired — they
    * reference paths no longer in the manifest, so readers never match
    * them, and [[rewriteDeletes]]/[[vacuum]] reclaim them.
    *
    * `retiredDvs`: base DV files this commit drops because the op
    * materialized their deletes (rewriteDeletes and rebucketTable
    * retire every base DV; compaction retires them when no kept file
    * is a target) or consolidated them into an added DV
    * (rewriteDeletes' below-threshold sidecar). Their targets are
    * subtracted from the added DVs' conflict set: a consolidated
    * sidecar only moves deletes that were already dead at the base.
    *
    * A stale `base` or a lost version race validates the head through
    * [[standardRebaseValidate]] (with `srcKeys` and `refuseAddedData`
    * as given) and rebases ([[commitWithRetry]]); the files the DVs
    * reference are read only then. A commit that adds no data file
    * writes its sidecar on the driver when the head's is small. */
  private[graft] def rowLevelCommit(spark: SparkSession, op: String,
      table: String, base: Manifest, removed: Seq[String] = Nil,
      addedData: Seq[String] = Nil, addedDvs: Seq[String] = Nil,
      retiredDvs: Seq[String] = Nil,
      evolveFrom: Option[StructType] = None,
      srcKeys: Option[(DataFrame, Seq[String])] = None,
      refuseAddedData: Boolean = false): Manifest = {
    val removedN = removed.map(normalize).toSet
    val retired = retiredDvs.toSet
    // fresh DV files get their run counts from one footer read each,
    // shared by the conflict set and every commit attempt
    val addedRuns = addedDvs.map(p => p -> dvRunCount(spark, p)).toMap
    lazy val dvTargetN: Set[String] =
      if (addedDvs.isEmpty) Set.empty
      else dvTargets(spark, addedDvs, addedRuns) --
        dvTargets(spark, retiredDvs, base.dvRunCounts)
    def validate(h: Manifest): Unit = standardRebaseValidate(spark, op,
      table, base, removedN, dvTargetN, srcKeys, refuseAddedData)(h)
    def attempt(h: Manifest): Manifest = {
      val schema = evolveFrom.fold(h.schema)(s =>
        evolvedSinkSchema(op, h.schema, s, h.droppedNames))
      // dv rows are rebuilt from the carried DV list, so only data
      // rows need to ride
      val carried = entriesDF(spark, table, h).filter(
        if (removedN.isEmpty) lit(true)
        else !normalizeSql(col("path")).isInCollection(removedN.toSeq))
      commitWithStatsDF(spark, table, h.version + 1, carried, addedData,
        schema, h.dvs.filterNot(retired) ++ addedDvs, h.partitionCols,
        knownDvRuns = h.dvRunCounts ++ addedRuns,
        carriedSeq = smallEntries(spark, table, h).map(_.filter(e =>
          e.kind != "dv" && !removedN.contains(normalize(e.path)))))
    }
    val head0 = latestManifest(table).getOrElse(base)
    if (head0.version != base.version) validate(head0)
    commitWithRetry(table, head0, validate, attempt)
  }
}
