package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or => COr}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.Tables

/** Copy-on-write table with manifest-pinned snapshot versions and a
  * MERGE INTO that rewrites ONLY the files containing touched keys —
  * the lakehouse primitive (Delta/Iceberg's core idea, built here from
  * plain parquet + a manifest, no table-format dependency).
  *
  * Layout:
  * {{{
  *   <table>/data/v<N>-<uniq>/part-*.parquet -- files written by version N
  *   <table>/dv/v<N>-<uniq>/part-*.parquet   -- deletion vectors of version N
  *   <table>/manifest/v<N>.manifest          -- commit marker + file list
  *   <table>/manifest/files/v<N>-<uniq>/     -- entries parquet (stats)
  * }}}
  * A version's manifest lists the files that make up that snapshot —
  * typically a mix of files written by older versions (untouched by
  * later merges) and the current version's rewrites. Readers resolve
  * the highest complete manifest; old manifests stay readable (time
  * travel), and replaced data files are never deleted by a merge.
  *
  * The manifest has ONE format (`graft-cow-manifest-v3`): a header,
  * the table schema (JSON), a pointer to a PARQUET entries sidecar and
  * its entry count, the optional partition/bloom/bucket/dropped-column
  * lines, one counted `dv:<runs>:<path>` line per deletion vector, and
  * a trailing `end` marker so an EMPTY snapshot ("delete everything")
  * is a valid, distinguishable-from-half-written commit. Data-file
  * paths are NOT in the text: the entries parquet is the sole data-file
  * list. It carries one row per file — kind, path, bytes, row count,
  * and a per-column min/max/null-count stats JSON — and is what
  * [[readWhere]]'s data skipping, [[tableChanges]]'s file-set algebra,
  * and [[vacuum]]'s liveness anti-join run on AS DATAFRAMES: at 10⁶
  * files the planning state is a columnar scan, not driver text
  * parsing. A complete manifest in any other shape is refused loudly
  * ([[parseManifest]]).
  *
  * Per-file statistics are collected at commit time — the moral
  * equivalent of Delta's writer-side stats collection. On a small
  * table they fold from the just-written files' parquet footers on the
  * driver; otherwise (or when a footer cannot prove a value) one
  * column-pruned aggregate over the just-written (delta-sized, page-
  * cached) files, grouped by `_metadata.file_path`. Carried files
  * keep their stats entries verbatim across merges/compactions, so a
  * long-lived table never re-scans old data to keep skipping working.
  *
  * Commit protocol (optimistic concurrency): the committer atomically
  * CREATES `v<N>.manifest` (create-exclusive — the loser of a race gets
  * FileAlreadyExistsException and must retry on the new version), then
  * writes the content through a temp file + atomic rename. A reader that
  * lands in the tiny window between create and rename sees an empty
  * manifest and falls back to the previous version ([[latestManifest]]
  * skips empty claims).
  *
  * MERGE INTO semantics (update-all flavor): source rows REPLACE
  * matched target rows' non-key columns; a matched source row with
  * `deleteCond` true deletes the target row; unmatched source rows are
  * inserted when `insert = true`. Source keys must be unique — multiple
  * matches for one target row are refused (the SQL MERGE error) — and
  * source column types must match the target's (a silently-coerced
  * merge would commit mixed-schema files).
  *
  * The merge flavors ([[mergeInto]], [[upsertMor]], [[mergeIntoHybrid]])
  * are three rules over one engine ([[mergeRows]]): one discovery, one
  * write, one commit; the rule only decides which matched files
  * rewrite and which keep their bytes behind a deletion vector.
  *
  * 100 TB shape: touched-file discovery is ONE scan of the target with
  * the (broadcast, delta-sized) source key set semi-joined against
  * `_metadata.file_path` — on a table laid out by key (range partition,
  * Z-order, or compaction by key), a delta that touches few key ranges
  * rewrites few files while every other file is carried by reference
  * into the new manifest, never read or rewritten. The merge join runs
  * only over the touched files' rows ∪ source.
  */
object CowTable {

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

  /** Per-column bloom declaration: sketches are sized for
    * `itemsPerFile` distinct values at `fpp` — a file holding fewer
    * items probes BELOW the declared rate (oversizing only tightens
    * it), one holding more degrades gracefully. The per-file sizing is
    * fixed at declaration (Delta's bloom index makes the same call):
    * per-group dynamic sizing would make sketch bytes depend on
    * execution order, and a compaction that grows files past the
    * declared capacity should re-declare rather than silently carry a
    * looser filter. */
  case class BloomColSpec(fpp: Double = 0.01, itemsPerFile: Long = 1L << 20) {
    require(fpp > 0 && fpp < 1, s"bloom fpp $fpp out of (0,1)")
    require(itemsPerFile > 0, s"bloom itemsPerFile $itemsPerFile <= 0")
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

  /** One file of a snapshot. `stats` is a JSON object
    * `{"col":{"min":…,"max":…,"nulls":n},…}` for the stats-eligible
    * columns, absent for deletion vectors and for data entries
    * registered without stats. `bytes` is -1 when unknown (deletion
    * vectors). `part` is a JSON object of partition-column →
    * value for files of a partitioned table that are single-valued on
    * the partition columns (NULL otherwise — a compaction that merged
    * across partitions simply loses exact-partition pruning for the
    * merged file, never soundness). */
  case class FileEntry(kind: String, path: String, bytes: Long,
      numRows: Option[Long], stats: Option[String],
      part: Option[String] = None)

  /** `files` are the data files of the snapshot; `dvs` are its deletion
    * vector files — parquet of range-encoded (file_path, start, len)
    * deleted-row runs ([[dvSchema]]) a reader must filter away.
    * `schemaJson` is the data schema (empty snapshots stay readable),
    * `entriesRel` the entries-parquet pointer (relative to the
    * manifest dir; stats live there), `entryCount` its row count
    * (gates the small-sidecar driver cache without reading the
    * sidecar). `dvRunCounts` maps each DV path to its total run count,
    * RECORDED AT COMMIT TIME in the `dv:<runs>:<path>` line — the
    * broadcast-vs-anti-join decision on the read path is metadata-only,
    * never a per-read footer walk over every sidecar a MOR-heavy table
    * accumulated between maintenance passes. */
  case class Manifest(version: Int, table: String, dvs: Seq[String],
      schemaJson: String, entriesRel: String, entryCount: Long,
      partitionCols: Seq[String] = Nil,
      dvRunCounts: Map[String, Long] = Map.empty,
      bloomCols: Map[String, BloomColSpec] = Map.empty,
      bloomRels: Seq[String] = Nil,
      bucketSpec: Option[(String, Int)] = None,
      droppedNames: Set[String] = Set.empty) {
    @transient lazy val schema: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]

    /** The snapshot's data-file paths (normalized). The manifest
      * carries NO file lines — first touch LOADS the list from the
      * entries sidecar (one Spark collect, counted by
      * [[CowTable.driverManifestFileListLoads]] so the planning-scale
      * spec can pin which paths stay list-free). Planning, commit, and
      * selective-read paths use [[nData]]/[[dataNonEmpty]] and the
      * sidecar DataFrame instead; the loader fires only where a driver
      * file list is GENUINELY needed (full-table scan planning, rare
      * race-rebase validation). Memoized. Lifetime contract: the list
      * is served by this VERSION's sidecar, so a manifest handle held
      * across a vacuum that drops the version can no longer produce it
      * — the same rule as time travel (a vacuumed version is not
      * readable); materialize before vacuuming if the old list is
      * needed. */
    @transient lazy val files: Seq[String] = {
      CowTable.driverManifestFileListLoads.incrementAndGet()
      CowTable.sidecarDataPaths(table, entriesRel)
    }

    /** Data-file count WITHOUT materializing the list: entry count
      * minus the dv rows (one per dv line, by construction). */
    def nData: Long = entryCount - dvs.size

    def dataNonEmpty: Boolean = nData > 0L
  }

  private def manifestDir(table: String): Path = Paths.get(table, "manifest")
  private def manifestPath(table: String, v: Int): Path =
    manifestDir(table).resolve(s"v$v.manifest")

  /** `input_file_name()`/`_metadata.file_path` yield URIs; manifests
    * store filesystem paths. Percent-decodes WITHOUT the form-encoding
    * plus-is-space rule (a literal '+' in a path must survive), so the
    * decoded URI of a file equals its raw path. */
  private def normalize(p: String): String = {
    val noScheme = if (p.startsWith("file:")) p.stripPrefix("file:") else p
    java.net.URLDecoder.decode(noScheme.replace("+", "%2B"), "UTF-8")
      .replaceAll("/+", "/")
  }

  /** SQL twin of [[normalize]] for URI-valued path columns — the
    * codegen'd memoizing [[graft.functions.PathNorm]] (the regex-chain
    * form cost ~40% of a DV-applied read at sf0.1; see that scaladoc). */
  private def normalizeSql(c: Column): Column =
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
  private def parseManifest(table: String, v: Int): Option[Manifest] = {
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
  private def sidecarDataPaths(table: String, rel: String): Seq[String] =
    sidecarScan(SparkSession.active, table, rel)
      .filter(col("kind") === "data").select("path")
      .collect().map(r => normalize(r.getString(0))).toSeq

  private def listDir(dir: Path): Seq[Path] = {
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

  private def completeVersions(table: String): Seq[Int] = {
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

  private[graft] def commitWithRetry(table: String, base: Manifest,
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
  private def dvTargets(spark: SparkSession, dvs: Seq[String],
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

  private[graft] def clearEntriesCache(): Unit = entriesCache.clear()

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
  private def describedJobs[T](spark: SparkSession, what: String)(body: => T): T = {
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
  private def smallEntries(spark: SparkSession, table: String,
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
  private def readParquetDriver[T](spark: SparkSession, files: Seq[String])(
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

  /** One record of [[readParquetDriver]]. A NULL optional field reads
    * as None; a NULL mandatory field is corruption — a defaulted value
    * (an empty path) would look real to downstream planning — so the
    * `need` getters fail loudly instead. */
  private final class DriverRecord(file: String,
      g: org.apache.parquet.example.data.Group) {
    def str(n: String): Option[String] =
      if (g.getFieldRepetitionCount(n) == 0) None else Some(g.getString(n, 0))
    def long(n: String): Option[Long] =
      if (g.getFieldRepetitionCount(n) == 0) None else Some(g.getLong(n, 0))
    def needStr(n: String): String = str(n).getOrElse(missing(n))
    def needLong(n: String): Long = long(n).getOrElse(missing(n))
    private def missing(n: String): Nothing = throw new IllegalStateException(
      s"parquet file $file: row missing required field '$n'")
  }

  /** The one deletion-vector reader: ONE row per DV'd data file of
    * `dvs` — `__dv_fp` (the normalized path), `__dv_starts`/`__dv_lens`
    * (its runs, sorted by start) and `__dv_n` (its deleted rows; runs
    * are disjoint, so summed lengths are exact). The reserved names let
    * the result join onto user-schema rows. One size switch, decided
    * from the run counts manifests record (`runs` must count every
    * path of `dvs`): at most [[SmallSidecarEntries]] runs are read on
    * the driver into a LocalRelation, so a projection of it collects
    * with no Spark job; above it, a columnar per-file aggregate over
    * the DV parquet. */
  private[graft] def dvFiles(spark: SparkSession, dvs: Seq[String],
      runs: Map[String, Long]): DataFrame =
    if (dvsSmall(dvs, runs)) {
      val rows = readParquetDriver(spark, dvs)(r =>
          (normalize(r.needStr("file_path")), r.needLong("start"),
            r.needLong("len")))
        .groupBy(_._1).toSeq.map { case (fp, rs) =>
          val sorted = rs.sortBy(_._2)
          Row(fp, sorted.map(_._2), sorted.map(_._3), sorted.map(_._3).sum)
        }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), dvFilesSchema)
    } else
      dvRuns(spark, dvs).groupBy(col("fp").as("__dv_fp"))
        .agg(sort_array(collect_list(struct(col("start"), col("len"))))
          .as("__rs"), sum(col("len")).as("__dv_n"))
        .select(col("__dv_fp"), col("__rs.start").as("__dv_starts"),
          col("__rs.len").as("__dv_lens"), col("__dv_n"))

  /** [[dvFiles]]' size switch: the driver branch serves `dvs`. */
  private def dvsSmall(dvs: Seq[String], runs: Map[String, Long]): Boolean =
    dvs.map(runs).sum <= SmallSidecarEntries

  /** [[dvFiles]] of a snapshot's deletion vectors. */
  private[graft] def dvFiles(spark: SparkSession, m: Manifest): DataFrame =
    dvFiles(spark, m.dvs, m.dvRunCounts)

  private val dvFilesSchema = StructType.fromDDL("__dv_fp STRING, " +
    "__dv_starts ARRAY<BIGINT>, __dv_lens ARRAY<BIGINT>, __dv_n BIGINT")

  // ------------------------------------------------------- file stats

  /** Columns worth min/max stats: orderable atomics. Capped so a
    * 1000-column table doesn't bloat every manifest (Delta's
    * first-32-columns rule). */
  private val MaxStatsCols = 24
  private def statsEligible(dt: DataType): Boolean = dt match {
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

  private def hasRenames(sch: StructType): Boolean =
    sch.fields.exists(f => prevNamesOf(f).nonEmpty)

  /** Project a change-feed slice onto the STREAM's declared schema —
    * the seam that lets a change feed replay across a schema-evolution
    * boundary. [[tableChanges]] speaks each slice's own TO-version
    * schema; the stream's schema is fixed when the consumer starts, so
    * the two diverge exactly when the replayed range spans an
    * `alterTable`:
    *
    *  - stream NEWER than the slice (the restart / historical-replay
    *    case): the evolved field's prior-name chain maps the old
    *    column forward, widened types up-cast (lossless by
    *    [[alterTable]]'s widen contract), added columns NULL-extend;
    *  - slice NEWER than the stream (evolution landed mid-stream): the
    *    slice field's chain maps back to the name the consumer knows;
    *    a column added after the consumer started is invisible until
    *    it restarts, and a mid-stream WIDEN refuses loudly (the
    *    down-cast would be lossy — restarting absorbs the new type).
    *
    * `failOnNewColumns` opts a STRICT consumer out of the
    * added-column-invisible default: a slice column no target field
    * consumes (the table gained it after the stream started) refuses
    * loudly instead of being silently dropped — the consumer notices
    * schema growth and restarts to absorb it, rather than replicating
    * a table while missing a column it never declared.
    *
    * `_change_type` passes through; metadata columns are excluded from
    * the mapping. */
  private[graft] def alignFeedSlice(df: DataFrame,
      feedSchema: StructType,
      failOnNewColumns: Boolean = false): DataFrame = {
    val meta = Set("_change_type", "_commit_version")
    val target = feedSchema.fields.filterNot(f => meta.contains(f.name))
    val sliceFields = df.schema.fields.filterNot(f => meta.contains(f.name))
    val srcFor = target.map(f => f ->
      sliceFields.find(_.name == f.name)
        .orElse(prevNamesOf(f).reverse.collectFirst(
          Function.unlift(n => sliceFields.find(_.name == n))))
        .orElse(sliceFields.find(g => prevNamesOf(g).contains(f.name))))
    if (failOnNewColumns) {
      val consumed = srcFor.flatMap(_._2).map(_.name).toSet
      val unconsumed = sliceFields.map(_.name).filterNot(consumed)
      require(unconsumed.isEmpty,
        s"cow feed: the table gained column(s) ${unconsumed.mkString(", ")} " +
          "after this stream started and failOnNewColumns is set — " +
          "restart the stream to absorb the evolution (or drop the " +
          "option to keep replicating the declared columns only)")
    }
    val cols = srcFor.map { case (f, src) =>
      src match {
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(g) =>
          require(g.dataType == f.dataType ||
            org.apache.spark.sql.catalyst.expressions.Cast
              .canUpCast(g.dataType, f.dataType),
            s"cow feed: slice column ${g.name}: " +
              s"${g.dataType.catalogString} does not up-cast to the " +
              s"stream's ${f.name}: ${f.dataType.catalogString} — the " +
              "table widened mid-stream; restart the stream to absorb " +
              "the evolution")
          col(g.name).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toSeq :+ col("_change_type"): _*)
  }

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
  private def requireSourceTypes(op: String, schema: StructType,
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
  private def foldRenameCoalesce(e: Expression,
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
  private def statsSchemaFor(dataSchema: StructType): StructType =
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
  private def dropDirIfNoFiles(out: Path, kept: Seq[String]): Unit =
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
  private def dropEmptyFiles(spark: SparkSession, files: Seq[String],
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

  /** What ONE footer read proves about a just-written data file: the
    * path and size its [[statsEntriesDF]] row would carry (`path` is
    * the normalized qualified URI `_metadata.file_path` yields), its row
    * count, the stats columns of its own schema (the scan's selection)
    * and, per stats column, the folded (min, max, nulls) as catalyst
    * values — None when the footer cannot prove a value the scan would
    * compute (see [[footerColumnStats]]). */
  private[operators] final case class FooterFacts(path: String, bytes: Long,
      numRows: Long, statsFields: Seq[StructField],
      stats: Option[Seq[(Any, Any, Long)]])

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
  private def bloomEligible(dt: DataType): Boolean = dt match {
    case StringType | BinaryType | ByteType | ShortType | IntegerType |
        LongType | DateType | TimestampType => true
    case _ => false
  }

  /** A declared bloom key resolves through the same name chains as
    * stats: the spec may have been declared under a name the column
    * held at the time. */
  private def resolveBloomField(schema: StructType,
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
    import spark.implicits._
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

  /** Exact-integral adaptation of a predicate literal to the declared
    * column's type — the only cross-type probes attempted. Hashing is
    * type-tagged (xxhash64 over the INTERNAL value), so a probe must
    * hash the literal exactly as the build hashed the column values; a
    * literal that cannot losslessly take the column's type yields no
    * probe (minmax still handles the impossible-equality case). */
  private def adaptBloomLit(l: Literal, dt: DataType): Option[Literal] = {
    if (l.value == null) return None
    if (l.dataType == dt) return Some(l)
    val asLong: Option[Long] = l.value match {
      case b: Byte => Some(b.toLong)
      case s: Short => Some(s.toLong)
      case i: Int => Some(i.toLong)
      case j: Long => Some(j)
      case _ => None
    }
    asLong.flatMap { v =>
      dt match {
        case ByteType if v.isValidByte => Some(Literal(v.toByte, ByteType))
        case ShortType if v.isValidShort => Some(Literal(v.toShort, ShortType))
        case IntegerType if v.isValidInt => Some(Literal(v.toInt, IntegerType))
        case LongType => Some(Literal(v, LongType))
        case _ => None
      }
    }
  }

  /** Files the bloom index PROVES cannot match `folded` (normalized
    * paths): for each equality/IN conjunct on a declared column, a
    * sidecar row whose sketch contains none of the probe values is
    * proof the file lacks every candidate — conjunct semantics make any
    * one such proof sufficient. One parquet scan over all sidecars
    * evaluates every probe (the `col`/`coltype` filters push down);
    * only proven paths are collected. Files without a row — pre-index
    * vintage, type-mismatched after a widen — are never in the result,
    * i.e. conservatively kept. */
  /** The bloom-sidecar DISPROOF predicate for `folded`'s equality/IN
    * conjuncts on declared columns — a row-level Column over the bloom
    * entry schema that is true when the row's sketch proves no
    * candidate value is present in its file. None when the predicate
    * carries no probeable conjunct. Factored out of
    * [[bloomPrunedPaths]] so [[pruneReportBloomBatch]] can evaluate
    * many probes' evidence in one sidecar pass. */
  private def bloomEvidenceCol(m: Manifest, folded: Expression,
      dataSchema: StructType): Option[Column] = {
    def attr(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // the analyzer wraps coerced literals in Cast(...) — any resolved
    // foldable deterministic expression folds to its literal here
    def litOf(x: Expression): Option[Literal] = x match {
      case l: Literal => Some(l)
      case c if c.resolved && c.foldable && c.deterministic =>
        scala.util.Try(Literal(c.eval(null), c.dataType)).toOption
      case _ => None
    }
    val declaredFields: Map[String, StructField] =
      m.bloomCols.keys.flatMap(k => resolveBloomField(dataSchema, k))
        .map(f => f.name -> f).toMap
    def probeOf(a: Expression, b: Expression): Option[(StructField, Seq[Literal])] =
      (for {
        n <- attr(a); l <- litOf(b); f <- declaredFields.get(n)
        adapted <- adaptBloomLit(l, f.dataType)
      } yield (f, Seq(adapted))).orElse(for {
        n <- attr(b); l <- litOf(a); f <- declaredFields.get(n)
        adapted <- adaptBloomLit(l, f.dataType)
      } yield (f, Seq(adapted)))
    val probes: Seq[(StructField, Seq[Literal])] =
      conjunctsOf(folded).flatMap {
        case PredShape("=" | "==" | "equalto", Seq(a, b)) => probeOf(a, b)
        case PredShape("in", a +: vs) if vs.nonEmpty =>
          for {
            n <- attr(a)
            f <- declaredFields.get(n)
            adapted <- Some(vs.flatMap(v =>
              litOf(v).flatMap(adaptBloomLit(_, f.dataType))))
            // every IN member must probe, or a missed member could
            // match a pruned file
            if adapted.size == vs.size
          } yield (f, adapted)
        case _ => None
      }
    if (probes.isEmpty) return None
    def probeCol(v: Literal): Column =
      ColumnBridge.column(graft.functions.BloomProbe(
        ColumnBridge.expression(col("sketch")), v))
    Some(probes.map { case (f, vals) =>
      col("col").isin(f.name +: prevNamesOf(f): _*) &&
        col("coltype") === lit(f.dataType.catalogString) &&
        !vals.map(probeCol).reduce(_ || _)
    }.reduce(_ || _))
  }

  private def bloomSidecarDF(spark: SparkSession, table: String,
      m: Manifest): DataFrame =
    spark.read.schema(bloomEntrySchema).parquet(
      m.bloomRels.map(r => manifestDir(table).resolve(r).toString): _*)

  private def bloomPrunedPaths(spark: SparkSession, table: String,
      m: Manifest, folded: Expression,
      dataSchema: StructType): Set[String] =
    bloomEvidenceCol(m, folded, dataSchema) match {
      case None => Set.empty
      case Some(evidence) =>
        bloomPrunesConsulted.incrementAndGet()
        bloomSidecarDF(spark, table, m)
          .filter(evidence)
          .select("path").collect().map(r => normalize(r.getString(0))).toSet
    }

  // ------------------------------------------------------ data skipping

  /** Normalize the two surfaces predicates arrive on — the Column
    * DSL's UnresolvedFunction('and, '`>=`, 'in, …) nodes and typed
    * Catalyst nodes (resolved expressions, expr("…") parses) — into
    * one (op, args) shape, shared by the keep/full stats rewriters. */
  private object PredShape {
    def unapply(x: Expression): Option[(String, Seq[Expression])] = x match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        Some((f.nameParts.last.toLowerCase, f.arguments))
      case CAnd(l, r) => Some(("and", Seq(l, r)))
      case COr(l, r) => Some(("or", Seq(l, r)))
      case Not(c) => Some(("!", Seq(c)))
      case EqualTo(a, b) => Some(("=", Seq(a, b)))
      case LessThan(a, b) => Some(("<", Seq(a, b)))
      case LessThanOrEqual(a, b) => Some(("<=", Seq(a, b)))
      case GreaterThan(a, b) => Some((">", Seq(a, b)))
      case GreaterThanOrEqual(a, b) => Some((">=", Seq(a, b)))
      case In(a, vs) => Some(("in", a +: vs))
      case IsNull(a) => Some(("isnull", Seq(a)))
      case IsNotNull(a) => Some(("isnotnull", Seq(a)))
      case _ => None
    }
  }

  /** Rewrite a row predicate into a file-level KEEP predicate over the
    * parsed stats struct `__st` — true when the file MIGHT contain a
    * matching row (the only sound direction). Supported shapes prune;
    * anything else (expressions over columns, UDFs, unsupported ops)
    * conservatively keeps the file. NULL stats discipline: a column
    * with no stats entry keeps; a comparison whose min/max are NULL
    * with a present nulls count means every value is NULL — no
    * comparison can match, so the file prunes. */
  private def keepPredicate(e: Expression, stSchema: StructType): Column = {
    val stCols = stSchema.fieldNames.toSet
    def st(c: String): Column = col("__st").getField(c)
    def leaf(cn: String, p: => Column): Column =
      if (!stCols.contains(cn)) lit(true)
      else when(st(cn).getField("nulls").isNull, lit(true))
        .otherwise(coalesce(p, lit(false)))
    def attr(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // the analyzer wraps coerced literals in Cast (e.g. an int literal
    // against a decimal-widened column) — fold any resolved foldable
    // deterministic expression back to its literal
    def litC(x: Expression): Option[Column] = x match {
      case l: Literal if l.value != null => Some(ColumnBridge.column(l))
      case c if c.resolved && c.foldable && c.deterministic =>
        scala.util.Try(Literal(c.eval(null), c.dataType)).toOption
          .filter(_.value != null).map(ColumnBridge.column)
      case _ => None
    }
    /** Dispatch attr-vs-literal in either order; `flip` receives the
      * mirrored build (literal on the left). */
    def cmp(a: Expression, b: Expression)(build: (String, Column) => Column)(
        flip: (String, Column) => Column): Column =
      (attr(a), litC(b), attr(b), litC(a)) match {
        case (Some(n), Some(v), _, _) => build(n, v)
        case (_, _, Some(n), Some(v)) => flip(n, v)
        case _ => lit(true)
      }
    def eqLeaf(n: String, v: Column): Column =
      leaf(n, st(n).getField("min") <= v && st(n).getField("max") >= v)
    def neLeaf(n: String, v: Column): Column =
      if (!stCols.contains(n)) lit(true)
      else when(st(n).getField("nulls").isNull, lit(true))
        .otherwise(coalesce(
          !(st(n).getField("min") === v && st(n).getField("max") === v),
          lit(false)))
    def go(x: Expression): Column = x match {
      case PredShape("and", Seq(l, r)) => go(l) && go(r)
      case PredShape("or", Seq(l, r)) => go(l) || go(r)
      case PredShape("=" | "==" | "equalto", Seq(a, b)) => cmp(a, b)(eqLeaf)(eqLeaf)
      case PredShape("<", Seq(a, b)) => cmp(a, b)(
        (n, v) => leaf(n, st(n).getField("min") < v))(
        (n, v) => leaf(n, st(n).getField("max") > v))
      case PredShape("<=", Seq(a, b)) => cmp(a, b)(
        (n, v) => leaf(n, st(n).getField("min") <= v))(
        (n, v) => leaf(n, st(n).getField("max") >= v))
      case PredShape(">", Seq(a, b)) => cmp(a, b)(
        (n, v) => leaf(n, st(n).getField("max") > v))(
        (n, v) => leaf(n, st(n).getField("min") < v))
      case PredShape(">=", Seq(a, b)) => cmp(a, b)(
        (n, v) => leaf(n, st(n).getField("max") >= v))(
        (n, v) => leaf(n, st(n).getField("min") <= v))
      case PredShape("in", a +: vs) if vs.nonEmpty =>
        attr(a) match {
          case Some(n) =>
            val ls = vs.flatMap(v => litC(v))
            // every member must fold, or an unreadable member could
            // match a file the folded ones would prune
            if (ls.size != vs.size) lit(true)
            else ls.map(v => eqLeaf(n, v))
              .reduceOption(_ || _).getOrElse(lit(true))
          case None => lit(true)
        }
      case PredShape("isnull", Seq(a)) => attr(a) match {
        case Some(n) if stCols.contains(n) =>
          when(st(n).getField("nulls").isNull, lit(true))
            .otherwise(st(n).getField("nulls") > 0)
        case _ => lit(true)
      }
      case PredShape("isnotnull", Seq(a)) => attr(a) match {
        case Some(n) if stCols.contains(n) =>
          when(st(n).getField("nulls").isNull || col("numRows").isNull,
            lit(true))
            .otherwise(col("numRows") > st(n).getField("nulls"))
        case _ => lit(true)
      }
      case PredShape("!" | "not", Seq(PredShape("=" | "==" | "equalto", Seq(a, b)))) =>
        cmp(a, b)(neLeaf)(neLeaf)
      case _ => lit(true)
    }
    go(e)
  }

  // ------------------------------------------------ partition pruning

  /** Conjuncts of a predicate — the unit of keep/full composition. */
  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case PredShape("and", Seq(l, r)) => conjunctsOf(l) ++ conjunctsOf(r)
    case x => Seq(x)
  }

  private def attrNamesOf(e: Expression): Seq[String] = e.collect {
    case a: UnresolvedAttribute => a.name
    case a: AttributeReference => a.name
  }

  /** Typed partition value of `c`, parsed from the entry's part JSON. */
  private def partValueCol(dataSchema: StructType, c: String): Column = {
    val t = dataSchema.find(_.name == c).map(_.dataType).getOrElse(StringType)
    get_json_object(col("part"), s"$$.$c").cast(t)
  }

  /** True when the conjunct references ONLY partition columns: files of
    * a partitioned table are single-valued on those, so the ROW
    * predicate IS the file predicate — evaluated VERBATIM (any
    * deterministic expression, not just the stats-supported shapes) and
    * exact in BOTH directions. Non-deterministic conjuncts are excluded:
    * they must be evaluated per ROW, never once per file (a
    * `region = CAST(rand()*4 AS INT)` would otherwise prune whole files
    * off one sample). */
  private def isPartConjunct(e: Expression, partCols: Seq[String]): Boolean = {
    val attrs = attrNamesOf(e)
    attrs.nonEmpty && attrs.forall(partCols.contains) &&
      !e.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.SubqueryExpression]) &&
      !e.exists(!_.deterministic)
  }

  /** True when any STRING partition column referenced by the conjunct
    * has an UNKNOWN manifest value for this file. Spark's `partitionBy`
    * (and the DSv2 writer's path encoding) collapse both NULL and the
    * empty string to `__HIVE_DEFAULT_PARTITION__`, so a JSON-null part
    * value on a string column means "null or ''" — NOT an exact null;
    * a dir can even mix the two. Exact partition evaluation would
    * mis-prune (`region = ''` evaluates NULL), so such conjuncts fall
    * back to the stats path (sound in both directions: stats min/max
    * cover '' and the nulls counter covers NULL). Non-string types
    * have no such collision — only NULL maps to the marker — so their
    * JSON-null stays exact. */
  private def partUnknown(c: Expression, dataSchema: StructType,
      partCols: Seq[String]): Column = {
    val strCols = attrNamesOf(c).distinct.filter(partCols.contains)
      .filter(n => dataSchema.find(_.name == n).exists(
        _.dataType == StringType))
    strCols.map(n => get_json_object(col("part"), s"$$.$n").isNull)
      .reduceOption(_ || _).getOrElse(lit(false))
  }

  private def partExact(e: Expression, dataSchema: StructType,
      partCols: Seq[String]): Column = {
    val pc = partCols.toSet
    // the name guard stops the rewrite from descending into its own
    // replacement (which references the `part` column itself)
    ColumnBridge.column(e.transform {
      case a: UnresolvedAttribute if pc.contains(a.name) =>
        ColumnBridge.expression(partValueCol(dataSchema, a.name))
      case a: AttributeReference if pc.contains(a.name) =>
        ColumnBridge.expression(partValueCol(dataSchema, a.name))
    })
  }

  /** File-level KEEP: per conjunct, exact partition evaluation when the
    * conjunct lives entirely on partition columns (falling back to
    * stats for files without partition values — a cross-partition
    * compaction keeps them conservatively), stats rewrite otherwise. */
  private def fileKeepPredicate(e: Expression, stSchema: StructType,
      partCols: Seq[String], dataSchema: StructType): Column =
    conjunctsOf(e).map { c =>
      def statsKeep =
        if (stSchema.isEmpty) lit(true) else keepPredicate(c, stSchema)
      if (partCols.nonEmpty && isPartConjunct(c, partCols))
        when(col("part").isNull ||
            partUnknown(c, dataSchema, partCols), statsKeep)
          .otherwise(coalesce(partExact(c, dataSchema, partCols), lit(false)))
      else statsKeep
    }.reduce(_ && _)

  /** File-level "every live row matches" — [[fileKeepPredicate]]'s
    * other direction; partition conjuncts are exact here too (a NULL
    * exact evaluation means no row matches — FULL is false). */
  private def fileFullPredicate(e: Expression, stSchema: StructType,
      partCols: Seq[String], dataSchema: StructType): Column =
    conjunctsOf(e).map { c =>
      def statsFull =
        if (stSchema.isEmpty) lit(false) else fullPredicate(c, stSchema)
      if (partCols.nonEmpty && isPartConjunct(c, partCols))
        when(col("part").isNull ||
            partUnknown(c, dataSchema, partCols), statsFull)
          .otherwise(coalesce(partExact(c, dataSchema, partCols), lit(false)))
      else statsFull
    }.reduce(_ && _)

  /** The data files of `m` that might contain a row matching `cond`,
    * decided from the manifest's per-file stats AND (for partitioned
    * tables) exact partition values — the entries parquet scanned as a
    * DataFrame, never the data files themselves. Files without stats
    * always survive; the result preserves sidecar order. */
  def pruneDataFiles(spark: SparkSession, table: String, m: Manifest,
      cond: Column): Seq[String] =
    pruneDataFilesExpr(spark, table, m, ColumnBridge.expression(cond))

  /** Resolve `e` against `schema` so the determinism and shape checks
    * see the real expression tree: a Column-API `rand()` arrives as an
    * `UnresolvedFunction` whose `deterministic` is vacuously true, and
    * only resolution exposes the `Nondeterministic` node underneath.
    * Falls back to the raw tree when resolution fails (e.g. a column
    * outside the table schema) — every downstream consumer is already
    * conservative on shapes it cannot read. */
  private def resolvedCond(spark: SparkSession, schema: StructType,
      e: Expression): Expression =
    if (e.resolved) e
    else scala.util.Try {
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      empty.select(ColumnBridge.column(e).as("__c")).queryExecution
        .analyzed.expressions.head
        .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child
    }.getOrElse(e)

  /** [[pruneDataFiles]] on a raw (possibly resolved) Catalyst
    * expression — the entry point the [[graft.plans.CowSkipRule]]
    * optimizer rule uses on pushed-down predicates. */
  def pruneDataFilesExpr(spark: SparkSession, table: String, m: Manifest,
      condExpr: Expression, useBloom: Boolean = true): Seq[String] = {
    if (!m.dataNonEmpty) return Nil
    val dataSchema = m.schema
    val stSchema = statsSchemaFor(dataSchema)
    val bloomLive = useBloom && m.bloomCols.nonEmpty && m.bloomRels.nonEmpty
    if (stSchema.isEmpty && m.partitionCols.isEmpty && !bloomLive)
      return m.files // nothing can prune: the full scan needs the list
    val folded = resolvedCond(spark, dataSchema,
      foldRenameCoalesce(condExpr, dataSchema))
    val statsKept: Seq[String] =
      if (stSchema.isEmpty && m.partitionCols.isEmpty) m.files
      else {
        val keep =
          fileKeepPredicate(folded, stSchema, m.partitionCols, dataSchema)
        // the sidecar IS the file list — the collected survivors are
        // directly openable; O(survivors), never O(#files)
        val keptSeq = withStatsStruct(
            entriesDF(spark, table, m).filter(col("kind") === "data"),
            stSchema)
          .filter(keep)
          .select("path").collect().map(r => normalize(r.getString(0))).toSeq
        driverReadPathsListed.addAndGet(keptSeq.size.toLong)
        keptSeq
      }
    // bloom pass: equality/IN conjuncts on declared columns subtract
    // the files whose sketches prove no candidate value is present —
    // the lookup shape where every file's [min,max] spans the key
    if (!bloomLive || statsKept.isEmpty) statsKept
    else {
      val proven = bloomPrunedPaths(spark, table, m, folded, dataSchema)
      driverReadPathsListed.addAndGet(proven.size.toLong)
      if (proven.isEmpty) statsKept
      else statsKept.filterNot(proven.contains) // both sides normalized
    }
  }

  /** Parse the stats JSON into `__st` (NULL literal when the table has
    * no stats-eligible columns — partition-only pruning still runs).
    * After a RENAME, entries committed before the evolution keep their
    * stats under the historical name: the parse target includes every
    * prior name (typed at the CURRENT — possibly widened — type; JSON
    * numbers upcast on parse) and each column's struct folds to
    * coalesce(current, newest-prev, …), so data skipping stays exact
    * on old files with zero sidecar rewrites. */
  private def withStatsStruct(df: DataFrame, stSchema: StructType): DataFrame =
    if (stSchema.isEmpty) df.withColumn("__st", lit(null))
    else if (!hasRenames(stSchema))
      df.withColumn("__st", from_json(col("stats"), stSchema))
    else {
      val parseSchema = StructType(stSchema.fields.flatMap { f =>
        StructField(f.name, f.dataType) +:
          prevNamesOf(f).map(p => StructField(p, f.dataType))
      }.toSeq)
      val parsed = from_json(col("stats"), parseSchema)
      val st = struct(stSchema.fields.map { f =>
        val ps = prevNamesOf(f)
        (if (ps.isEmpty) parsed.getField(f.name)
         else coalesce((f.name +: ps.reverse).map(parsed.getField): _*))
          .as(f.name)
      }.toSeq: _*)
      df.withColumn("__st", st)
    }

  /** Rewrite a row predicate into a file-level "EVERY live row matches"
    * predicate over the stats struct — the other direction of
    * [[keepPredicate]], so it must default to FALSE on anything it
    * cannot prove. NULL discipline inverts too: a comparison is only
    * total when the file has NO nulls in that column (null rows never
    * match a comparison). */
  private def fullPredicate(e: Expression, stSchema: StructType): Column = {
    val stCols = stSchema.fieldNames.toSet
    def st(c: String): Column = col("__st").getField(c)
    def leaf(cn: String, p: => Column): Column =
      if (!stCols.contains(cn)) lit(false)
      else coalesce(p && st(cn).getField("nulls") === 0L, lit(false))
    def attr(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // the analyzer wraps coerced literals in Cast (e.g. an int literal
    // against a decimal-widened column) — fold any resolved foldable
    // deterministic expression back to its literal
    def litC(x: Expression): Option[Column] = x match {
      case l: Literal if l.value != null => Some(ColumnBridge.column(l))
      case c if c.resolved && c.foldable && c.deterministic =>
        scala.util.Try(Literal(c.eval(null), c.dataType)).toOption
          .filter(_.value != null).map(ColumnBridge.column)
      case _ => None
    }
    def cmp(a: Expression, b: Expression)(build: (String, Column) => Column)(
        flip: (String, Column) => Column): Column =
      (attr(a), litC(b), attr(b), litC(a)) match {
        case (Some(n), Some(v), _, _) => build(n, v)
        case (_, _, Some(n), Some(v)) => flip(n, v)
        case _ => lit(false)
      }
    def go(x: Expression): Column = x match {
      case PredShape("and", Seq(l, r)) => go(l) && go(r)
      case PredShape("or", Seq(l, r)) => go(l) || go(r)
      case PredShape("=" | "==" | "equalto", Seq(a, b)) => cmp(a, b)(
        (n, v) => leaf(n,
          st(n).getField("min") === v && st(n).getField("max") === v))(
        (n, v) => leaf(n,
          st(n).getField("min") === v && st(n).getField("max") === v))
      case PredShape("<", Seq(a, b)) => cmp(a, b)(
        (n, v) => leaf(n, st(n).getField("max") < v))(
        (n, v) => leaf(n, st(n).getField("min") > v))
      case PredShape("<=", Seq(a, b)) => cmp(a, b)(
        (n, v) => leaf(n, st(n).getField("max") <= v))(
        (n, v) => leaf(n, st(n).getField("min") >= v))
      case PredShape(">", Seq(a, b)) => cmp(a, b)(
        (n, v) => leaf(n, st(n).getField("min") > v))(
        (n, v) => leaf(n, st(n).getField("max") < v))
      case PredShape(">=", Seq(a, b)) => cmp(a, b)(
        (n, v) => leaf(n, st(n).getField("min") >= v))(
        (n, v) => leaf(n, st(n).getField("max") <= v))
      case PredShape("in", a +: vs) if vs.nonEmpty =>
        // total only when the file is single-valued on a member; a
        // member that fails to fold just contributes no proof
        attr(a) match {
          case Some(n) =>
            vs.flatMap(v => litC(v)).map(v => leaf(n,
              st(n).getField("min") === v && st(n).getField("max") === v))
              .reduceOption(_ || _).getOrElse(lit(false))
          case None => lit(false)
        }
      case PredShape("isnull", Seq(a)) => attr(a) match {
        case Some(n) if stCols.contains(n) =>
          coalesce(st(n).getField("nulls") === col("numRows"), lit(false))
        case _ => lit(false)
      }
      case PredShape("isnotnull", Seq(a)) => attr(a) match {
        case Some(n) if stCols.contains(n) =>
          coalesce(st(n).getField("nulls") === 0L, lit(false))
        case _ => lit(false)
      }
      case PredShape("!" | "not", Seq(PredShape("=" | "==" | "equalto", Seq(a, b)))) =>
        cmp(a, b)(
          (n, v) => leaf(n,
            st(n).getField("max") < v || st(n).getField("min") > v))(
          (n, v) => leaf(n,
            st(n).getField("max") < v || st(n).getField("min") > v))
      case _ => lit(false)
    }
    go(e)
  }

  /** File classes + counts behind [[countWhere]], exposed so specs and
    * the gate can pin how much was METADATA-answered. `scannedRows` is
    * rows read from partial files (post-filter matches). */
  case class CountBreakdown(total: Long, fullFiles: Int, partialFiles: Int,
      prunedFiles: Int, metadataRows: Long, scannedRows: Long)

  /** COUNT(*) WHERE cond without scanning the covered interior: files
    * whose stats PROVE every live row matches contribute their manifest
    * row count (minus their deletion-vector entries) as pure metadata;
    * only boundary files — where the predicate is partially satisfied —
    * are scanned. On a clustered 100 TB table an interval count reads
    * two edge files; the classic lakehouse metadata-only query,
    * generalized to any supported predicate shape. */
  def countWhereDetailed(spark: SparkSession, table: String,
      cond: Column): CountBreakdown = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    if (!m.dataNonEmpty) return CountBreakdown(0L, 0, 0, 0, 0L, 0L)
    val dataSchema = m.schema
    val classifiable =
      statsSchemaFor(dataSchema).nonEmpty || m.partitionCols.nonEmpty
    val (fullFiles, metaRows, pruned, partialPaths) =
      if (!classifiable) (0, 0L, 0, m.files)
      else {
        val stSchema = statsSchemaFor(dataSchema)
        val ce = resolvedCond(spark, dataSchema,
          ColumnBridge.expression(cond))
        val keep = fileKeepPredicate(ce, stSchema, m.partitionCols,
          dataSchema)
        val full = fileFullPredicate(ce, stSchema, m.partitionCols,
          dataSchema)
        val classes = Seq(col("numRows"), keep.as("__keep"),
          (col("numRows").isNotNull && coalesce(full, lit(false))).as("__full"))
        smallFileClasses(spark, table, m, stSchema, classes) match {
          case Some(rows) =>
            // (normalized path, numRows, __keep, __full) + deleted rows
            val full = rows.filter(_._1.getBoolean(3))
            (full.size, full.map { case (r, dv) => r.getLong(1) - dv }.sum,
              rows.count(r => isFalse(r._1, 2)),
              rows.collect { case (r, _) if isTrue(r, 2) && !r.getBoolean(3) =>
                r.getString(0) })
          case None =>
            // one aggregate row (counts + the DV-adjusted metadata total +
            // the boundary files' paths, bounded — they get scanned
            // anyway), never one row per file
            val agg = withDeletedRows(spark, withStatsStruct(
                entriesDF(spark, table, m).filter(col("kind") === "data"),
                stSchema).select(col("path") +: classes: _*), m).agg(
              sum(when(col("__full"), lit(1)).otherwise(lit(0))).as("nfull"),
              sum(when(col("__full"), col("numRows") - col("__dv"))
                .otherwise(lit(0L))).as("meta"),
              sum(when(!col("__keep"), lit(1)).otherwise(lit(0))).as("npruned"),
              collect_list(when(col("__keep") && !col("__full"), col("path")))
                .as("partials"))
              .head()
            // the normalized sidecar path IS openable
            (agg.getLong(0).toInt, agg.getLong(1), agg.getLong(2).toInt,
              agg.getSeq[String](3).map(normalize).toSeq)
        }
    }
    val scanned =
      if (partialPaths.isEmpty) 0L
      else describedJobs(spark, "CowTable.countWhere: boundary scan of " +
        s"${partialPaths.size} files") {
        readSnapshot(spark, m, Some(partialPaths)).filter(cond).count()
      }
    CountBreakdown(metaRows + scanned, fullFiles, partialPaths.size, pruned,
      metaRows, scanned)
  }

  def countWhere(spark: SparkSession, table: String, cond: Column): Long =
    countWhereDetailed(spark, table, cond).total

  /** Exact live row count of a snapshot from METADATA alone: the sum
    * of the data entries' recorded row counts minus their deletion-
    * vector run lengths — the unfiltered special case of
    * [[countWhereDetailed]], shaped for the DSv2 aggregate-pushdown
    * seam ([[graft.plans.CowDsv2]]): a Scala sum over a small table's
    * entries ([[smallFileClasses]], no job), else one columnar
    * aggregate over the entries sidecar (+ the delta-sized DV runs), a
    * 1-row `head()`; no data file is opened either way. `None`
    * when the count cannot be PROVEN from metadata — any data entry
    * without a recorded row count — so a caller falls back to scanning
    * rather than ever serving a guess. */
  private[graft] def metadataRowCount(spark: SparkSession, table: String,
      m: Manifest): Option[Long] = {
    if (!m.dataNonEmpty) return Some(0L)
    smallFileClasses(spark, table, m, StructType(Nil), Seq(col("numRows"))) match {
      case Some(rows) =>
        if (rows.exists { case (r, _) => r.isNullAt(1) || r.getLong(1) < 0L }) None
        else Some(rows.map { case (r, dv) => r.getLong(1) - dv }.sum)
      case None =>
        val data = entriesDF(spark, table, m).filter(col("kind") === "data")
        val r = withDeletedRows(spark, data, m).agg(
          sum(when(col("numRows").isNull || col("numRows") < 0L, 1L)
            .otherwise(0L)).as("unproven"),
          sum(col("numRows") - col("__dv")).as("live")).head()
        if (r.isNullAt(0) || r.getLong(0) > 0L) None
        else Some(if (r.isNullAt(1)) 0L else r.getLong(1))
    }
  }

  /** The read side of the small-table switch, shared by
    * [[countWhereDetailed]], [[minMaxDetailed]] and [[metadataRowCount]]:
    * the data entries of `m` as driver rows — the normalized path, then
    * `cols` over the parsed stats struct `__st` — each with its deleted
    * rows from [[dvFiles]], when both the entries and the DV runs are at
    * or under [[SmallSidecarEntries]]. Both sides are LocalRelations
    * then, and a projection of one collects with no Spark job; the
    * callers fold sums and extrema in Scala. None above the gate: the
    * callers aggregate columnarly over [[withDeletedRows]], so the
    * 10⁶-file rung never collects a row per file. */
  private def smallFileClasses(spark: SparkSession, table: String,
      m: Manifest, stSchema: StructType,
      cols: Seq[Column]): Option[Seq[(Row, Long)]] =
    if (m.entryCount > SmallSidecarEntries || !dvsSmall(m.dvs, m.dvRunCounts))
      None
    else {
      val dv =
        if (m.dvs.isEmpty) Map.empty[String, Long]
        else dvFiles(spark, m).select("__dv_fp", "__dv_n").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      Some(withStatsStruct(
          entriesDF(spark, table, m).filter(col("kind") === "data"), stSchema)
        .select(normalizeSql(col("path")) +: cols: _*).collect().toSeq
        .map(r => (r, dv.getOrElse(r.getString(0), 0L))))
    }

  /** `entries` (data entries with their sidecar `path`) plus `__dv`,
    * each file's deleted-row count from [[dvFiles]] (0 without one).
    * DV paths may reference REPLACED files (carried inert) — the left
    * join keys deletions to LIVE data entries only. */
  private def withDeletedRows(spark: SparkSession, entries: DataFrame,
      m: Manifest): DataFrame =
    if (m.dvs.isEmpty) entries.withColumn("__dv", lit(0L))
    else entries.join(dvFiles(spark, m).select("__dv_fp", "__dv_n"),
        normalizeSql(col("path")) === col("__dv_fp"), "left")
      .withColumn("__dv", coalesce(col("__dv_n"), lit(0L)))

  /** SQL's three-valued truth of a collected boolean column. */
  private def isTrue(r: Row, i: Int): Boolean = !r.isNullAt(i) && r.getBoolean(i)
  private def isFalse(r: Row, i: Int): Boolean = !r.isNullAt(i) && !r.getBoolean(i)

  /** Columns with per-file min/max stats in this manifest's schema —
    * the set the DSv2 aggregate pushdown may answer MIN/MAX for
    * (stats-eligible types, first-[[MaxStatsCols]] rule). */
  private[graft] def statsCoveredColumns(m: Manifest): Set[String] =
    statsSchemaFor(m.schema).fieldNames.toSet

  /** File classes behind [[minWhere]]/[[maxWhere]]. `metaFiles`
    * answered from stats alone; `scannedFiles` were read;
    * `boundSkippedFiles` were kept by the predicate but provably cannot
    * move the extremum past the metadata candidate, so they were never
    * read either. */
  case class MinMaxBreakdown(value: Option[Any], metaFiles: Int,
      scannedFiles: Int, boundSkippedFiles: Int, prunedFiles: Int)

  def minWhereDetailed(spark: SparkSession, table: String,
      valueCol: String, cond: Column): MinMaxBreakdown =
    minMaxDetailed(spark, table, valueCol, cond, isMin = true)

  def maxWhereDetailed(spark: SparkSession, table: String,
      valueCol: String, cond: Column): MinMaxBreakdown =
    minMaxDetailed(spark, table, valueCol, cond, isMin = false)

  def minWhere(spark: SparkSession, table: String, valueCol: String,
      cond: Column): Option[Any] =
    minWhereDetailed(spark, table, valueCol, cond).value

  def maxWhere(spark: SparkSession, table: String, valueCol: String,
      cond: Column): Option[Any] =
    maxWhereDetailed(spark, table, valueCol, cond).value

  /** MIN/MAX(valueCol) WHERE cond without scanning the covered
    * interior — [[countWhereDetailed]]'s two-direction machinery
    * extended to extrema, with the soundness rule that a file's stats
    * min/max stands in for its rows ONLY when the stats prove every
    * live row matches (fullPredicate) AND the file carries no deletion
    * vector entry (a deleted row may be the extremal one). Files that
    * pass both contribute their stat as pure metadata; remaining kept
    * files are scanned — UNLESS their stat bound proves they cannot
    * move the extremum past the metadata candidate (for MIN: a file
    * whose min ≥ candidate holds only rows ≥ candidate; deletions only
    * remove rows, so the bound survives DVs). On a clustered table an
    * interval MIN reads ONE boundary file: the interior answers from
    * metadata and the far boundary bound-skips. A small table
    * classifies its files on the driver ([[smallFileClasses]], no
    * job); a large one on the parquet-backed entries sidecar, where only
    * boundary paths and single-row aggregates are collected. */
  private def minMaxDetailed(spark: SparkSession, table: String,
      valueCol: String, cond: Column, isMin: Boolean): MinMaxBreakdown = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    if (!m.dataNonEmpty) return MinMaxBreakdown(None, 0, 0, 0, 0)
    def agg1(c: Column): Column = if (isMin) min(c) else max(c)
    def scanValue(files: Seq[String]): Option[Any] =
      if (files.isEmpty) None
      else describedJobs(spark, s"CowTable.${if (isMin) "min" else "max"}" +
          s"Where: boundary scan of ${files.size} files") {
        val r = readSnapshot(spark, m, Some(files)).filter(cond)
          .agg(agg1(col(valueCol))).head()
        if (r.isNullAt(0)) None else Some(r.get(0))
      }
    val dataSchema = m.schema
    val stSchema = statsSchemaFor(dataSchema)
    if (!stSchema.fieldNames.contains(valueCol)) {
      // no stats for valueCol: scan every predicate-kept file
      val files = pruneDataFiles(spark, table, m, cond)
      return MinMaxBreakdown(scanValue(files), 0, files.size, 0,
        m.nData.toInt - files.size)
    }
    val ce = resolvedCond(spark, dataSchema, ColumnBridge.expression(cond))
    val keep = fileKeepPredicate(ce, stSchema, m.partitionCols, dataSchema)
    val full = fileFullPredicate(ce, stSchema, m.partitionCols, dataSchema)
    val classes = Seq(keep.as("__keep"),
      (col("numRows").isNotNull && coalesce(full, lit(false))).as("__full"),
      col("__st").getField(valueCol).getField(if (isMin) "min" else "max")
        .as("__stat"))
    // candidates compare in the statistic's own ordering, as min/max do
    val statType = stSchema(valueCol).dataType.asInstanceOf[StructType]("min")
      .dataType
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(statType)
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(statType)
    def cmp(x: Any, y: Any): Int = ord.compare(toCatalyst(x), toCatalyst(y))
    def better(x: Any, y: Any): Any =
      if ((isMin && cmp(x, y) <= 0) || (!isMin && cmp(x, y) >= 0)) x else y
    // the metadata candidate, the metadata and pruned file counts, and
    // the kept non-metadata files (boundary + DV'd: scan candidates by
    // definition) with their stat bound (normalized, hence openable)
    val (cand, nmeta, npruned, rest): (Option[Any], Int, Int,
        Seq[(String, Option[Any])]) =
      smallFileClasses(spark, table, m, stSchema, classes) match {
        case Some(rows) =>
          // (normalized path, __keep, __full, __stat) + deleted rows
          def meta(r: Row, dv: Long): Boolean =
            isTrue(r, 1) && r.getBoolean(2) && dv == 0L && !r.isNullAt(3)
          val metas = rows.collect { case (r, dv) if meta(r, dv) => r.get(3) }
          (metas.reduceOption(better), metas.size,
            rows.count(r => isFalse(r._1, 1)),
            rows.collect { case (r, dv) if isTrue(r, 1) && !meta(r, dv) =>
              (r.getString(0), Option(r.get(3))) })
        case None =>
          // one aggregate row; the stat bound is applied below
          val a = withDeletedRows(spark, withStatsStruct(
              entriesDF(spark, table, m).filter(col("kind") === "data"),
              stSchema).select(col("path") +: classes: _*), m)
            .withColumn("__meta", col("__keep") && col("__full") &&
              col("__dv") === 0L && col("__stat").isNotNull)
            .agg(
              agg1(when(col("__meta"), col("__stat"))).as("cand"),
              sum(when(col("__meta"), 1L).otherwise(0L)).as("nmeta"),
              sum(when(!col("__keep"), 1L).otherwise(0L)).as("npruned"),
              collect_list(when(col("__keep") && !col("__meta"),
                struct(col("path"), col("__stat")))).as("rest")).head()
          (Option.when(!a.isNullAt(0))(a.get(0)), a.getLong(1).toInt,
            a.getLong(2).toInt, a.getSeq[Row](3).map(r =>
              (normalize(r.getString(0)), Option(r.get(1)))).toSeq)
      }
    val scanPaths = rest.collect {
      case (p, st) if !(cand.isDefined && st.isDefined &&
          (if (isMin) cmp(st.get, cand.get) >= 0
           else cmp(st.get, cand.get) <= 0)) => p
    }
    val scanned = scanValue(scanPaths)
    val value = (cand, scanned) match {
      case (Some(x), Some(y)) => Some(better(x, y))
      case (x, y) => x.orElse(y)
    }
    MinMaxBreakdown(value, nmeta, scanPaths.size, rest.size - scanPaths.size,
      npruned)
  }

  /** Skipping effectiveness of `cond` on the current snapshot:
    * (files the scan must read, live data files). */
  def pruneReport(spark: SparkSession, table: String,
      cond: Column): (Int, Int) = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    (pruneDataFiles(spark, table, m, cond).size, m.nData.toInt)
  }

  /** (files planned with the bloom index, files planned by min/max +
    * partition stats alone, total files) — the gate's evidence that the
    * bloom pass pruned what range stats could not. */
  def pruneReportBloom(spark: SparkSession, table: String,
      cond: Column): (Int, Int, Int) = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    val e = ColumnBridge.expression(cond)
    (pruneDataFilesExpr(spark, table, m, e).size,
      pruneDataFilesExpr(spark, table, m, e, useBloom = false).size,
      m.nData.toInt)
  }

  /** Batched probe planning: per-cond `(bloom_kept, stats_kept, total)`
    * — each triple IDENTICAL to [[pruneReportBloom]]'s (spec-pinned) —
    * computed in ONE Spark job: every probe's stats keep-predicate
    * aggregates over one entries-sidecar scan, LEFT-joined with one
    * bloom-sidecar pass that folds every probe's disproof evidence to a
    * per-file flag. The per-probe form runs ~3 planning jobs per probe;
    * a probe-heavy gate (lh_bloom_prune: 3 measured lookups + a
    * 6-candidate existence sweep) was driver-latency-bound on exactly
    * that — many tiny scheduled jobs, not work. */
  def pruneReportBloomBatch(spark: SparkSession, table: String,
      conds: Seq[Column]): Seq[(Int, Int, Int)] = {
    if (conds.isEmpty) return Nil
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    val total = m.nData.toInt
    if (total == 0) return conds.map(_ => (total, total, total))
    val dataSchema = m.schema
    val stSchema = statsSchemaFor(dataSchema)
    val bloomLive = m.bloomCols.nonEmpty && m.bloomRels.nonEmpty
    if (stSchema.isEmpty && m.partitionCols.isEmpty && !bloomLive)
      return conds.map(_ => (total, total, total))
    val folded = conds.map(c => resolvedCond(spark, dataSchema,
      foldRenameCoalesce(ColumnBridge.expression(c), dataSchema)))
    val keeps = folded.zipWithIndex.map { case (f, i) =>
      (if (stSchema.isEmpty && m.partitionCols.isEmpty) lit(true)
       else fileKeepPredicate(f, stSchema, m.partitionCols, dataSchema))
        .as(s"__k$i")
    }
    val left = withStatsStruct(
        entriesDF(spark, table, m).filter(col("kind") === "data"), stSchema)
      .select(normalizeSql(col("path")).as("__np") +: keeps: _*)
    val evs = folded.map(f =>
      if (bloomLive) bloomEvidenceCol(m, f, dataSchema) else None)
    val joined =
      if (evs.forall(_.isEmpty)) left
      else {
        bloomPrunesConsulted.addAndGet(evs.count(_.isDefined).toLong)
        val proven = bloomSidecarDF(spark, table, m)
          .groupBy(normalizeSql(col("path")).as("__np"))
          .agg(evs.head.map(e => max(when(e, 1).otherwise(0)))
              .getOrElse(lit(0)).as("__p0"),
            evs.tail.zipWithIndex.map { case (eo, i) =>
              eo.map(e => max(when(e, 1).otherwise(0)))
                .getOrElse(lit(0)).as(s"__p${i + 1}")
            }: _*)
        left.join(proven, Seq("__np"), "left")
      }
    val aggCols = folded.indices.flatMap { i =>
      val kept = col(s"__k$i")
      val disproven =
        if (evs.forall(_.isEmpty)) lit(false)
        else coalesce(col(s"__p$i"), lit(0)) === 1
      Seq(sum(when(kept && !disproven, 1L).otherwise(0L)).as(s"__b$i"),
        sum(when(kept, 1L).otherwise(0L)).as(s"__s$i"))
    }
    val r = joined.agg(aggCols.head, aggCols.tail: _*).head()
    folded.indices.map { i =>
      val statsKept = r.getLong(2 * i + 1).toInt
      // pruneDataFilesExpr's exact corner: an empty proven set leaves
      // statsKept untouched, and bloom never runs when stats kept none
      val bloomKept = r.getLong(2 * i).toInt
      (if (statsKept == 0) 0 else bloomKept, statsKept, total)
    }
  }

  private def versionOfDir(name: String): Option[Int] =
    if (name.startsWith("v")) name.drop(1).takeWhile(_.isDigit) match {
      case "" => None
      case d => Some(d.toInt)
    } else None

  private def listPartFiles(out: Path): Seq[String] =
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
  private def versionDir(table: String, kind: String, v: Int): Path =
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
  private def writeDataPartitioned(df: DataFrame, table: String, v: Int,
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
  private def writeDataBucketed(df: DataFrame, table: String, v: Int,
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

  private def writeDataMaybePartitioned(df: DataFrame, table: String,
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

  /** Restore a bucketed table's file↔bucket attribution after commits
    * that added non-routed files: ONE rewrite of the base snapshot's
    * live (DV-applied) rows back into the declared bucket layout,
    * replacing every base file and retiring every base DV — the
    * bucketed twin of compaction. Commits that interleave rebase like
    * any row-level race: disjoint appends land, a rewrite of or delete
    * inside a base file fails loudly. */
  def rebucketTable(spark: SparkSession, table: String): Manifest = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    val (bucketCol, n) = m.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"$table has no bucket spec"))
    val files = writeDataBucketed(readSnapshot(spark, m), table,
      m.version + 1, bucketCol, n)
    rowLevelCommit(spark, "rebucketTable", table, m, removed = m.files,
      addedData = files, retiredDvs = m.dvs)
  }

  /** Per-file bucket ids (normalized path → id) when the table is
    * bucketed AND every live data file is attributed — the
    * all-or-nothing gate the scan's co-partitioning report needs (one
    * unattributed file would make the grouping unsound). Metadata-only:
    * one projection of the entries sidecar. */
  def fileBuckets(spark: SparkSession, table: String,
      m: Manifest): Option[Map[String, Int]] =
    m.bucketSpec.flatMap { _ =>
      if (!m.dataNonEmpty) None
      else {
        val withB = entriesDF(spark, table, m)
          .filter(col("kind") === "data")
          .select(col("path"),
            get_json_object(col("part"), s"$$.$BucketSegment")
              .cast("int").as("b"))
        // completeness check EXECUTOR-SIDE (one short-circuit count):
        // when any live file is unattributed the report stands down
        // table-wide and the per-file map is never collected at all
        if (withB.filter(col("b").isNull).limit(1).count() > 0L) None
        else Some(withB.collect().map(r =>
          normalize(r.getString(0)) -> r.getInt(1)).toMap)
      }
    }

  /** Empty DataFrame with the snapshot's schema — the "every row
    * deleted" read path. A local relation, so the optimizer sees it is
    * empty and folds it away (an insert-only merge's join against no
    * touched rows plans as a plain projection of the source). */
  private def emptyOf(spark: SparkSession, m: Manifest): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), m.schema)

  /** Scan of the manifest's data files under its schema — the reader
    * never infers a schema. Files that
    * predate an ADD null-extend by name (the parquet reader's native
    * behavior); files that predate a WIDEN upcast natively; files that
    * predate a RENAME resolve through the field's recorded prior
    * names — the scan requests current + historical names and each
    * field folds to coalesce(current, newest-prev, …). On renamed
    * tables the output carries `_metadata` as a REAL struct column
    * (aliased out of the scan before the projection) so every DV /
    * identity consumer keeps working; [[dropMeta]] removes it from
    * user-facing reads. */
  private def rawScan(spark: SparkSession, m: Manifest,
      files: Seq[String]): DataFrame = {
    val sch = m.schema
    if (!hasRenames(sch)) spark.read.schema(sch).parquet(files: _*)
    else {
      val readSchema = StructType(sch.fields.flatMap { f =>
        StructField(f.name, f.dataType, nullable = true, f.metadata) +:
          prevNamesOf(f).map(p => StructField(p, f.dataType))
      }.toSeq)
      spark.read.schema(readSchema).parquet(files: _*)
        .select(sch.fields.map { f =>
          val ps = prevNamesOf(f)
          (if (ps.isEmpty) col(f.name)
           else coalesce((f.name +: ps.reverse).map(col): _*))
            .as(f.name, f.metadata)
        }.toSeq :+ col("_metadata").as("_metadata"): _*)
    }
  }

  /** Drop the materialized `_metadata` twin a renamed-table [[rawScan]]
    * carries — the last step before rows become user-facing. */
  private def dropMeta(df: DataFrame): DataFrame =
    if (df.columns.contains("_metadata")) df.drop("_metadata") else df

  /** DV-aware snapshot read: scan the data files and drop deleted row
    * positions PER FILE ([[applyDvFilter]]) — an anti join against the
    * one DV reader's rows ([[dvFiles]]: one per DV'd file, read on the
    * driver as a LocalRelation at or under [[SmallSidecarEntries]] runs,
    * a columnar aggregate above; broadcast at O(total runs)) probed by
    * the codegen'd binary-search [[graft.functions.DvRunsContain]] on
    * `_metadata.row_index` (a PUBLIC Spark metadata column: the row's
    * stable position within its parquet file), so the positional
    * delete needs no key or schema requirement on the table and
    * never builds state proportional to the number of deleted ROWS —
    * only to the number of runs, and past [[DvBroadcastRunsConf]] runs
    * it becomes a shuffled range anti-join (spillable, executor-side).
    * Restricting the scan to `onlyFiles` keeps the same semantics on a
    * file subset: DV rows for files outside the subset simply never
    * match. */
  private def readSnapshot(spark: SparkSession, m: Manifest,
      onlyFiles: Option[Seq[String]] = None): DataFrame = {
    val files = onlyFiles.getOrElse(m.files)
    // the empty-subset shape comes from the manifest schema
    if (files.isEmpty) return emptyOf(spark, m)
    val data = rawScan(spark, m, files)
    if (m.dvs.isEmpty) dropMeta(data)
    else
      // DV identities store `_metadata.file_path` URIs (deleteWhere) or
      // manifest-raw paths (the DSv2 delta writer) — compare normalized
      dropMeta(applyDvFilter(spark, data, m,
        normalizeSql(col("_metadata.file_path")),
        col("_metadata.row_index")))
  }

  // ------------------------------------ row-group-level DV skipping

  /** What row-group planning decided: how many groups the DV'd files
    * hold, how many are fully deleted (never scanned), and how many
    * files have at least one. `liveRows` is the exact number of rows
    * the ranged scan will surface from affected files. */
  case class RowGroupReport(totalGroups: Int, deadGroups: Int,
      affectedFiles: Int, liveRows: Long)

  private case class GroupInfo(path: String, idx: Int, startRow: Long,
      nRows: Long, startByte: Long, nBytes: Long)

  /** Row-group boundaries of one file — one footer read (driver-side,
    * and only ever for DV-carrying files, a delta-sized set). */
  private def rowGroupsOf(spark: SparkSession, file: String): Seq[GroupInfo] =
    Tables.withFooter(spark.sparkContext.hadoopConfiguration, file) { r =>
      var start = 0L
      val blocks = r.getFooter.getBlocks
      (0 until blocks.size()).map { i =>
        val b = blocks.get(i)
        val g = GroupInfo(file, i, start, b.getRowCount, b.getStartingPos,
          b.getCompressedSize)
        start += b.getRowCount
        g
      }
    }

  /** Row-group-level deletion-vector skipping plan: join DV density
    * against footer row-group boundaries; a group whose every row is
    * deleted never scans. Returns (files to scan whole, live byte
    * ranges of affected files, report). parquet-mr admits a row group
    * iff its byte midpoint falls in the range, so each consecutive run
    * of live groups becomes one [first.start, last.end) range — dead
    * neighbors' midpoints fall outside. A file whose EVERY group is
    * dead contributes nothing at all. */
  def rowGroupPrunePlan(spark: SparkSession, table: String):
      (Seq[String], Seq[org.apache.spark.sql.graftbridge.ScanBridge.FileRange],
        RowGroupReport) = {
    import org.apache.spark.sql.graftbridge.ScanBridge.FileRange
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    if (m.dvs.isEmpty || !m.dataNonEmpty)
      return (m.files, Nil, RowGroupReport(0, 0, 0, 0L))
    val dv = dvFiles(spark, m)
    val dvTargetN = dv.select("__dv_fp").collect().map(_.getString(0)).toSet
    val (dvd, clean) = m.files.partition(f => dvTargetN.contains(normalize(f)))
    val groups = dvd.flatMap(f => rowGroupsOf(spark, f))
    // per-group deletion counts from run overlaps (runs are disjoint,
    // so summed overlap lengths are exact): one broadcast join,
    // O(#runs) not O(#deleted rows)
    val gdf = spark.createDataFrame(groups.map(g =>
      (normalize(g.path), g.idx, g.startRow, g.nRows)))
      .toDF("gp", "gidx", "gstart", "gn")
    val dead = dv.select(col("__dv_fp"),
        inline(arrays_zip(col("__dv_starts"), col("__dv_lens"))))
      .toDF("gp", "start", "len")
      .join(broadcast(gdf), Seq("gp"))
      .withColumn("__ov",
        least(col("start") + col("len"), col("gstart") + col("gn")) -
          greatest(col("start"), col("gstart")))
      .filter(col("__ov") > 0)
      .groupBy(col("gp"), col("gidx"), col("gn"))
      .agg(sum(col("__ov")).as("ndel"))
      .filter(col("ndel") === col("gn"))
      .select("gp", "gidx").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    if (dead.isEmpty)
      return (m.files, Nil, RowGroupReport(groups.size, 0, 0, 0L))
    val byFile = groups.groupBy(g => normalize(g.path))
    val (affected, wholeDvd) =
      dvd.partition(f => byFile(normalize(f)).exists(g =>
        dead.contains((normalize(f), g.idx))))
    var liveRows = 0L
    val ranges = affected.flatMap { f =>
      val gs = byFile(normalize(f)).sortBy(_.idx)
      val size = Files.size(Paths.get(f))
      // consecutive live runs -> one byte range each
      val runs = scala.collection.mutable.ArrayBuffer.empty[Seq[GroupInfo]]
      var cur = scala.collection.mutable.ArrayBuffer.empty[GroupInfo]
      gs.foreach { g =>
        if (dead.contains((normalize(f), g.idx))) {
          if (cur.nonEmpty) { runs += cur.toSeq; cur = cur.take(0) }
        } else cur += g
      }
      if (cur.nonEmpty) runs += cur.toSeq
      runs.map { run =>
        liveRows += run.map(_.nRows).sum
        FileRange(f, run.head.startByte,
          run.last.startByte + run.last.nBytes - run.head.startByte, size)
      }
    }
    val report = RowGroupReport(groups.size, dead.size, affected.size,
      liveRows)
    (clean ++ wholeDvd, ranges, report)
  }

  /** DV-applied snapshot read where fully-deleted row groups NEVER
    * scan: affected files are read through explicit live byte ranges
    * ([[org.apache.spark.sql.graftbridge.ScanBridge]] — the same
    * parquet reader `FileSourceScanExec` uses, with file-global row
    * indexes intact), everything else through the normal scan; one
    * DV anti-join applies the remaining row-level deletes. Identical
    * results to [[read]]; strictly fewer row groups decompressed when
    * a delete wiped out whole groups (a retention delete on a
    * time-clustered 100 TB table kills most groups of most files —
    * this read never touches them). */
  def readRowGroupPruned(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ScanBridge
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    if (m.dvs.isEmpty) return readSnapshot(spark, m)
    // renamed tables take the (coalescing) snapshot read: the ranged
    // byte-scan requests current names only and would null-fill old
    // files' renamed columns — sound to skip the optimization, never
    // to mis-read
    if (hasRenames(m.schema)) return readSnapshot(spark, m)
    val (whole, ranges, _) = rowGroupPrunePlan(spark, table)
    if (ranges.isEmpty) return readSnapshot(spark, m)
    val rangedDF = ScanBridge.rangedParquetScan(spark, m.schema, ranges)
    val data =
      if (whole.isEmpty) rangedDF
      else rawScan(spark, m, whole)
        .withColumn(ScanBridge.RowIndexColumn, col("_metadata.row_index"))
        .withColumn(ScanBridge.FilePathColumn, col("_metadata.file_path"))
        .unionByName(rangedDF)
    applyDvFilter(spark, data, m,
      normalizeSql(col(ScanBridge.FilePathColumn)),
      col(ScanBridge.RowIndexColumn))
      .drop(ScanBridge.RowIndexColumn, ScanBridge.FilePathColumn)
  }

  def read(spark: SparkSession, table: String): DataFrame = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    // make this snapshot's scan recognizable to the data-skipping
    // optimizer rule (inert until CowSkipApi.enable)
    graft.plans.CowSkipCatalog.register(table, m)
    readSnapshot(spark, m)
  }

  def readVersion(spark: SparkSession, table: String, v: Int): DataFrame = {
    val m = readManifest(table, v)
    graft.plans.CowSkipCatalog.register(table, m)
    readSnapshot(spark, m)
  }

  /** Stats-pruned snapshot read: files whose min/max prove no row can
    * match `cond` never reach the scan — the manifest-level data
    * skipping that makes a selective query on a clustered 100 TB table
    * read a handful of files. Semantically identical to
    * `read(...).filter(cond)` (the predicate is still applied row-level
    * to the surviving files, and DV entries for pruned files simply
    * never match). */
  def readWhere(spark: SparkSession, table: String, cond: Column): DataFrame = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    readSnapshot(spark, m, Some(pruneDataFiles(spark, table, m, cond)))
      .filter(cond)
  }

  /** [[readWhere]] against a pinned (time-travel) version. */
  def readVersionWhere(spark: SparkSession, table: String, v: Int,
      cond: Column): DataFrame = {
    val m = readManifest(table, v)
    readSnapshot(spark, m, Some(pruneDataFiles(spark, table, m, cond)))
      .filter(cond)
  }

  // ----------------------------------------- TIMESTAMP AS OF resolution

  /** Commit timestamp of a version = its manifest file's mtime, written
    * once by the claim-completing atomic rename and never touched again
    * — the same clock [[expireSnapshots]]' retention window runs on, so
    * "read as of yesterday 09:00" and "expire older than 7 days" can
    * never disagree about when a snapshot happened. */
  def commitTimeMs(table: String, v: Int): Long =
    Files.getLastModifiedTime(manifestPath(table, v)).toMillis

  /** Gate/spec hook: re-stamp a version's commit time so time-travel
    * boundaries are deterministic when a whole commit history is built
    * in one wall-clock blink. Never called by a production writer —
    * the atomic rename's own mtime IS the commit time. */
  private[graft] def stampCommitTime(table: String, v: Int,
      ms: Long): Unit = {
    Files.setLastModifiedTime(manifestPath(table, v),
      java.nio.file.attribute.FileTime.fromMillis(ms))
    ()
  }

  /** Resolve `TIMESTAMP AS OF`: the NEWEST complete version whose
    * commit time is AT OR BEFORE `tsMillis` — a read at exactly a
    * commit's timestamp sees that commit (the boundary rule Delta and
    * Iceberg both use). Asking for an instant before the earliest
    * retained commit is an ERROR, not an empty table: the caller asked
    * for a state this table never had — or one retention already
    * dropped, which must fail loudly rather than silently serve the
    * oldest surviving snapshot as if it were older. Resolution is
    * metadata-only: one manifest-directory listing plus one mtime stat
    * per retained version, never a data-file read. */
  def snapshotAsOf(table: String, tsMillis: Long): Manifest = {
    val versions = completeVersions(table) // newest first
    if (versions.isEmpty) throw new IllegalArgumentException(
      s"cow table $table does not exist")
    // versions and commit times advance together (commits serialize
    // through the version claim); qualify by time, resolve to the
    // NEWEST qualifying version so an mtime tie collapses correctly
    val qualifying = versions.filter(commitTimeMs(table, _) <= tsMillis)
    if (qualifying.isEmpty) {
      val first = versions.min
      throw new IllegalArgumentException(
        s"cow table $table: no snapshot committed at or before " +
          s"$tsMillis — the earliest retained commit is v$first at " +
          s"${commitTimeMs(table, first)} (pre-history reads fail " +
          "loudly; they do not serve the oldest surviving snapshot)")
    }
    readManifest(table, qualifying.max)
  }

  /** [[read]] pinned at a wall-clock instant ([[snapshotAsOf]]'s
    * at-or-before rule) — the Scala twin of SQL
    * `SELECT … FROM graft.`/path` TIMESTAMP AS OF t`. */
  def readAsOf(spark: SparkSession, table: String,
      tsMillis: Long): DataFrame = {
    val m = snapshotAsOf(table, tsMillis)
    graft.plans.CowSkipCatalog.register(table, m)
    readSnapshot(spark, m)
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
  private def sweepBranchDir(table: String, name: String): Unit = {
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

  /** Merge-on-read DELETE: one snapshot scan finds the matching rows'
    * (file, row_index) identities and writes them as this version's
    * deletion vector — NO data file is read back or rewritten. On a
    * 100 TB table a delete touching a few thousand rows costs one scan
    * (file-pruned by the predicate like any other scan) plus a KB-sized
    * sidecar write; the copy-on-write alternative rewrites every file
    * containing a matching row. The identities are RUN-LENGTH encoded
    * before the write ([[toDvRuns]]): a dense retention delete lands as
    * a handful of `(file, start, len)` rows no matter how many rows it
    * kills. Scans through [[readSnapshot]] probe the packed runs until
    * [[rewriteDeletes]] or a compaction materializes. The scan excludes
    * already-deleted rows, so repeating a delete is a no-op (returns
    * the current manifest unchanged) and DV files never accumulate
    * duplicate identities. The candidate scan itself is stats-pruned: a
    * delete whose predicate misses most files reads only the files it
    * can touch. */
  def deleteWhere(spark: SparkSession, table: String,
      cond: Column): Manifest = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    if (!m.dataNonEmpty) return m
    val scanFiles = pruneDataFiles(spark, table, m, cond)
    if (scanFiles.isEmpty) return m
    val raw = rawScan(spark, m, scanFiles)
    val cand = raw.filter(cond)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("row_index"))
    val fresh =
      if (m.dvs.isEmpty) cand
      else applyDvFilter(spark, cand, m, normalizeSql(col("file_path")),
        col("row_index"))
    val written = writeDvs(spark, table, m.version + 1, fresh)
    if (written.isEmpty) return m
    // Snapshot isolation (the Delta "WriteSerializable" stance): the
    // delete applies to the rows that existed in ITS snapshot, so
    // concurrent appends and disjoint-file writers rebase; anything
    // that moved or re-deleted the rows this DV references throws.
    rowLevelCommit(spark, "deleteWhere", table, m, addedDvs = written)
  }

  // ------------------------------------------------- DSv2 commit hooks

  /** [[normalize]] / [[normalizeSql]] for the DSv2 surface
    * ([[graft.plans.CowDsv2Table]]) — path identity there must match the
    * manifest's. */
  private[graft] def normalizePath(p: String): String = normalize(p)
  private[graft] def normalizePathSql(c: Column): Column = normalizeSql(c)

  /** A fresh data directory for version `v` — where a DSv2 batch write
    * stages its part files before [[rowLevelCommit]] publishes them. */
  private[graft] def newDataDir(table: String, v: Int): String =
    versionDir(table, "data", v).toString

  /** A fresh deletion-vector directory for version `v` — where a DSv2
    * merge-on-read (delta) write stages its DV part files before
    * [[rowLevelCommit]] publishes them. */
  private[graft] def newDvDir(table: String, v: Int): String =
    versionDir(table, "dv", v).toString

  /** The deletion-vector sidecar schema — RANGE-ENCODED: one row per
    * run of consecutive deleted row indexes, `[start, start + len)`,
    * within a data file. Runs from one writer are disjoint, and runs
    * across versions are disjoint too (every delete path excludes
    * already-deleted rows), but they need not be maximal or sorted in
    * the file — consumers sort on read. A dense retention delete (the
    * common shape on time-clustered tables) collapses millions of row
    * identities into a handful of rows, which shrinks sidecar bytes,
    * the packed per-file arrays a snapshot read broadcasts, and the
    * row-group planning join all at once (roaring-bitmap economics,
    * parquet-native encoding). `file_path` may hold the
    * `_metadata.file_path` URI ([[deleteWhere]]) or the manifest-raw
    * path (the DSv2 delta writer); every consumer compares under
    * [[normalize]]. */
  private[graft] val dvSchema: StructType = StructType(Seq(
    StructField("file_path", StringType), StructField("start", LongType),
    StructField("len", LongType)))

  /** DV runs of `dvPaths` with normalized file identity:
    * `(fp, start, len)` — a columnar scan, read only by [[dvFiles]]'
    * columnar branch and [[applyDvFilter]]'s range anti-join. */
  private[graft] def dvRuns(spark: SparkSession,
      dvPaths: Seq[String]): DataFrame =
    spark.read.schema(dvSchema).parquet(dvPaths: _*)
      .select(normalizeSql(col("file_path")).as("fp"), col("start"),
        col("len"))

  /** Run-length encode distinct `(file_path, row_index)` identities
    * into the sidecar's `(file_path, start, len)` runs — the classic
    * gaps-and-islands fold (index minus rank is constant within a
    * run), one delta-sized shuffle. */
  private[graft] def toDvRuns(ids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("file_path").orderBy("row_index")
    ids.withColumn("__g", col("row_index") - row_number().over(w))
      .groupBy(col("file_path"), col("__g"))
      .agg(min("row_index").as("start"), count(lit(1)).as("len"))
      .select("file_path", "start", "len")
  }

  /** Session conf: max total DV runs a snapshot read will broadcast as
    * packed per-file arrays; beyond it the read falls back to a
    * shuffled range anti-join (executor-side, spillable — no driver or
    * broadcast limit involved). */
  private[graft] val DvBroadcastRunsConf = "spark.graft.cow.dv.broadcastRuns"
  private[graft] val DvBroadcastRunsDefault = 4000000L

  /** Test hook: DV sidecar footers opened on the driver by
    * [[dvRunCount]]. Run counts are recorded in the manifest's `dv:`
    * lines at commit time, so a snapshot READ of a committed table
    * must leave this unchanged — the metadata-only-decision spec pins
    * it. Commit-time resolution of freshly written sidecars is the
    * only expected increment. */
  private[graft] val driverDvFootersRead =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** DV runs in the sidecar `dvPath`, from its parquet footer alone
    * (driver-side). COMMIT-TIME machinery only: the count lands in the
    * manifest's `dv:<runs>:<path>` line, so the read path never opens
    * a footer. */
  private[graft] def dvRunCount(spark: SparkSession, dvPath: String): Long = {
    driverDvFootersRead.incrementAndGet()
    Tables.withFooter(spark.sparkContext.hadoopConfiguration, dvPath)(
      _.getRecordCount)
  }

  /** Apply deletion vectors to `df` executor-side. Up to
    * [[DvBroadcastRunsConf]] total runs, `df` anti-joins the broadcast
    * [[dvFiles]] rows (one per DV'd file: a LocalRelation read on the
    * driver at or under [[SmallSidecarEntries]] runs, a columnar
    * aggregate above), dropping rows whose `riCol` falls in a run —
    * binary search per row, inside whole-stage codegen. Past that
    * budget it is a shuffled range anti-join against the raw runs:
    * still executor-side, no broadcast proportional to the delete set.
    * `fpCol` must already be normalized. Both decisions read the run
    * counts RECORDED IN THE MANIFEST — no footer is opened on the read
    * path. The probe column carries the DV file set in its metadata
    * ([[DvFilesMetaKey]]): the MV rewrite reads a DV-applied scan's
    * snapshot identity from it. */
  private[graft] def applyDvFilter(spark: SparkSession, df: DataFrame,
      m: Manifest, fpCol: Column, riCol: Column): DataFrame = {
    val limit = spark.conf.getOption(DvBroadcastRunsConf)
      .map(_.toLong).getOrElse(DvBroadcastRunsDefault)
    val probed = df.withColumn("__dv_probe_fp", fpCol.as("__dv_probe_fp",
      new MetadataBuilder().putStringArray(DvFilesMetaKey, m.dvs.toArray)
        .build()))
    if (m.dvs.map(m.dvRunCounts).sum <= limit)
      // an anti join, not a left join + filter: Spark sizes a left join
      // against a LocalRelation as the PRODUCT of both sides (it cannot
      // see that __dv_fp is unique), which turned every join above a
      // DV'd read into a sort-merge join that AQE demoted only after
      // running its shuffle stages; an anti join is sized as its left
      probed.withColumn("__dv_probe_ri", riCol)
        .join(broadcast(dvFiles(spark, m)),
          col("__dv_probe_fp") === col("__dv_fp") &&
            graft.functions.DvRunsContain(col("__dv_starts"),
              col("__dv_lens"), col("__dv_probe_ri")),
          "left_anti")
        .drop("__dv_probe_fp", "__dv_probe_ri")
    else {
      // the row index materializes on the left FIRST: the runs side is
      // itself a parquet scan, so a raw `_metadata` reference in the
      // join condition would be ambiguous between the two scans. The
      // runs ride under reserved __dv_ names so user columns named
      // fp/start/len can't collide either.
      val runs = dvRuns(spark, m.dvs).select(col("fp").as("__dv_fp"),
        col("start").as("__dv_start"), col("len").as("__dv_len"))
      probed.withColumn("__dv_probe_ri", riCol)
        .join(runs,
          col("__dv_probe_fp") === col("__dv_fp") &&
            col("__dv_probe_ri") >= col("__dv_start") &&
            col("__dv_probe_ri") < col("__dv_start") + col("__dv_len"),
          "left_anti")
        .drop("__dv_probe_fp", "__dv_probe_ri")
    }
  }

  /** Metadata key of [[applyDvFilter]]'s probe column: the snapshot's
    * DV file paths. */
  private[graft] val DvFilesMetaKey = "graft.dvFiles"

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

  /** Writes row identities `(file_path, row_index)` as version `v`'s
    * deletion vector, run-length encoded ([[toDvRuns]]) into one file —
    * runs are tiny relative to the rows they kill. Write-then-check:
    * an empty result leaves no file (emptiness comes from the written
    * footer, not a pre-check that would execute the identity scan a
    * second time). */
  private def writeDvs(spark: SparkSession, table: String, v: Int,
      ids: DataFrame): Seq[String] = {
    val out = versionDir(table, "dv", v)
    toDvRuns(ids).coalesce(1).write.mode("overwrite").parquet(out.toString)
    val kept = dropEmptyFiles(spark, listPartFiles(out), keepFacts = false)
    dropDirIfNoFiles(out, kept)
    kept
  }

  /** The merge engine's one delta-sized pass over its source: it
    * refuses NULL keys (with `refuseNullKeys`, checked first) and
    * duplicate keys (the SQL MERGE cardinality contract), and returns
    * the source row count plus the per-key-column [min, max] bounds
    * [[mergeCandidateFiles]] prunes with — one source execution where
    * separate probes would pay one each (in the streaming sink, one
    * job per probe per epoch). */
  private def checkSourceKeys(op: String, source: DataFrame,
      keys: Seq[String], refuseNullKeys: Boolean)
      : (Long, Map[String, (Any, Any)]) = {
    val statsKeys = source.schema.fields
      .filter(f => keys.contains(f.name) && statsEligible(f.dataType)).toSeq
    val aggs = Seq(count(lit(1)), count_distinct(struct(keys.map(col): _*)),
      count(when(keys.map(col(_).isNull).reduce(_ || _), lit(1)))) ++
      statsKeys.flatMap(f => Seq(min(col(f.name)), max(col(f.name))))
    val r = source.agg(aggs.head, aggs.tail: _*).head()
    // a NULL never equi-matches, so its postimage would append as a
    // new row on EVERY apply — a poison pill for a replayed stream
    require(!refuseNullKeys || r.getLong(2) == 0L,
      s"$op: source has NULL values in upsert key(s) " +
        s"${keys.mkString(", ")} — NULL keys never match and would " +
        "duplicate on every epoch; coalesce them to a sentinel value")
    require(r.getLong(0) == r.getLong(1),
      s"$op: source has ${r.getLong(0) - r.getLong(1)} duplicate keys")
    (r.getLong(0), statsKeys.zipWithIndex.map { case (f, i) =>
      f.name -> ((r.get(3 + 2 * i), r.get(4 + 2 * i))) }.toMap)
  }

  /** MERGE-ON-READ upsert: matched target rows die by deletion vector
    * (range-encoded, no data file rewritten) and EVERY source row
    * appends as new data files — one delta-priced commit, the Scala
    * twin of SQL `MERGE` under merge-on-read mode and the epoch apply
    * of the update-mode streaming sink. The [[DvMatched]] rule of the
    * one merge engine ([[mergeRows]]): the match scan is stats-bounded
    * ([[mergeCandidateFiles]]) and DV-applied (an already-deleted row
    * cannot re-match), so repeating the same upsert is content-stable:
    * the old copy is dead either way and the latest source values win.
    * Source keys must be unique and non-NULL (the SQL MERGE cardinality
    * contract; a NULL key never matches and would re-append on every
    * streaming replay — coalesce it to a sentinel first). An empty
    * source commits nothing. On a lost race, rows added since its
    * snapshot must not carry its keys.
    *
    * `evolveSchema`: source-only columns become new nullable table
    * columns inside THIS commit — the CDC-ingestion trigger (the
    * upstream added a field) on the MOR path: untouched files
    * NULL-extend at read, postimages carry the value.
    *
    * `preserveMissing`: PARTIAL-COLUMN upsert — table columns the
    * source does not carry keep their CURRENT value on matched rows
    * (read from the candidate files the match discovery already
    * touches — newest physical row wins when a key is duplicated) and
    * NULL-extend on inserts. This is the CDC shape where the upstream
    * feed carries a column subset, and the epoch-boundary absorption
    * path for a streaming sink whose table gained a column mid-run:
    * without it, a full-row postimage would silently NULL-clobber
    * values another writer filled. Replay-idempotent: a replayed
    * epoch preserves FROM ITS OWN postimages, reproducing them.
    *
    * `stagedData`: the source rows ALREADY exist on disk as exactly
    * these parquet files, written in the table's schema (the update-
    * mode streaming sink's staged epoch) — commit them BY REFERENCE
    * instead of reading them back and rewriting a byte-identical copy
    * (guide §6: the epoch's data leg was a pure read+write round
    * trip). Taken only when no projection could change the rows
    * (source carries every table column, schema unevolved); any other
    * shape falls back to the write path. Callers must guarantee the
    * files' physical schema matches the table's (the sink checks
    * before passing them). */
  def upsertMor(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], evolveSchema: Boolean = false,
      preserveMissing: Boolean = false,
      stagedData: Seq[String] = Nil): Manifest =
    mergeRows(spark, "upsertMor", table, source, keys, evolveSchema,
      DvMatched(preserveMissing, stagedData))

  /** Schema evolution for a row-level write: source-only columns
    * append as new nullable fields, stable ids assigned when the base
    * schema carries them, historical-name (and dropped-name tombstone)
    * resurrection refused (old files' physical columns under that name
    * would resolve into two fields). Used by the merge engine
    * ([[mergeRows]]) and the STREAMING upsert sink, whose "source" is
    * the query's write schema at sink-build time. Returns `schema`
    * itself when the source adds nothing. */
  private[graft] def evolvedSinkSchema(op: String, schema: StructType,
      sourceSchema: StructType,
      dropped: Set[String] = Set.empty): StructType = {
    val existing = schema.fieldNames.toSet
    val newCols = sourceSchema.fieldNames.filterNot(existing.contains).toSeq
    if (newCols.isEmpty) return schema
    val sTypes = sourceSchema.map(f => f.name -> f.dataType).toMap
    val known = allKnownNames(schema) ++ dropped
    newCols.foreach(c => require(!known.contains(c),
      s"$op: evolved column $c reuses a historical column name " +
        "(renamed away or dropped earlier) — pick a fresh name"))
    val baseIds = schema.fields.flatMap(fieldIdOf)
    var nextFid = baseIds.foldLeft(-1L)(math.max)
    StructType(schema.fields.toSeq ++ newCols.map { c =>
      val md =
        if (baseIds.isEmpty) Metadata.empty
        else {
          nextFid += 1
          new MetadataBuilder().putLong(FieldIdKey, nextFid).build()
        }
      StructField(c, sTypes(c), nullable = true, md)
    })
  }

  /** Materialize deletion vectors: rewrite the files that carry a live
    * DV entry (discovered from the DVs themselves — a delta-sized read,
    * not a table scan), drop their DV entries, carry the rest by
    * reference (stats entries included). With `minDeadFraction` > 0 the
    * materialization is SELECTIVE — the knob a 100 TB maintenance job
    * needs: only files whose deleted fraction (dead rows ÷ manifest row
    * count) reaches the threshold rewrite; lightly-touched files keep
    * their bytes and their deletes move into ONE consolidated sidecar,
    * so reader anti-join state stays bounded without paying a full
    * rewrite for a 0.1%-dead file. Files without a usable manifest row
    * count rewrite conservatively. The default threshold 0.0
    * materializes everything (drops all DVs); a no-op on a DV-free
    * table. The `lh_file_audit` report is the SQL-side view of the same
    * classification. */
  def rewriteDeletes(spark: SparkSession, table: String,
      minDeadFraction: Double = 0.0): Manifest = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    if (m.dvs.isEmpty) return m
    // per-file dead counts: a projection of the DV reader
    val dead = dvFiles(spark, m).select("__dv_fp", "__dv_n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // dead's keys are normalized (dvFiles) and MUST intersect the LIVE
    // file set: DV entries for files a later merge already replaced are
    // carried inert (they can never match again), and rewriting those
    // paths would resurrect replaced generations. The membership probe
    // is candidate-sized against the sidecar — maintenance stays
    // delta-sized, never O(#files)
    val live = entriesLiveAmong(spark, table, m, dead.keys.toSeq)
    // the touched set is DV-derived (delta-sized); the untouched carry
    // is a sidecar-to-sidecar DataFrame filter, never a driver seq
    val (touchedF, keepDvF) = denseSplit(spark, table, m,
      dead.filter(kv => live.contains(kv._1)), minDeadFraction)
    val v = m.version + 1
    // below-threshold files' deletes consolidate into one fresh sidecar
    // (old DV files drop regardless — their rewritten-file entries die)
    val keptDvs: Seq[String] =
      if (keepDvF.isEmpty) Nil
      else {
        val out = versionDir(table, "dv", v)
        spark.read.schema(dvSchema).parquet(m.dvs: _*)
          .filter(normalizeSql(col("file_path"))
            .isInCollection(keepDvF.map(normalize)))
          .coalesce(1).write.mode("overwrite").parquet(out.toString)
        listPartFiles(out)
      }
    // write-then-check: a fully-dead rewrite set writes no listed file
    // (dropEmptyFiles) — no `clean.isEmpty` pre-execution of the
    // DV-applied snapshot read
    val newFiles =
      if (touchedF.isEmpty) Nil
      else writeDataMaybePartitioned(readSnapshot(spark, m, Some(touchedF)),
        table, v, m.partitionCols, m.bucketSpec)
    // maintenance races live writers constantly: appends, rewrites of
    // other files and fresh deletes in files we keep (their DVs carry)
    // rebase and land; a rewrite of — or a fresh delete inside — a file
    // we rewrite conflicts (its deletes were materialized from OUR
    // snapshot)
    rowLevelCommit(spark, "rewriteDeletes", table, m, removed = touchedF,
      addedData = newFiles, addedDvs = keptDvs, retiredDvs = m.dvs)
  }

  /** MERGE `source` into the table's latest snapshot on `keys`: the
    * [[RewriteMatched]] rule of the one merge engine ([[mergeRows]]) —
    * every file holding a matched key group-rewrites, every other file
    * carries by reference. An empty source commits nothing. Returns
    * the committed manifest. See the object doc for semantics. */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], deleteCond: Option[Column] = None,
      insert: Boolean = true, evolveSchema: Boolean = false): Manifest =
    mergeRows(spark, "mergeInto", table, source, keys, evolveSchema,
      RewriteMatched(deleteCond, insert))

  /** COST-BASED COW/MOR HYBRID upsert: the write mode is chosen PER
    * FILE from match density, inside one commit — the [[ByDensity]]
    * rule of the one merge engine ([[mergeRows]]). The discovery scan
    * (stats-bounded, DV-applied) counts each candidate file's matched
    * LIVE rows; files whose matches reach `denseFraction` of their
    * manifest row count GROUP-REWRITE (copy-on-write — they were going
    * to be mostly rewritten anyway, and rewriting drops their DV debt),
    * while sparsely-matched files keep their bytes and their matched
    * rows die by range-encoded deletion vector (merge-on-read). Source
    * postimages for MOR-matched keys and fresh inserts append as new
    * files. One version commits the whole choice, so on a 100 TB table
    * a delta that is clustered HERE and scattered THERE pays group
    * rewrite only where it is cheaper than carrying deletes — the knob
    * `spark.graft.cow.rowLevelMode` picks per STATEMENT; this picks
    * per FILE. Upsert form (update-all + insert); target keys must be
    * unique among matched rows (the SQL MERGE cardinality contract).
    * Files without a usable manifest row count rewrite conservatively.
    * An empty source commits nothing. */
  def mergeIntoHybrid(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], denseFraction: Double = 0.3,
      evolveSchema: Boolean = false): Manifest =
    mergeRows(spark, "mergeIntoHybrid", table, source, keys, evolveSchema,
      ByDensity(denseFraction))

  /** How [[mergeRows]] treats the target files the source keys match:
    * rewrite them, delete their matched rows by deletion vector, or
    * choose per file by match density. */
  private sealed trait MergeRule

  /** [[mergeInto]]: every matched file group-rewrites; a matched source
    * row with `deleteCond` true deletes its target row, and unmatched
    * source rows insert only with `insert`. Discovery reads the
    * candidates RAW: a file whose only matching rows are already
    * deleted rewrites too (its DVs materialize a version early —
    * conservative, never wrong), and the rewrite applies DVs anyway, so
    * a DV-applied discovery would only add the packed-DV broadcast to
    * every merge. Duplicate live target keys all take the update. */
  private case class RewriteMatched(deleteCond: Option[Column],
      insert: Boolean) extends MergeRule

  /** [[upsertMor]]: nothing rewrites; matched LIVE rows die by deletion
    * vector and every source row appends (one postimage per key, even
    * over duplicate target keys). NULL source keys are refused. */
  private case class DvMatched(preserveMissing: Boolean,
      stagedData: Seq[String]) extends MergeRule

  /** [[mergeIntoHybrid]]: files whose matched live rows reach
    * `denseFraction` of their row count rewrite, the rest take a DV
    * ([[denseSplit]]); a source key matching two live rows is refused. */
  private case class ByDensity(denseFraction: Double) extends MergeRule

  /** The one merge engine behind [[mergeInto]], [[upsertMor]] and
    * [[mergeIntoHybrid]]; `rule` decides which matched files rewrite
    * and which take a deletion vector.
    *
    *  1. Prologue: the table, keys and columns are checked; with
    *     `evolveSchema` source-only columns become new nullable table
    *     columns inside this commit ([[evolvedSinkSchema]]; rows of
    *     older files NULL-extend at read), without it they are ignored
    *     (deleteCond helper columns like a `kill` marker ride the
    *     source without entering the table); source types must match
    *     ([[requireSourceTypes]]) and one delta-sized pass checks the
    *     source keys and takes their bounds ([[checkSourceKeys]]). An
    *     empty source returns the current manifest.
    *  2. Identity scan: the candidate files ([[mergeCandidateFiles]]:
    *     stats- and bloom-bounded, so a narrow delta against a
    *     key-clustered table reads only the overlapping slice) are
    *     scanned for `(keys, file_path, row_index)` and semi-joined to
    *     the broadcast source keys.
    *  3. The rule splits the matched files into a rewrite set and a DV
    *     set.
    *  4. One write: the rewrite set's live rows full-outer-joined with
    *     the source. Matched rows take the source values, unmatched
    *     target rows carry, and unmatched source rows — inserts and the
    *     postimages of DV'd rows — append. An empty rewrite set is a
    *     local relation, so the join plans as a projection of the
    *     source. An empty result writes no listed file
    *     (write-then-check), so nothing pre-executes the join.
    *  5. One commit: the DV set's matched rows become this version's
    *     deletion vector, then [[rowLevelCommit]] publishes it all. A
    *     rebase is sound only when the interleaved commits could not
    *     have changed this merge's inputs: no rewritten file moved, no
    *     delete inside a rewritten or DV'd file, and no added row
    *     carries a source key. */
  private def mergeRows(spark: SparkSession, op: String, table: String,
      source: DataFrame, keys: Seq[String], evolveSchema: Boolean,
      rule: MergeRule): Manifest = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    // 1. prologue
    val schema0 = m.schema
    val missing = schema0.fields.filterNot(f =>
      source.columns.contains(f.name)).toSeq
    val preserved = rule match {
      case DvMatched(true, _) => missing
      case _ =>
        require(missing.isEmpty, s"$op: source must carry every table " +
          "column" + (if (!rule.isInstanceOf[DvMatched]) "" else " (or " +
            "pass preserveMissing = true to keep matched rows' current " +
            "values for the absent columns)"))
        Nil
    }
    val schema =
      if (evolveSchema)
        evolvedSinkSchema(op, schema0, source.schema, m.droppedNames)
      else schema0
    require(keys.nonEmpty && keys.forall(k =>
      schema.fieldNames.contains(k) && source.columns.contains(k)),
      s"$op: keys $keys must exist in the table and the source")
    requireSourceTypes(op, schema, source)
    val (nSource, keyBounds) = checkSourceKeys(op, source, keys,
      refuseNullKeys = rule.isInstanceOf[DvMatched])
    if (nSource == 0L) return m
    val v = m.version + 1
    val srcKeys = source.select(keys.map(col): _*).distinct()

    // 2. matched target rows with their identity (and the preserved
    // columns' values); DV-applied unless the rule rewrites every match
    val cands =
      if (!m.dataNonEmpty) Nil
      else mergeCandidateFiles(spark, table, m, source, keys,
        Some(keyBounds))
    val matched = Option.when(cands.nonEmpty) {
      val ids = rawScan(spark, m, cands).select(keys.map(col) ++
        preserved.map(f => col(f.name)) :+
        col("_metadata.file_path").as("__fp") :+
        col("_metadata.row_index").as("__ri"): _*)
      val scan = rule match {
        case _: RewriteMatched => ids
        case _ => applyDvFilter(spark, ids, m, normalizeSql(col("__fp")),
          col("__ri"))
      }
      val mt = scan.join(broadcast(srcKeys), keys, "left_semi")
      // the density rule reads the matches twice (aggregate, DV write)
      if (rule.isInstanceOf[ByDensity]) mt.persist() else mt
    }
    try {
      // 3. the rule's split: files to rewrite (normalized, sorted) and
      // the matched rows to delete by DV
      val (rewrite, dvRows) = (rule, matched) match {
        case (_, None) => (Nil, None)
        case (_: RewriteMatched, Some(mt)) =>
          (mt.select(normalizeSql(col("__fp"))).distinct().collect()
            .map(_.getString(0)).toSeq.sorted, None)
        case (_: DvMatched, Some(mt)) => (Nil, Some(mt))
        case (ByDensity(fraction), Some(mt)) =>
          // per-file match counts and the duplicate-key check in ONE
          // aggregate: per key its match count (above 1 = a duplicate
          // target key) and a file, rolled up per file — exact whenever
          // no key repeats, and a repeat fails the check
          val byFile = mt.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("__n"),
              min(normalizeSql(col("__fp"))).as("__nfp"))
            .groupBy(col("__nfp"))
            .agg(sum(col("__n")), max(col("__n")))
            .collect()
          require(byFile.forall(_.getLong(2) <= 1L), s"$op: a source key " +
            "matches multiple live target rows — resolve duplicates first")
          val (dense, sparse) = denseSplit(spark, table, m,
            byFile.map(r => r.getString(0) -> r.getLong(1)).toMap, fraction)
          (dense, Option.when(sparse.nonEmpty)(
            mt.filter(normalizeSql(col("__fp")).isInCollection(sparse))))
      }

      // 4. preserved columns take the newest live matched row's value
      // (NULL for inserts); then the one full outer join
      val src =
        if (preserved.isEmpty) source
        else matched match {
          case None => preserved.foldLeft(source)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
          case Some(mt) => source.join(mt.groupBy(keys.map(col): _*)
            .agg(max_by(struct(preserved.map(f => col(f.name)): _*),
              struct(col("__fp"), col("__ri"))).as("__pv"))
            .select(keys.map(col) ++
              preserved.map(f => col(s"__pv.${f.name}").as(f.name)): _*),
            keys, "left")
        }
      val (deleteCond, insert) = rule match {
        case RewriteMatched(d, i) => (d, i)
        case _ => (None, true)
      }
      val dataCols = schema.fieldNames.filterNot(keys.contains).toSeq
      val tgtTagged = schema.fields.foldLeft(
        readSnapshot(spark, m, Some(rewrite)))((d, f) =>
        if (d.columns.contains(f.name)) d
        else d.withColumn(f.name, lit(null).cast(f.dataType)))
        .withColumn("__tgt", lit(1))
      val srcTagged = src
        .withColumn("__del", deleteCond.getOrElse(lit(false)))
        .withColumn("__src", lit(1))
        .select(keys.map(col) ++ dataCols.map(col) :+ col("__del") :+
          col("__src"): _*)
      val matchedDelete = col("__src").isNotNull &&
        col("__tgt").isNotNull && col("__del")
      val merged = tgtTagged.as("t")
        .join(srcTagged.as("s"), keys, "full_outer")
        .filter(!coalesce(matchedDelete, lit(false)))
        .filter(if (insert) lit(true) else col("__tgt").isNotNull)
        .select(schema.fieldNames.toSeq.map(c =>
          if (keys.contains(c)) col(c)
          else when(col("__src").isNotNull, col(s"s.$c"))
            .otherwise(col(s"t.$c")).as(c)): _*)
      val dataFiles = rule match {
        // by reference: the staged epoch files ARE the append leg —
        // stats ride the sidecar write's scan of them, partition/bucket
        // tuples recover from their __p_/bucket dirs in the commit
        case DvMatched(_, staged)
            if staged.nonEmpty && missing.isEmpty && (schema eq schema0) =>
          staged
        case _ => writeDataMaybePartitioned(merged, table, v,
          m.partitionCols, m.bucketSpec)
      }

      // 5. one commit: rewritten files leave, untouched and DV'd files
      // carry, DV and data entries append
      val dvFiles = dvRows.fold(Seq.empty[String])(ids => writeDvs(spark,
        table, v, ids.select(col("__fp").as("file_path"),
          col("__ri").as("row_index"))))
      rowLevelCommit(spark, op, table, m, removed = rewrite,
        addedData = dataFiles, addedDvs = dvFiles,
        evolveFrom = Option.when(evolveSchema)(source.schema),
        srcKeys = Some((srcKeys, keys)))
    } finally if (rule.isInstanceOf[ByDensity]) matched.foreach(_.unpersist())
  }

  /** Splits the files of `counts` (normalized path → rows of interest:
    * a merge's matched rows, a file's deleted rows) into those whose
    * count reaches `fraction` of the file's manifest row count and the
    * rest, both sorted. A file without a usable row count counts as
    * dense (conservative); `fraction` ≤ 0 makes every file dense
    * without reading the row counts. */
  private def denseSplit(spark: SparkSession, table: String, m: Manifest,
      counts: Map[String, Long], fraction: Double)
      : (Seq[String], Seq[String]) = {
    val files = counts.keys.toSeq.sorted
    if (fraction <= 0.0) return (files, Nil)
    val meta = dataFileMeta(spark, table, m, files)
    files.partition { f =>
      val rows = meta.get(normalize(f)).map(_._2).getOrElse(-1L)
      rows <= 0L || counts(f).toDouble >= fraction * rows
    }
  }

  /** The files a merge's discovery scan must read: those whose
    * per-key-column stats overlap the source's key bounds (one
    * delta-sized aggregate). A file outside every key range cannot
    * contain a matched row, so it is untouched by construction.
    * `bounds`: per-key-column (min, max) a caller already computed —
    * the merge flavors fold these into their delta-sized pre-check
    * aggregate ([[checkSourceKeys]]), so discovery pays no second
    * source pass. */
  private[operators] def mergeCandidateFiles(spark: SparkSession,
      table: String, m: Manifest, source: DataFrame,
      keys: Seq[String],
      bounds: Option[Map[String, (Any, Any)]] = None): Seq[String] = {
    val eligible = source.schema.fields
      .filter(f => keys.contains(f.name) && statsEligible(f.dataType)).toSeq
    if (eligible.isEmpty) return m.files
    val b: Map[String, (Any, Any)] = bounds.getOrElse {
      val aggs = eligible.flatMap(f =>
        Seq(min(col(f.name)), max(col(f.name))))
      val r = source.agg(aggs.head, aggs.tail: _*).head()
      eligible.zipWithIndex.map { case (f, i) =>
        f.name -> ((r.get(2 * i), r.get(2 * i + 1))) }.toMap
    }
    val conds = eligible.flatMap { f =>
      val (lo, hi) = b(f.name)
      if (lo == null || hi == null) None
      else Some(col(f.name) >= lit(lo) && col(f.name) <= lit(hi))
    }
    val ranged =
      if (conds.isEmpty) m.files
      else pruneDataFiles(spark, table, m, conds.reduce(_ && _))
    bloomMergePrune(spark, table, m, source, keys, ranged)
  }

  /** Key-count cap on the bloom discovery probe: the delta's distinct
    * key hashes broadcast at 16 B each, so a million keys is ~16 MB —
    * past that the probe costs more than it saves and discovery falls
    * back to the range-bounded scan. Spec hook (var). */
  private[graft] var bloomMergeMaxKeys: Int = 1 << 20

  /** MERGE discovery, bloom-guided: on an id-keyed table laid out by
    * ANYTHING ELSE (hash-scattered ids — the shape the bloom index
    * exists for), every file's key range overlaps the delta and the
    * range bound prunes nothing; the per-file sketches instead prove
    * most files contain NONE of the delta's keys, so the discovery
    * scan reads only the truly-touched files (+ declared-fpp noise).
    * Sound in the only direction that matters: a sketch has no false
    * negatives, so a pruned file provably holds no matching key.
    * Engages only when a merge-key column carries a declared sketch;
    * null source keys never match anything and are dropped from the
    * probe. */
  private def bloomMergePrune(spark: SparkSession, table: String,
      m: Manifest, source: DataFrame, keys: Seq[String],
      candidates: Seq[String]): Seq[String] = {
    if (m.bloomCols.isEmpty || m.bloomRels.isEmpty || candidates.isEmpty)
      return candidates
    val dataSchema = m.schema
    val declared = m.bloomCols.keys
      .flatMap(k => resolveBloomField(dataSchema, k)).map(_.name).toSet
    val fOpt = keys.flatMap(k => dataSchema.fields.find(_.name == k))
      .find(f => declared.contains(f.name) && bloomEligible(f.dataType))
    val f = fOpt.getOrElse(return candidates)
    // The sidecar sketches hashed the TARGET field's values at the
    // target type (and the coltype filter below selects exactly those
    // rows), so the probe must hash in the same domain: a source key
    // arriving at a narrower coercible type (int vs bigint target)
    // hashed as-is would probe garbage and wrongly prove touched
    // files absent. Cast to the target type when lossless
    // ([[widenOk]] direction source->target); any other mismatch
    // stands the bloom prune down — range discovery still bounds it.
    val srcType = source.schema(f.name).dataType
    if (srcType != f.dataType && !widenOk(srcType, f.dataType))
      return candidates
    val probeKey = col(f.name).cast(f.dataType)
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    def xxh(c: Column, seed: Long): Column = ColumnBridge.column(
      XxHash64(Seq(ColumnBridge.expression(c)), seed))
    val hs = source.select(probeKey.as(f.name)).na.drop().distinct()
      .select(xxh(col(f.name), graft.functions.BloomKernel.Seed1).as("h1"),
        xxh(col(f.name), graft.functions.BloomKernel.Seed2).as("h2"))
      .limit(bloomMergeMaxKeys + 1)
      .collect()
    if (hs.isEmpty || hs.length > bloomMergeMaxKeys) return candidates
    val interleaved = new Array[Long](hs.length * 2)
    var i = 0
    while (i < hs.length) {
      interleaved(2 * i) = hs(i).getLong(0)
      interleaved(2 * i + 1) = hs(i).getLong(1)
      i += 1
    }
    val bc = spark.sparkContext.broadcast(interleaved)
    val containsAny = ColumnBridge.column(
      graft.functions.BloomContainsAny(bc,
        ColumnBridge.expression(col("sketch"))))
    val evidence =
      col("col").isin(f.name +: prevNamesOf(f): _*) &&
        col("coltype") === lit(f.dataType.catalogString) && !containsAny
    bloomPrunesConsulted.incrementAndGet()
    val proven = spark.read.schema(bloomEntrySchema)
      .parquet(m.bloomRels.map(r =>
        manifestDir(table).resolve(r).toString): _*)
      .filter(evidence)
      .select("path").collect().map(r => normalize(r.getString(0))).toSet
    if (proven.isEmpty) candidates
    else candidates.filterNot(c => proven.contains(normalize(c)))
  }

  /** The compactable small tail of `m`, decided EXECUTOR-SIDE on the
    * entries sidecar — only the small files' (path, bytes) rows are
    * collected (they are what gets read and rewritten anyway); the
    * right-sized majority is never driver-materialized. Paths come
    * back normalized, hence openable. */
  private def smallTail(spark: SparkSession, table: String, m: Manifest,
      small: Long): Seq[(String, Long)] =
    entriesDF(spark, table, m)
      .filter(col("kind") === "data" && col("bytes") >= 0L &&
        col("bytes") < small)
      .select("path", "bytes").collect()
      .map(r => (normalize(r.getString(0)), r.getLong(1))).toSeq

  /** Compact the latest snapshot's small files into ~targetBytes files
    * as a NEW table version: right-sized files are carried by reference
    * (the metadata-only move [[Layout.compactSmallFiles]] documents),
    * only the small tail is read and rewritten. No-op (returns the
    * current manifest) when ≤1 small file exists. */
  def compactTable(spark: SparkSession, table: String, targetBytes: Long,
      smallThreshold: Option[Long] = None): Manifest =
    compactTail(spark, "compactTable", table, targetBytes,
        smallThreshold) { (m, tail, n, v) =>
      m.bucketSpec.filter(b => m.partitionCols.isEmpty &&
          tail.columns.contains(b._1)) match {
        case Some((c, nb)) =>
          // BUCKET-PRESERVING: the rewritten tail re-routes by the
          // declared bucket expression (one file per present bucket), so
          // compaction heals rather than degrades the SPJ layout
          writeDataBucketed(tail, table, v, c, nb)
        case None if m.partitionCols.isEmpty =>
          val out = versionDir(table, "data", v)
          Layout.compactRows(tail, n, out.toString)
          dropEmptyFiles(spark, listPartFiles(out))
        case None =>
          // PARTITION-PRESERVING: re-split the rewritten tail by its
          // partition dirs (one shuffle task per partition tuple → one
          // compacted file per partition), so the new files keep exact
          // partition tuples and pruning never degrades
          writeDataPartitioned(
            tail.repartition(n, m.partitionCols.map(col): _*),
            table, v, m.partitionCols)
      }
    }

  /** [[compactTable]] with Z-order re-clustering of the rewritten tail
    * ([[Layout.compactSmallFilesZorder]]): right-sized files are still
    * carried by reference, but the small files — which a streaming CDC
    * merge loop produces in arrival order, i.e. clustered by NOTHING —
    * come out tiling the `zCols` space, so the manifest's per-file
    * min/max stats prune box queries on any clustered dimension as the
    * table is maintained. The compaction IS the layout job; there is no
    * separate rewrite. */
  def compactTableZorder(spark: SparkSession, table: String,
      targetBytes: Long, zCols: Seq[String], bits: Int = Layout.ZBits,
      smallThreshold: Option[Long] = None): Manifest =
    compactTail(spark, "compactTableZorder", table, targetBytes,
        smallThreshold) { (_, tail, n, v) =>
      val out = versionDir(table, "data", v)
      Layout.compactRowsZorder(tail, n, out.toString, zCols, bits)
      dropEmptyFiles(spark, listPartFiles(out))
    }

  /** The body both compactions share: `writeTail(base, tail, n, v)`
    * writes the small tail's DV-applied rows as ~`n` version-`v` files
    * and returns their paths. The commit removes the tail; compaction
    * is valid iff the tail is untouched, so appends, merges of other
    * files and deletes outside the tail interleave and land. The base's
    * DVs retire when every target still live at the base is in the
    * tail (the rewrite materialized them all), so later readers skip a
    * no-op anti-join; otherwise they all carry. */
  private def compactTail(spark: SparkSession, op: String, table: String,
      targetBytes: Long, smallThreshold: Option[Long])(
      writeTail: (Manifest, DataFrame, Int, Int) => Seq[String]): Manifest = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    val smalls = smallTail(spark, table, m,
      smallThreshold.getOrElse(targetBytes / 2))
    if (smalls.size <= 1) return m
    val n = math.max(1,
      math.ceil(smalls.map(_._2).sum.toDouble / targetBytes).toInt)
    val tail = smalls.map(_._1)
    val newFiles = writeTail(m, readSnapshot(spark, m, Some(tail)), n,
      m.version + 1)
    val keptTargets = dvTargets(spark, m.dvs, m.dvRunCounts) -- tail
    val retired =
      if (entriesLiveAmong(spark, table, m, keptTargets.toSeq).isEmpty) m.dvs
      else Nil
    rowLevelCommit(spark, op, table, m, removed = tail,
      addedData = newFiles, retiredDvs = retired)
  }

  /** Delete data files and manifests unreachable from the newest
    * `keepVersions` complete snapshots; returns the deleted data files.
    * Time travel to vacuumed versions is gone by design.
    *
    * Concurrency discipline: committers write data files BEFORE
    * claiming their version, so an unreferenced file is not necessarily
    * garbage — it may belong to an in-flight commit. Files in version
    * dirs NEWER than the latest complete snapshot are therefore left
    * alone unless older than `orphanAgeMs` (a live commit finishes in
    * far less; a crashed commit's litter is reclaimed on a later
    * vacuum). Unreferenced files at or below the latest complete
    * version are provably replaced and deleted immediately. The
    * liveness test is a DataFrame anti-join of the physical listing
    * against the kept manifests' entries — and the listing itself is
    * an EXECUTOR job (one task per version/stream dir walking its
    * subtree recursively, so partitioned `__p_<c>=<v>/` layouts are
    * covered), so at 10⁶ files neither the listing nor the set algebra
    * materializes O(#files) on the driver; only the reclaimed set is
    * collected. Streaming-sink staging dirs (`<table>/stream-…`) are
    * swept too: their files are manifest-committed in place, so the
    * anti-join keeps the live ones and crashed-epoch litter ages out
    * like any young orphan (files there carry no version, so the
    * immediate-delete rule never applies to them). */
  def vacuum(spark: SparkSession, table: String, keepVersions: Int = 1,
      orphanAgeMs: Long = 20 * 60 * 1000L): Seq[String] = {
    require(keepVersions >= 1, s"vacuum must keep >= 1 version")
    // a staged branch references parent files BY PATH from whatever
    // version it forked — vacuum's live-set is computed from the
    // parent's kept manifests only, so deleting under it could break
    // the branch. Branches are short-lived staging: publish or drop
    // them, then vacuum.
    require(listBranches(table).isEmpty,
      s"vacuum $table: staged branches exist " +
        s"(${listBranches(table).mkString(", ")}) — publish or " +
        "dropBranch first")
    val versions = completeVersions(table)
    if (versions.isEmpty) return Nil
    val complete = versions.flatMap(v => parseManifest(table, v))
    val kept = complete.take(keepVersions)
    if (kept.isEmpty) return Nil
    val latestComplete = complete.map(_.version).max
    val oldestKept = kept.map(_.version).min
    val live = kept.map(m => entriesDF(spark, table, m)
        .select(col("path")))
      .reduce(_ unionByName _).distinct()
    // (dir, version) units of the listing job: O(#versions + #streams),
    // driver-small; stream staging dirs are version-less (MaxValue =>
    // age-protected only)
    val listUnits: Seq[(String, Int)] =
      Seq(Paths.get(table, "data"), Paths.get(table, "dv"))
        .filter(Files.isDirectory(_)).flatMap { root =>
          listDir(root).filter(Files.isDirectory(_)).map { vdir =>
            (vdir.toString,
              versionOfDir(vdir.getFileName.toString).getOrElse(-1))
          }
        } ++
      listDir(Paths.get(table)).filter(d => Files.isDirectory(d) &&
          d.getFileName.toString.startsWith("stream-"))
        .map(d => (d.toString, Int.MaxValue))
    if (listUnits.isEmpty) return Nil
    driverVacuumPathsListed.addAndGet(listUnits.size.toLong)
    val now = System.currentTimeMillis()
    import spark.implicits._
    // the physical walk runs on executors, one task per dir
    val listed = spark.createDataset(listUnits)
      .repartition(math.max(1, math.min(listUnits.size, 32)))
      .flatMap { case (d, ver) =>
        walkPartFilesWithMtime(d).map { case (f, t) => (f, ver, t) }
      }.toDF("raw", "ver", "mtime")
    // one normalize convention on both sides: entries written from the
    // stats scan carry decoded-URI paths while the physical listing is
    // raw — for a path containing encodable characters they'd otherwise
    // diverge and the anti-join would free live files
    val normLive = live.select(normalizeSql(col("path")).as("path"))
    // the deletes themselves run EXECUTOR-side inside the same job that
    // computes the reclaim set — at object-store scale a driver loop
    // over millions of expired files is the wall; here each task
    // deletes the files it found dead and returns their paths (delete
    // is idempotent, so a retried task simply re-confirms; files a
    // prior attempt already removed are then absent from the returned
    // set, which only ever under-reports, never double-deletes). Only
    // the reclaimed path list is collected — for the return value.
    val execDeletes = spark.sparkContext.longAccumulator("vacuumExecDeletes")
    val deleted = listed
      .withColumn("path", normalizeSql(col("raw")))
      .join(normLive, Seq("path"), "left_anti")
      .filter(col("ver") <= lit(latestComplete) ||
        col("mtime") < lit(now - orphanAgeMs))
      .select("raw").as[String]
      .mapPartitions { it =>
        it.filter { f =>
          val gone = Files.deleteIfExists(Paths.get(f))
          if (gone) execDeletes.add(1L)
          gone
        }
      }.collect().toSeq
    driverVacuumPathsListed.addAndGet(deleted.size.toLong)
    lastVacuumExecutorDeletes.set(execDeletes.value)
    // bloom sidecars are SHARED across versions (carried by reference),
    // so a dropped version's sidecar survives while any kept manifest
    // still lists it; entries sidecars are per-version and always go.
    // Identity is the RESOLVED path, not the rel string — a branch
    // publish lists parent-local rels absolute while older manifests
    // list the same dir relative
    def relId(r: String): String =
      normalize(manifestDir(table).resolve(r).toString)
    val keptBloomRels = kept.flatMap(_.bloomRels).map(relId).toSet
    versions.filter(_ < oldestKept).foreach { v =>
      // a dropped manifest's entries sidecar goes with it
      parseManifest(table, v).toSeq
        .flatMap(pm => pm.entriesRel +:
          pm.bloomRels.filterNot(r => keptBloomRels.contains(relId(r))))
        .foreach { rel =>
          val dir = manifestDir(table).resolve(rel)
          if (Files.isDirectory(dir)) {
            listDir(dir).foreach(Files.deleteIfExists(_))
            Files.deleteIfExists(dir)
          }
        }
      Files.deleteIfExists(manifestPath(table, v))
    }
    // dormant published-branch dirs (their manifest chains are gone —
    // the live-branch guard above ran): re-sweep them now that old
    // parent manifests were dropped; files compaction rewrote
    // parent-local since the publish lose their last reference here
    val branchesRoot = Paths.get(table, "branches")
    if (Files.isDirectory(branchesRoot))
      listDir(branchesRoot).filter(Files.isDirectory(_))
        .foreach(d => sweepBranchDir(table, d.getFileName.toString))
    deleted
  }

  // ------------------------------------- timestamp-based retention

  private def consumersDir(table: String): Path =
    Paths.get(table, "consumers")

  /** Record a change-feed consumer's committed high-water version AT
    * THE TABLE (atomic tmp+rename), so retention can refuse to expire
    * the manifests the consumer still needs: `tableChanges(v, v+1)`
    * requires manifests v and v+1, and a vacuumed version's feed can
    * never be rebuilt. [[CowFollowSink.catchUp]] registers
    * automatically when given a cursor id; standalone consumers call
    * this with their own id after each committed slice. */
  def registerFeedCursor(table: String, consumer: String,
      version: Int): Unit = {
    require(consumer.nonEmpty && !consumer.contains('/') &&
      !consumer.startsWith("."),
      s"registerFeedCursor: bad consumer id '$consumer'")
    val dir = consumersDir(table)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp-$consumer")
    Files.write(tmp, version.toString.getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(consumer), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Registered change-feed cursors: consumer id → committed version. */
  def feedCursors(table: String): Map[String, Int] =
    feedCursorsDetailed(table).map { case (c, (v, _)) => c -> v }

  /** Registered cursors with their last-refreshed instant — the cursor
    * file's mtime, rewritten by every [[registerFeedCursor]], so an
    * ACTIVE consumer's refresh clock advances with each committed
    * slice while a decommissioned one's freezes. Retention uses this
    * to age out abandoned cursors ([[expireSnapshots]]'
    * `maxCursorAgeMs`) instead of letting them pin every version
    * forever. */
  def feedCursorsDetailed(table: String): Map[String, (Int, Long)] = {
    val dir = consumersDir(table)
    if (!Files.isDirectory(dir)) return Map.empty
    listDir(dir).filterNot(_.getFileName.toString.startsWith("."))
      .flatMap { p =>
        scala.util.Try((
          new String(Files.readAllBytes(p), "UTF-8").trim.toInt,
          Files.getLastModifiedTime(p).toMillis)).toOption
          .map(p.getFileName.toString -> _)
      }.toMap
  }

  /** Which registered cursors BLOCK the given expiry window right now
    * — the operator signal behind a near-no-op `cow_expire`: inspect,
    * then [[dropFeedCursor]] deliberately or let `maxCursorAgeMs` age
    * the abandoned ones out. */
  def expiryBlockers(table: String, olderThanMs: Long,
      nowMs: Long = System.currentTimeMillis()): Map[String, Int] = {
    val versions = completeVersions(table)
    if (versions.isEmpty) return Map.empty
    val cutoff = nowMs - olderThanMs
    val freshOldest = versions.filter(v =>
      Files.getLastModifiedTime(manifestPath(table, v)).toMillis >= cutoff)
      .minOption.getOrElse(versions.max)
    feedCursors(table).filter { case (_, v) => v < freshOldest }
  }

  /** Deregister a consumer (a decommissioned reader must not pin
    * retention forever). */
  def dropFeedCursor(table: String, consumer: String): Unit = {
    Files.deleteIfExists(consumersDir(table).resolve(consumer))
    ()
  }

  /** TIMESTAMP-based snapshot retention — the operator-facing twin of
    * [[vacuum]]: expire every snapshot whose commit is older than
    * `olderThanMs` (commit time = the manifest file's mtime, written
    * once at the atomic claim-completing rename and never touched
    * again), EXCEPT (a) the latest complete snapshot, always, and
    * (b) every version at or above the lowest registered change-feed
    * cursor ([[registerFeedCursor]]) — a lagging consumer BLOCKS
    * expiry inside its window instead of silently losing its feed.
    * The reclamation itself is [[vacuum]]'s liveness algebra
    * (executor-side listing, anti-join against kept manifests' entries,
    * young-orphan protection), so the two surfaces cannot diverge.
    * Returns the deleted data files. */
  def expireSnapshots(spark: SparkSession, table: String,
      olderThanMs: Long, orphanAgeMs: Long = 20 * 60 * 1000L,
      nowMs: Long = System.currentTimeMillis(),
      maxCursorAgeMs: Long = Long.MaxValue): Seq[String] = {
    require(olderThanMs >= 0L, "expireSnapshots: olderThanMs must be >= 0")
    val versions = completeVersions(table) // newest first
    if (versions.isEmpty) return Nil
    val cutoff = nowMs - olderThanMs
    def mtime(v: Int): Long =
      Files.getLastModifiedTime(manifestPath(table, v)).toMillis
    val freshOldest = versions.filter(mtime(_) >= cutoff)
      .minOption.getOrElse(versions.max)
    // an ABANDONED consumer must not pin retention forever: cursors
    // whose registration file hasn't been refreshed within
    // `maxCursorAgeMs` age out of the blocking set (active consumers
    // refresh on every committed slice; [[expiryBlockers]] is the
    // inspect-before-drop signal for the rest)
    val cursorOldest = feedCursorsDetailed(table).collect {
      case (_, (v, refreshed)) if refreshed >= nowMs - maxCursorAgeMs => v
    }.minOption.getOrElse(Int.MaxValue)
    val vKeep = math.min(math.min(freshOldest, cursorOldest), versions.max)
    val keepCount = math.max(1, versions.count(_ >= vKeep))
    vacuum(spark, table, keepCount, orphanAgeMs)
  }

  /** Change data feed: the row-level delta between two committed
    * versions, classified per key as
    * `insert` / `delete` / `update_preimage` / `update_postimage`
    * (Delta CDF's vocabulary). `keys` must be a unique key in both
    * versions — the same contract MERGE already enforces.
    *
    * The diff never scans the table: the changed file set — files
    * present in exactly one manifest (rewrites, compactions, new data)
    * plus common files that gained deletion vector entries — is
    * computed by DataFrame anti-joins over the two manifests' entries,
    * so the cost is proportional to what the merges actually rewrote,
    * not to table size. Rows a rewrite carried unchanged (and
    * everything a compaction or Z-order pass moved between files)
    * compare identical under the full-outer key join and vanish from
    * the feed: layout maintenance is change-free by construction. One
    * shuffle (the key join); the pre/post branches reuse its exchange.
    *
    * This is what closes the incremental-MV loop for CoW tables: feed
    * the postimages/inserts as upserts and the deletes as tombstones
    * into [[Changelog.aggMaintain]] and a downstream aggregate follows
    * the table version-by-version without ever re-scanning it
    * (CowCdfMaintainSpec proves maintained ≡ rebuilt). */
  /** Upper bound on the changed-file paths one [[tableChanges]] slice
    * may collect driver-side. The changed set is delta-sized BY
    * CONTRACT (a CDC consumer reads commit-sized slices); the one way
    * it degenerates is a version pair spanning a table REWRITE
    * (compaction / re-clustering touches every file), where the
    * "delta" is the whole table and the right tool is a snapshot
    * read, not a diff. The cap turns that silent table-sized driver
    * collect into a loud contract error. Test hook — production
    * default holds ~hundreds of MB of slack at 10⁶ files. */
  private[graft] var maxChangedFilesPerSlice: Int = 1 << 20

  def tableChanges(spark: SparkSession, table: String, fromV: Int,
      toV: Int, keys: Seq[String]): DataFrame = {
    require(fromV < toV, s"tableChanges: need fromV < toV, got $fromV..$toV")
    val fm = readManifest(table, fromV)
    val tm = readManifest(table, toV)
    // manifest paths on both sides originate from listPartFiles, so
    // raw string equality is the anti-join key; only DV-recorded
    // identities (URIs from _metadata.file_path) need normalization
    def dataPaths(m: Manifest): DataFrame =
      entriesDF(spark, table, m).filter(col("kind") === "data").select("path")
    // crossing the cap is diagnosed, never OOM'd
    def capped(paths: Seq[String], what: String): Seq[String] =
      if (paths.length <= maxChangedFilesPerSlice) paths
      else throw new IllegalStateException(
        s"tableChanges $table v$fromV..v$toV: more than " +
          s"$maxChangedFilesPerSlice $what files changed — this " +
          "version pair spans a table rewrite (compaction/" +
          "re-clustering), not a delta; read the snapshots directly " +
          "or split the range at the rewrite version")
    // small sidecars (both sides driver-cached/affordable — the same
    // size gate as entriesDF's LocalRelation path) answer the two
    // data-file diffs with driver set algebra: ZERO jobs, where the
    // anti-join formulation paid two collect jobs PER SLICE — on a
    // replayed feed that's two jobs per micro-batch. Large sidecars
    // keep the distributed anti-joins (the 10⁶-file discipline), and
    // LIMIT cap+1 bounds their collect BEFORE it happens.
    val (remF, addF) = (smallEntries(spark, table, fm),
        smallEntries(spark, table, tm)) match {
      case (Some(fe), Some(te)) =>
        def ps(es: Seq[FileEntry]): Seq[String] =
          es.collect { case e if e.kind == "data" => e.path }
        val (fd, td) = (ps(fe), ps(te))
        (capped(fd.filterNot(td.toSet), "removed"),
          capped(td.filterNot(fd.toSet), "added"))
      case _ =>
        def changed(a: Manifest, b: Manifest, what: String): Seq[String] =
          capped(dataPaths(a).join(dataPaths(b), Seq("path"), "left_anti")
            .limit(maxChangedFilesPerSlice + 1).collect()
            .map(_.getString(0)).toSeq, what)
        (changed(fm, tm, "removed"), changed(tm, fm, "added"))
    }
    // the manifests list their DV files: the new ones are a driver diff
    val dvNew = tm.dvs.filterNot(fm.dvs.toSet)
    val dvAffected: Seq[String] =
      if (dvNew.isEmpty) Nil
      else {
        // the touched set is DV-derived (delta-sized); membership in
        // BOTH versions checks against the sidecars, so neither side's
        // full file list ever materializes
        val touched = dvTargets(spark, dvNew, tm.dvRunCounts).toSeq
        val inBoth = entriesLiveAmong(spark, table, tm, touched)
          .intersect(entriesLiveAmong(spark, table, fm, touched))
        touched.filter(inBoth.contains).sorted
      }
    // the normalized sidecar path IS the openable path
    val oldSideRaw = readSnapshot(spark, fm,
      Some((remF ++ dvAffected).map(normalize).distinct))
    val newSide0 = readSnapshot(spark, tm,
      Some((addF ++ dvAffected).map(normalize).distinct))
    // schema evolution between the versions: the feed speaks the
    // LATEST schema. The old side maps renamed columns forward through
    // the new schema's recorded prior-name chains and casts widened
    // columns up (both lossless), so a metadata-only rename/widen is
    // CHANGE-FREE — like layout maintenance — instead of a full-table
    // pre/post storm; dropped columns leave the vocabulary (rows
    // identical elsewhere net out); added columns NULL-extend on the
    // old side, so a later value-fill emits its pre/post pair.
    val renameMap: Map[String, String] = tm.schema.fields
      .flatMap(f => prevNamesOf(f).map(p => p -> f.name)).toMap
    val oldSide0 = renameMap.foldLeft(oldSideRaw) { case (d, (from, to)) =>
      if (d.columns.contains(from) && !d.columns.contains(to))
        d.withColumnRenamed(from, to)
      else d
    }
    val allCols = tm.schema.fieldNames.toSeq
    def typeOf(c: String): DataType =
      newSide0.schema.find(_.name == c).orElse(
        oldSide0.schema.find(_.name == c)).get.dataType
    def align(df: DataFrame): DataFrame = {
      val extended = allCols.foldLeft(df)((d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(typeOf(c))))
      extended.select(allCols.map(c =>
        col(c).cast(typeOf(c)).as(c)): _*)
    }
    val oldSide = align(oldSide0)
    val newSide = align(newSide0)
    require(keys.forall(oldSide.columns.contains), s"keys $keys missing")
    // a duplicated key would silently misclassify under the key join;
    // both sides are changed-file-sized, so the check is delta-priced —
    // and BOTH sides ride one union + one aggregate (one job per slice,
    // was two)
    locally {
      val k = struct(keys.map(col): _*).as("__k")
      oldSide.select(lit("from").as("__side"), k)
        .unionByName(newSide.select(lit("to").as("__side"), k))
        .groupBy(col("__side"))
        .agg(count(lit(1)).as("n"), count_distinct(col("__k")).as("d"))
        .collect().foreach { r =>
          require(r.getLong(1) == r.getLong(2),
            s"tableChanges: ${r.getString(0)} version has " +
              s"${r.getLong(1) - r.getLong(2)} duplicate keys on $keys")
        }
    }
    val dataCols = oldSide.columns.filterNot(keys.contains).toSeq

    val o = oldSide.select(keys.map(col) ++
      dataCols.map(c => col(c).as(s"__o_$c")) :+ lit(1).as("__in_o"): _*)
    val n = newSide.select(keys.map(col) ++
      dataCols.map(c => col(c).as(s"__n_$c")) :+ lit(1).as("__in_n"): _*)
    val j = o.join(n, keys, "full_outer")
    val same = dataCols.map(c => col(s"__o_$c") <=> col(s"__n_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val pre = j.filter(col("__in_o").isNotNull &&
        (col("__in_n").isNull || !same))
      .select(keys.map(col) ++ dataCols.map(c => col(s"__o_$c").as(c)) :+
        when(col("__in_n").isNull, "delete").otherwise("update_preimage")
          .as("_change_type"): _*)
    val post = j.filter(col("__in_n").isNotNull &&
        (col("__in_o").isNull || !same))
      .select(keys.map(col) ++ dataCols.map(c => col(s"__n_$c").as(c)) :+
        when(col("__in_o").isNull, "insert").otherwise("update_postimage")
          .as("_change_type"): _*)
    pre.unionByName(post)
  }

  /** Build (one snapshot scan) and register an MV of the CURRENT
    * snapshot, pinned to its exact file set: after any later merge the
    * scan's file set changes, the registration no longer matches, and
    * the rewrite stands down instead of serving a stale summary —
    * re-invoke after maintaining the MV for the new version. Sums-only
    * by default (the maintained-MV shape); pass `withMinMax = true` for
    * a rebuild-style MV that also answers min/max. */
  def registerMv(spark: SparkSession, table: String, name: String,
      groupKeys: Seq[String], measures: Seq[String], mvPath: String,
      withMinMax: Boolean = false): Manifest = {
    val m = latestManifest(table).getOrElse(throw new IllegalArgumentException(
      s"cow table $table does not exist"))
    if (m.dvs.isEmpty) {
      graft.plans.MvCatalog.buildMv(spark.read.parquet(m.files: _*),
        groupKeys, measures, mvPath, withMinMax)
      graft.plans.MvCatalog.registerFiles(spark, name, m.files,
        groupKeys, measures, mvPath)
    } else {
      // DV'd snapshot: the summary builds from the DV-APPLIED read (the
      // read path already does the work), and the registration pins the
      // DV file set alongside the data files — a later delete commits a
      // new DV file, the fingerprint changes, and the rewrite stands
      // down instead of serving a stale (or deleted-row-including)
      // summary. The rewrite serves snapshot reads (the recognized
      // DV-application plan), never raw file scans.
      graft.plans.MvCatalog.buildMv(readSnapshot(spark, m),
        groupKeys, measures, mvPath, withMinMax)
      graft.plans.MvCatalog.registerSnapshot(spark, name, m.files, m.dvs,
        groupKeys, measures, mvPath)
    }
    graft.plans.MvRewriteApi.enable(spark)
    m
  }

  // ------------------------------------------------------------- gate
  // Merge a doubled-price even-orderkey slice into a snapshot of the
  // odd-ish orders (keys % 4 != 0): exercises update (matched, status
  // not F), delete (matched source rows with status F), insert (keys
  // % 4 == 0 absent from the target), and untouched carry (odd keys
  // never in the source). The gate reads the final table content —
  // oracle is the same MERGE expressed as anti-join/join/anti-join
  // UNION ALL in DuckDB. Fresh table per invocation (UUID dir) so
  // repeated verifies never double-merge.
  private def freshGateTable(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cow/" +
      java.util.UUID.randomUUID().toString.take(8)

  private def lhMergeBuild(s: SparkSession, dir: String): String = {
    val table = freshGateTable()
    init(Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(4)) =!= 0), table)
    table
  }

  private def lhMergeOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    val source = Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    mergeInto(s, table, source, Seq("o_orderkey"),
      deleteCond = Some(col("o_orderstatus") === "F"), insert = true)
    read(s, table)
  }

  def lhMerge(s: SparkSession, dir: String): DataFrame =
    lhMergeOp(s, dir, lhMergeBuild(s, dir))

  val lhMergeSql: String =
    """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 0),
      |source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT * FROM target
      |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
      |UNION ALL
      |SELECT s.* FROM source s JOIN target t USING (o_orderkey)
      |WHERE s.o_orderstatus <> 'F'
      |UNION ALL
      |SELECT s.* FROM source s
      |WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target)""".stripMargin

  /** Gate: the COST-BASED COW/MOR HYBRID merge ([[mergeIntoHybrid]]).
    * Fixture: the 32-file NTILE stats-prune table (o_orderkey%7=1
    * pre-deleted by DV); source: a dense ~10% o_custkey interval
    * (clustered — covers a few files nearly whole) UNION the scattered
    * o_orderkey%83 stragglers, prices doubled. With threshold 0.25
    * (exactly representable, so the density comparison is
    * `matched*4 >= total` in BOTH engines) the interval's files must
    * group-rewrite and the stragglers' files must stay behind DVs —
    * the oracle re-derives the rewritten/MOR file tallies from the
    * NTILE bucket algebra and the full relational result from the
    * merge semantics, bigint-exact: one file on the wrong side of the
    * density cut, one lost update, or one dropped re-insert fails the
    * hash. */
  def lhMergeHybrid(s: SparkSession, dir: String): DataFrame =
    lhMergeHybridOp(s, dir, lhStatsPruneBuild(s, dir))

  private def lhMergeHybridOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    val source = Tables.orders(s, dir)
      .filter(($"o_custkey" >= lo && $"o_custkey" <= hi) ||
        pmod($"o_orderkey", lit(83)) === 0)
      .withColumn("o_totalprice", $"o_totalprice" * 2)
    val m0 = latestManifest(table).get
    val m1 = mergeIntoHybrid(s, table, source, Seq("o_orderkey"),
      denseFraction = 0.25)
    val keptN = m1.files.map(normalize).toSet
    val rewritten = m0.files.count(f => !keptN.contains(normalize(f)))
    val morFiles = dvTargets(s, m1.dvs.filterNot(m0.dvs.toSet),
      m1.dvRunCounts).size.toLong
    read(s, table)
      .agg(count(lit(1)).as("n"),
        count_distinct($"o_orderkey").as("n_keys"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("n_rewritten", lit(rewritten.toLong))
      .withColumn("n_mor", lit(morFiles))
  }

  // lazy: StatsPruneFiles is declared later in the object body
  lazy val lhMergeHybridSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 4 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 4 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |src AS (SELECT o_orderkey, o_custkey, o_orderstatus,
       |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
       |  FROM orders, b
       |  WHERE (o_custkey BETWEEN b.lo AND b.hi) OR o_orderkey % 83 = 0),
       |live AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 1),
       |res AS (
       |  SELECT * FROM live
       |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
       |  UNION ALL SELECT * FROM src),
       |filed AS (SELECT o_orderkey, o_custkey,
       |    NTILE($StatsPruneFiles)
       |      OVER (ORDER BY o_custkey, o_orderkey) AS f
       |  FROM orders),
       |audit AS (SELECT f, COUNT(*) AS total,
       |    SUM(CASE WHEN o_orderkey % 7 <> 1 AND (
       |        o_custkey BETWEEN (SELECT lo FROM b)
       |          AND (SELECT hi FROM b)
       |        OR o_orderkey % 83 = 0) THEN 1 ELSE 0 END) AS matched
       |  FROM filed GROUP BY f)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM res) AS n,
       |  (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM res)
       |    AS n_keys,
       |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    FROM res) AS sum_price,
       |  (SELECT CAST(SUM(CASE WHEN matched * 4 >= total THEN 1 ELSE 0
       |    END) AS BIGINT) FROM audit) AS n_rewritten,
       |  (SELECT CAST(SUM(CASE WHEN matched > 0 AND matched * 4 < total
       |    THEN 1 ELSE 0 END) AS BIGINT) FROM audit) AS n_mor""".stripMargin

  /** Gate: streaming-shaped ingest (init + an insert-only merge, each
    * half of orders by orderkey parity — the merge's full-outer output
    * partitioning leaves a genuine multi-file arrival-ordered tail);
    * [[compactTableZorder]] rewrites the whole
    * tail clustered on (o_custkey, o_orderkey). The emitted per-z-cell
    * aggregate recomputes the gate-exact Morton code from the COLUMNS at
    * read time, so it pins exact content preservation through
    * merge + z-compaction regardless of physical layout — the oracle is
    * the same aggregate straight over orders. The layout property
    * itself (contiguous z-ranges per rewritten file, pruning recovery,
    * right-sized files carried by reference) is spec-measured on the
    * real written files in CowTableSpec. */
  private def lhCompactZorderBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
    val table = freshGateTable()
    init(ord.filter(pmod($"o_orderkey", lit(2)) === 1), table)
    mergeInto(s, table, ord.filter(pmod($"o_orderkey", lit(2)) === 0),
      Seq("o_orderkey"))
    table
  }

  private def lhCompactZorderOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val sizes = latestManifest(table).get.files.map(f =>
      Files.size(Paths.get(f)))
    compactTableZorder(s, table, targetBytes = math.max(1L, sizes.sum / 2),
      zCols = Seq("o_custkey", "o_orderkey"),
      smallThreshold = Some(sizes.max + 1))
    val t = read(s, table)
    val m = t.agg(max($"o_custkey"), max($"o_orderkey")).head()
    val (mx, my) = (m.getLong(0), m.getLong(1))
    t.withColumn("zv", Layout.zValue(
        Seq(expr(s"(o_custkey * ${Layout.ZLevels}) div ${mx + 1}"),
          expr(s"(o_orderkey * ${Layout.ZLevels}) div ${my + 1}")),
        Layout.ZBits))
      .groupBy($"zv")
      .agg(count(lit(1)).as("n"),
        count_distinct($"o_custkey").as("n_cust"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
  }

  def lhCompactZorder(s: SparkSession, dir: String): DataFrame =
    lhCompactZorderOp(s, dir, lhCompactZorderBuild(s, dir))

  val lhCompactZorderSql: String = {
    val z = Layout.zValueSql(Seq("xq", "yq"), Layout.ZBits)
    s"""SELECT ($z) AS zv, COUNT(*) AS n,
       |  COUNT(DISTINCT o_custkey) AS n_cust,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    AS sum_price
       |FROM (SELECT
       |    ((o_custkey * ${Layout.ZLevels}) //
       |      (SELECT MAX(o_custkey) + 1 FROM orders)) AS xq,
       |    ((o_orderkey * ${Layout.ZLevels}) //
       |      (SELECT MAX(o_orderkey) + 1 FROM orders)) AS yq,
       |    o_custkey, o_totalprice
       |  FROM orders) q
       |GROUP BY 1""".stripMargin
  }

  /** Gate: two stacked merge-on-read deletes (different predicates, so
    * the second DV accumulates on top of the first and overlapping row
    * identities are deduplicated) against a snapshot of orders, read
    * back through the DV-applying reader and aggregated per status —
    * the oracle is the same aggregate over orders with both delete
    * predicates negated. That no data file was touched, the DV-file
    * mechanics, and rewriteDeletes equivalence are spec-pinned on real
    * files in CowTableSpec. */
  private def lhDeleteVectorsBuild(s: SparkSession, dir: String): String = {
    val table = freshGateTable()
    init(Tables.orders(s, dir), table)
    table
  }

  private def lhDeleteVectorsOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    deleteWhere(s, table, col("o_orderstatus") === "F" &&
      pmod(col("o_orderkey"), lit(10)) === 3)
    deleteWhere(s, table, pmod(col("o_custkey"), lit(97)) === 5)
    read(s, table).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        count_distinct(col("o_custkey")).as("n_cust"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
  }

  def lhDeleteVectors(s: SparkSession, dir: String): DataFrame =
    lhDeleteVectorsOp(s, dir, lhDeleteVectorsBuild(s, dir))

  val lhDeleteVectorsSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  COUNT(DISTINCT o_custkey) AS n_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 3)
      |  AND NOT (o_custkey % 97 = 5)
      |GROUP BY 1""".stripMargin

  /** Gate: the change feed across a MERGE (v0→v1, the lh_merge
    * construction) followed by a merge-on-read DELETE (v1→v2), read as
    * one v0→v2 diff. The oracle rebuilds the same classification
    * relationally: deletes are target keys absent from the final state,
    * inserts are final keys absent from the target, and matched keys
    * whose row content differs emit a pre/post image pair. Only
    * o_totalprice can differ for a matched key (the update rewrites it;
    * every other column rides along from the same orders row), so the
    * oracle's difference test is that single column in both engines. */
  private def lhChangesBuild(s: SparkSession, dir: String): String = {
    val table = lhMergeBuild(s, dir)
    lhMergeOp(s, dir, table)
    deleteWhere(s, table, pmod(col("o_custkey"), lit(5)) === 2)
    table
  }

  def lhChanges(s: SparkSession, dir: String): DataFrame =
    tableChanges(s, lhChangesBuild(s, dir), 0, 2, Seq("o_orderkey"))

  /** Gate: the SAME v0→v2 diff delivered through the DSv2 STREAMING
    * source ([[graft.streaming.CowFeedProvider]]) — a real micro-batch
    * replay into the memory sink, offsets = table versions, the batch
    * staged and read back through the source's own machinery. Shares
    * lh_changes' relational oracle, pinning that the streaming feed and
    * the batch API deliver identical change sets. */
  def lhChangesStream(s: SparkSession, dir: String): DataFrame =
    lhChangesStreamOp(s, dir, lhChangesBuild(s, dir))

  private def lhChangesStreamOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    val ckpt = Files.createTempDirectory("graft_feed_gate").toString
    val name = "lh_changes_stream_" +
      java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    // per-slice diff joins run at the stream's frozen partition count:
    // size it from the replayed table's bytes (clamped no-op at scale)
    val q = graft.streaming.StreamTune.withAdaptivePartitions(s,
      graft.streaming.StreamTune.dirBytes(Paths.get(table))) {
      s.readStream.format("graft.streaming.CowFeedProvider")
        .option("table", table).option("keys", "o_orderkey").load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
    }
    try q.processAllAvailable() finally q.stop()
    s.table(name).drop("_commit_version")
  }

  val lhChangesSql: String =
    """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 0),
      |source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT * FROM target
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
      |  UNION ALL
      |  SELECT s.* FROM source s JOIN target t USING (o_orderkey)
      |  WHERE s.o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT s.* FROM source s
      |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target)),
      |final AS (SELECT * FROM merged WHERE o_custkey % 5 <> 2)
      |SELECT t.*, 'delete' AS _change_type FROM target t
      |WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM final)
      |UNION ALL
      |SELECT f.*, 'insert' FROM final f
      |WHERE f.o_orderkey NOT IN (SELECT o_orderkey FROM target)
      |UNION ALL
      |SELECT t.*, 'update_preimage'
      |FROM target t JOIN final f USING (o_orderkey)
      |WHERE t.o_totalprice <> f.o_totalprice
      |UNION ALL
      |SELECT f.*, 'update_postimage'
      |FROM final f JOIN target t USING (o_orderkey)
      |WHERE t.o_totalprice <> f.o_totalprice""".stripMargin

  /** Fixture for the evolution-spanning change feed: v0 init (with an
    * INT `o_flag` column so the widen leg is exercised), v1 merge
    * (updates + deletes + inserts), v2 `alterTable` (rename
    * o_orderpriority→o_priority, widen o_flag int→bigint, add o_note)
    * — metadata-only, change-FREE in the feed — and v3 a
    * merge-on-read delete. */
  private def lhChangesEvolveBuild(s: SparkSession, dir: String): String = {
    val table = freshGateTable()
    def withFlag(df: DataFrame): DataFrame =
      df.withColumn("o_flag", pmod(col("o_orderkey"), lit(100)).cast("int"))
    init(withFlag(Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(4)) =!= 0)), table)
    val source = withFlag(Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2))
    mergeInto(s, table, source, Seq("o_orderkey"),
      deleteCond = Some(col("o_orderstatus") === "F"), insert = true)
    alterTable(s, table,
      renames = Map("o_orderpriority" -> "o_priority"),
      widens = Map("o_flag" -> LongType),
      adds = Seq(("o_note", StringType)))
    deleteWhere(s, table, pmod(col("o_custkey"), lit(5)) === 2)
    table
  }

  /** Gate: change-feed REPLAY ACROSS A SCHEMA-EVOLUTION BOUNDARY — the
    * streaming CDF consumer starts against the EVOLVED table and
    * replays from v0 with `maxVersionsPerBatch=1`, so every slice is
    * one version pair staged under ITS OWN schema vintage: the v0→v1
    * slice speaks the pre-alter schema and must rename forward,
    * up-cast the widened column, and NULL-extend the added one
    * ([[alignFeedSlice]]); the v1→v2 slice IS the alter and must be
    * change-free (metadata-only evolution, like layout maintenance);
    * the v2→v3 slice already speaks the evolved schema. The output
    * keeps `_commit_version`, so the oracle pins not just the change
    * set but WHICH version each change replayed from. */
  def lhChangesEvolve(s: SparkSession, dir: String): DataFrame =
    lhChangesEvolveOp(s, dir, lhChangesEvolveBuild(s, dir))

  private def lhChangesEvolveOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    val ckpt = Files.createTempDirectory("graft_feed_evolve").toString
    val name = "lh_changes_evolve_" +
      java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    val q = graft.streaming.StreamTune.withAdaptivePartitions(s,
      graft.streaming.StreamTune.dirBytes(Paths.get(table))) {
      s.readStream.format("graft.streaming.CowFeedProvider")
        .option("table", table).option("keys", "o_orderkey")
        .option("maxVersionsPerBatch", "1").load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
    }
    try q.processAllAvailable() finally q.stop()
    s.table(name)
  }

  val lhChangesEvolveSql: String =
    """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice, o_orderdate, o_orderpriority,
      |    CAST(o_orderkey % 100 AS INT) AS o_flag FROM orders),
      |target AS (SELECT * FROM base WHERE o_orderkey % 4 <> 0),
      |source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority,
      |    o_flag
      |  FROM base WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT * FROM target
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
      |  UNION ALL
      |  SELECT s.* FROM source s JOIN target t USING (o_orderkey)
      |  WHERE s.o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT s.* FROM source s
      |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target))
      |SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice,
      |  t.o_orderdate, t.o_orderpriority AS o_priority,
      |  CAST(t.o_flag AS BIGINT) AS o_flag, CAST(NULL AS VARCHAR) AS o_note,
      |  'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
      |FROM target t JOIN source s USING (o_orderkey)
      |WHERE s.o_orderstatus = 'F'
      |UNION ALL
      |SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
      |  s.o_orderdate, s.o_orderpriority, CAST(s.o_flag AS BIGINT),
      |  CAST(NULL AS VARCHAR), 'insert', CAST(1 AS BIGINT)
      |FROM source s
      |WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target)
      |UNION ALL
      |SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice,
      |  t.o_orderdate, t.o_orderpriority, CAST(t.o_flag AS BIGINT),
      |  CAST(NULL AS VARCHAR), 'update_preimage', CAST(1 AS BIGINT)
      |FROM target t JOIN source s USING (o_orderkey)
      |WHERE s.o_orderstatus <> 'F' AND t.o_totalprice <> s.o_totalprice
      |UNION ALL
      |SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
      |  s.o_orderdate, s.o_orderpriority, CAST(s.o_flag AS BIGINT),
      |  CAST(NULL AS VARCHAR), 'update_postimage', CAST(1 AS BIGINT)
      |FROM source s JOIN target t USING (o_orderkey)
      |WHERE s.o_orderstatus <> 'F' AND t.o_totalprice <> s.o_totalprice
      |UNION ALL
      |SELECT m.o_orderkey, m.o_custkey, m.o_orderstatus, m.o_totalprice,
      |  m.o_orderdate, m.o_orderpriority, CAST(m.o_flag AS BIGINT),
      |  CAST(NULL AS VARCHAR), 'delete', CAST(3 AS BIGINT)
      |FROM merged m WHERE m.o_custkey % 5 = 2""".stripMargin

  /** Files for the stats-pruning gate: a 32-file layout keyed by exact
    * NTILE over (o_custkey, o_orderkey) — each file IS one ntile
    * bucket, so the per-file custkey min/max (and therefore the set of
    * files an interval predicate must read) is reproducible in DuckDB
    * with the same window function. Production tables get equivalent
    * locality from [[compactTableZorder]]; NTILE is gate-only
    * oracle-ability, as in [[Layout.scZorderPrune]]. */
  val StatsPruneFiles = 32

  /** Gate: REAL manifest-stats data skipping end-to-end. Build a CoW
    * table of orders clustered by custkey (32 one-bucket files), stack
    * a merge-on-read DELETE on top, then answer an interval query
    * through [[readWhere]] — files that cannot contain the interval
    * never reach the scan, DV entries still apply to the files that do.
    * The emitted row carries the aggregate AND the planned/total file
    * counts; the oracle recomputes the aggregate from orders and the
    * planned count from the same NTILE bucket min/max intersection —
    * bigint-exact, so the gate fails if the pruner reads one file too
    * many or too few. */
  private def lhStatsPruneBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val table = freshGateTable()
    // distributed NTILE: identical bucket assignment (the order is a
    // total order), no single-partition WindowExec (guide §2)
    val filed = GlobalNtile.withBucket(Tables.orders(s, dir), "__f",
      StatsPruneFiles, Seq($"o_custkey", $"o_orderkey"))
    initFiled(filed, table, "__f", StatsPruneFiles)
    deleteWhere(s, table, pmod($"o_orderkey", lit(7)) === 1)
    table
  }

  private def lhStatsPruneOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10) // ~10% custkey interval
    val cond = $"o_custkey" >= lo && $"o_custkey" <= hi
    val (planned, total) = pruneReport(s, table, cond)
    readWhere(s, table, cond)
      .agg(count(lit(1)).as("n"),
        count_distinct($"o_custkey").as("n_cust"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("planned_files", lit(planned.toLong))
      .withColumn("total_files", lit(total.toLong))
  }

  def lhStatsPrune(s: SparkSession, dir: String): DataFrame =
    lhStatsPruneOp(s, dir, lhStatsPruneBuild(s, dir))

  /** Gate: the change-feed STREAMING SOURCE composed with a
    * PARTITIONED table — the lh_stream_part discipline on the source
    * side. A status-partitioned table takes (v1) a DV delete scoped to
    * partition F and (v2) a merge scoped to partition P; the feed
    * replays through the real `MicroBatchStream` and the gate pins,
    * bigint-exact: the delete's candidate scan planned exactly the F
    * partition's file count (partition pruning on the write path),
    * every file the merge rewrote carries partition tuple P (the slice
    * staging is partition-bounded, not table-bounded), and the
    * partition-pruned CONSUMER (`WHERE o_orderstatus='F'`) sees the
    * delete epoch's rows and NOTHING from the P-scoped merge. */
  def lhFeedPart(s: SparkSession, dir: String): DataFrame =
    lhFeedPartOp(s, dir, lhFeedPartBuild(s, dir))

  /** Fixture half (bench-split): the partitioned table + the two
    * committed versions the feed will replay. */
  private def lhFeedPartBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val t = freshGateTable()
    initPartitioned(Tables.orders(s, dir).coalesce(1), t,
      Seq("o_orderstatus"))
    deleteWhere(s, t,
      $"o_orderstatus" === "F" && pmod($"o_orderkey", lit(5)) === 0) // v1
    val srcP = Tables.orders(s, dir).filter($"o_orderstatus" === "P")
      .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
    mergeInto(s, t, srcP, Seq("o_orderkey")) // v2 — touches P files only
    t
  }

  private def lhFeedPartOp(s: SparkSession, dir: String,
      t: String): DataFrame = {
    import s.implicits._
    // the delete's candidate-scan plan, measured against the PRE-delete
    // snapshot (v0) — metadata-only either way, so it rides the op half
    val m0 = readManifest(t, 0)
    val plannedF =
      pruneDataFiles(s, t, m0, $"o_orderstatus" === "F").size
    val totalF = m0.files.size
    // every file the merge replaced must carry partition tuple P
    val m1 = readManifest(t, 1)
    val m2 = readManifest(t, 2)
    val m2N = m2.files.map(normalize).toSet
    val removedN = m1.files.map(normalize).filterNot(m2N.contains)
    val nonP =
      if (removedN.isEmpty) 0L
      else entriesDF(s, t, m1).filter(col("kind") === "data" &&
        normalizeSql(col("path")).isInCollection(removedN) &&
        !coalesce(col("part"), lit(""))
          .contains("\"o_orderstatus\":\"P\"")).count()
    val ckpt = Files.createTempDirectory("graft_feed_part").toString
    val name = "lh_feed_part_" +
      java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    val q = graft.streaming.StreamTune.withAdaptivePartitions(s,
      graft.streaming.StreamTune.dirBytes(Paths.get(t))) {
      s.readStream.format("graft.streaming.CowFeedProvider")
        .option("table", t).option("keys", "o_orderkey").load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
    }
    try q.processAllAvailable() finally q.stop()
    val feed = s.table(name)
    val fSide = feed.filter($"o_orderstatus" === "F") // pruned consumer
    val pSide = feed.filter($"o_orderstatus" === "P")
    fSide.agg(
        sum(when($"_change_type" === "delete", 1L).otherwise(0L))
          .as("n_f_delete"),
        sum(when($"_change_type" =!= "delete", 1L).otherwise(0L))
          .as("n_f_other"))
      .crossJoin(pSide.agg(
        sum(when($"_change_type" === "update_preimage", 1L).otherwise(0L))
          .as("n_p_pre"),
        sum(when($"_change_type" === "update_postimage", 1L).otherwise(0L))
          .as("n_p_post")))
      .withColumn("n_nonp_rewritten", lit(nonP))
      .withColumn("planned_files_f", lit(plannedF.toLong))
      .withColumn("total_files", lit(totalF.toLong))
  }

  val lhFeedPartSql: String =
    """SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
      |   WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0) AS n_f_delete,
      |  CAST(0 AS BIGINT) AS n_f_other,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
      |   WHERE o_orderstatus = 'P') AS n_p_pre,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
      |   WHERE o_orderstatus = 'P') AS n_p_post,
      |  CAST(0 AS BIGINT) AS n_nonp_rewritten,
      |  CAST(1 AS BIGINT) AS planned_files_f,
      |  (SELECT CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
      |   FROM orders) AS total_files""".stripMargin

  /** Gate: in-place SCHEMA EVOLUTION through MERGE. The lh_merge
    * construction (update / delete / insert / carry), but the source
    * carries a NEW column (`o_flag` = orderkey mod 3): the merge
    * commits a schema-versioned manifest, rewritten rows carry the
    * value, untouched files are NOT rewritten — their rows NULL-extend
    * at read time through the manifest schema — and a stacked
    * merge-on-read DELETE proves DVs survive the evolution. The oracle
    * rebuilds the same final state relationally with CAST(NULL AS
    * BIGINT) for pre-evolution rows. */
  def lhEvolve(s: SparkSession, dir: String): DataFrame = {
    val table = lhMergeBuild(s, dir) // odd-ish orders (keys % 4 != 0)
    val source = Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("o_flag", pmod(col("o_orderkey"), lit(3)))
    mergeInto(s, table, source, Seq("o_orderkey"),
      deleteCond = Some(col("o_orderstatus") === "F"), insert = true,
      evolveSchema = true)
    deleteWhere(s, table, pmod(col("o_custkey"), lit(11)) === 2)
    read(s, table)
  }

  val lhEvolveSql: String =
    """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 0),
      |source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority,
      |    o_orderkey % 3 AS o_flag
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT t.*, CAST(NULL AS BIGINT) AS o_flag FROM target t
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
      |  UNION ALL
      |  SELECT s.* FROM source s JOIN target t USING (o_orderkey)
      |  WHERE s.o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT s.* FROM source s
      |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target))
      |SELECT * FROM merged WHERE o_custkey % 11 <> 2""".stripMargin

  /** Gate: STABLE-COLUMN-ID schema evolution v2 ([[alterTable]]) —
    * rename + int→bigint widen + drop as ONE metadata-only commit over
    * the 32-file NTILE fixture, composed with a PRE-evolution DV
    * delete, a POST-evolution MERGE (update/insert, values exceeding
    * int range to prove physical widening), and a POST-evolution DV
    * delete predicated on the RENAMED column (must hit pre-evolution
    * files through the prior-name resolution). `planned_files` is the
    * stats-prune count on the renamed column taken right after the
    * alter — old sidecar stats keyed by the historical name must still
    * prune exactly (the oracle re-derives the count from the same
    * NTILE bucket algebra) — and the full final rows hash against the
    * relational oracle with pre/post-evolution rows mixed. */
  def lhEvolve2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = freshGateTable()
    val filed = GlobalNtile.withBucket(
      Tables.orders(s, dir)
        .withColumn("o_qty", pmod($"o_orderkey", lit(1000L)).cast("int")),
      "__f", StatsPruneFiles, Seq($"o_custkey", $"o_orderkey"))
    initFiled(filed, table, "__f", StatsPruneFiles)
    deleteWhere(s, table, pmod($"o_orderkey", lit(7)) === 1) // pre-evo DV
    alterTable(s, table,
      renames = Map("o_custkey" -> "o_cust"),
      drops = Seq("o_orderpriority"),
      widens = Map("o_qty" -> LongType))
    // stats pruning on the RENAMED column, old sidecar keys folded —
    // taken before the merge so the file layout is still the oracle-
    // reproducible NTILE bucketing
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    val (planned, total) = pruneReport(s, table,
      $"o_cust" >= lo && $"o_cust" <= hi)
    val source = Tables.orders(s, dir)
      .filter(pmod($"o_orderkey", lit(5)) === 0)
      .select($"o_orderkey", $"o_custkey".as("o_cust"), $"o_orderstatus",
        ($"o_totalprice" * 2).as("o_totalprice"), $"o_orderdate",
        (pmod($"o_orderkey", lit(1000L)) + 3000000000L).as("o_qty"))
    mergeInto(s, table, source, Seq("o_orderkey"))
    deleteWhere(s, table, pmod($"o_cust", lit(11)) === 2) // post-evo DV
    read(s, table)
      .withColumn("planned_files", lit(planned.toLong))
      .withColumn("total_files", lit(total.toLong))
  }

  val lhEvolve2Sql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 4 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 4 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |f AS (SELECT o_custkey,
       |    NTILE($StatsPruneFiles) OVER (ORDER BY o_custkey, o_orderkey)
       |      AS fid
       |  FROM orders),
       |st AS (SELECT fid, MIN(o_custkey) AS mn, MAX(o_custkey) AS mx
       |  FROM f GROUP BY 1),
       |planned AS (SELECT COUNT(*) AS c FROM st, b
       |  WHERE mn <= b.hi AND mx >= b.lo),
       |tgt AS (SELECT o_orderkey, o_custkey AS o_cust, o_orderstatus,
       |    o_totalprice, o_orderdate,
       |    CAST(o_orderkey % 1000 AS BIGINT) AS o_qty
       |  FROM orders WHERE o_orderkey % 7 <> 1),
       |src AS (SELECT o_orderkey, o_custkey AS o_cust, o_orderstatus,
       |    o_totalprice * 2 AS o_totalprice, o_orderdate,
       |    o_orderkey % 1000 + 3000000000 AS o_qty
       |  FROM orders WHERE o_orderkey % 5 = 0),
       |merged AS (
       |  SELECT * FROM tgt
       |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
       |  UNION ALL
       |  SELECT * FROM src)
       |SELECT m.*, (SELECT c FROM planned) AS planned_files,
       |  CAST($StatsPruneFiles AS BIGINT) AS total_files
       |FROM merged m WHERE o_cust % 11 <> 2""".stripMargin

  /** Gate: the OPTIMIZER-RULE form of data skipping
    * ([[graft.plans.CowSkipRule]]) end-to-end — the query is a PLAIN
    * `read().filter(interval)`, no readWhere call anywhere; Catalyst
    * re-plans the scan over the surviving files and the gate reads the
    * planned file count off the OPTIMIZED PLAN itself. Same fixture
    * and same bigint-exact NTILE oracle as lh_stats_prune, so the two
    * gates pin that the manual API and the transparent rule make
    * identical skipping decisions. */
  def lhSkipRule(s: SparkSession, dir: String): DataFrame =
    lhSkipRuleOp(s, dir, lhStatsPruneBuild(s, dir))

  private def lhSkipRuleOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    graft.plans.CowSkipApi.enable(s)
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    val q = read(s, table)
      .filter($"o_custkey" >= lo && $"o_custkey" <= hi)
    val planned = q.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.count(_.contains("/data/"))
    q.agg(count(lit(1)).as("n"),
        count_distinct($"o_custkey").as("n_cust"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("planned_files", lit(planned.toLong))
      .withColumn("total_files", lit(StatsPruneFiles.toLong))
  }

  /** Gate: the SQL surface end-to-end — `FROM cow_read('$table')` with
    * a plain WHERE, over the stats-pruning fixture (DV delete
    * included). Registered TVF resolves to the DV-applied snapshot; the
    * aggregate must match the relational oracle exactly. */
  def lhSqlRead(s: SparkSession, dir: String): DataFrame =
    lhSqlReadOp(s, dir, lhStatsPruneBuild(s, dir))

  private def lhSqlReadOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    s.sql(
      s"""SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_price
         |FROM cow_read('$table')
         |WHERE o_custkey BETWEEN $lo AND $hi""".stripMargin)
  }

  /** Gate: the SQL WRITE surface end-to-end — the lh_merge construction
    * driven entirely from SQL: `CALL graft.cow_merge(...)` (the DSv2
    * stored-procedure catalog, [[graft.plans.GraftCatalog]]) performs
    * the merge, `FROM cow_read(...)` reads the result — no Scala API in
    * the op path. Same relational MERGE oracle as lh_merge, so the SQL
    * and Scala surfaces are pinned to identical semantics. */
  def lhSqlMerge(s: SparkSession, dir: String): DataFrame =
    lhSqlMergeOp(s, dir, lhMergeBuild(s, dir))

  private def lhSqlMergeOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    graft.functions.GraftFunctions.register(s)
    Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .createOrReplaceTempView("lh_sql_merge_src")
    s.sql(s"CALL graft.cow_merge(table => '$table', " +
      "source => 'lh_sql_merge_src', keys => 'o_orderkey', " +
      "delete_cond => 'o_orderstatus = ''F''')").collect()
    s.sql(s"SELECT * FROM cow_read('$table')")
  }

  /** Gate: the `MERGE INTO` *statement* through the DSv2 row-level
    * operation stack ([[graft.plans.CowDsv2Table]] — group-based
    * copy-on-write, runtime group filtering, executor-side parquet
    * writes, one replacing manifest commit), reading back through the
    * same catalog. Pinned to the SAME relational MERGE oracle as
    * lh_merge and lh_sql_merge, so all three merge surfaces — Scala
    * API, CALL procedure, SQL statement — share one semantics. */
  def lhMergeStmt(s: SparkSession, dir: String): DataFrame =
    lhMergeStmtOp(s, dir, lhMergeBuild(s, dir))

  private def lhMergeStmtOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .createOrReplaceTempView("lh_merge_stmt_src")
    s.sql(
      s"""MERGE INTO graft.`$table` t
         |USING lh_merge_stmt_src s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND s.o_orderstatus = 'F' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    s.sql(s"SELECT * FROM graft.`$table`")
  }

  /** Gate: `MERGE WITH SCHEMA EVOLUTION` — the SQL statement evolves
    * the target INSIDE the merge (the single most common evolution
    * trigger in CDC ingestion: the source adds a field and every
    * downstream merge absorbs it). The analyzer hands the source-only
    * column to [[graft.plans.GraftCatalog.alterTable]] as an AddColumn
    * change (one metadata-only commit, stable-id discipline, old files
    * untouched — their rows NULL-extend at scan), then plans the
    * row-level MERGE against the evolved schema, so `UPDATE SET *` /
    * `INSERT *` re-expand to carry the new column. Same relational
    * oracle family as lh_merge/lh_evolve: full mixed-vintage rows with
    * CAST(NULL AS BIGINT) for pre-evolution rows. */
  def lhMergeEvolve(s: SparkSession, dir: String): DataFrame =
    lhMergeEvolveOp(s, dir, lhMergeBuild(s, dir))

  private def lhMergeEvolveOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("o_flag", pmod(col("o_orderkey"), lit(3)))
      .createOrReplaceTempView("lh_merge_evolve_src")
    s.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$table` t
         |USING lh_merge_evolve_src s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND s.o_orderstatus = 'F' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    s.sql(s"SELECT * FROM graft.`$table`")
  }

  val lhMergeEvolveSql: String =
    """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 0),
      |source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority,
      |    o_orderkey % 3 AS o_flag
      |  FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT t.*, CAST(NULL AS BIGINT) AS o_flag FROM target t
      |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
      |UNION ALL
      |SELECT s.* FROM source s JOIN target t USING (o_orderkey)
      |WHERE s.o_orderstatus <> 'F'
      |UNION ALL
      |SELECT s.* FROM source s
      |WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target)""".stripMargin

  /** Gate: WRITE-AUDIT-PUBLISH over branch refs ([[createBranch]] /
    * [[publishBranch]] / [[dropBranch]]) — how a real pipeline keeps
    * bad data out of `main`. A BAD batch (negated prices) stages on a
    * branch; the audit ([[DataQuality.audit]]'s one-pass range check)
    * counts its violations ON THE BRANCH while the parent stays
    * oracle-identical to its pre-write state (row count + exact
    * decimal price sum); the branch drops without trace. A GOOD batch
    * stages on a second branch, audits clean, and publishes as ONE
    * atomic parent version (delta pinned = 1) whose full state matches
    * the relational MERGE oracle. Branch forks are metadata-only —
    * no data byte copies at any step except the batches' own files. */
  def lhWap(s: SparkSession, dir: String): DataFrame =
    lhWapOp(s, dir, lhMergeBuild(s, dir))

  private def lhWapOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val orders = Tables.orders(s, dir)
    def priceAudit(df: DataFrame): Long =
      DataQuality.audit(df, Seq(
          DataQuality.DqInRange("o_totalprice", 0.0, 1e9)))
        .select("violations").head().getLong(0)
    def mainSig(): (Long, Double) = {
      val r = read(s, table).agg(count(lit(1)).as("n"),
        coalesce(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast("double"), lit(0.0)).as("sp")).head()
      (r.getLong(0), r.getDouble(1))
    }
    val vBase = latestManifest(table).get.version
    // WRITE (bad): negated prices, staged on a branch
    val bad = createBranch(s, table, "bad_batch")
    mergeInto(s, bad, orders
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", -col("o_totalprice")), Seq("o_orderkey"))
    // AUDIT on the branch; REJECT
    val badViolations = priceAudit(read(s, bad))
    dropBranch(s, table, "bad_batch")
    val (nAfterReject, spAfterReject) = mainSig()
    // WRITE (good) + AUDIT + PUBLISH
    val good = createBranch(s, table, "good_batch")
    mergeInto(s, good, orders
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2),
      Seq("o_orderkey"),
      deleteCond = Some(col("o_orderstatus") === "F"))
    val goodViolations = priceAudit(read(s, good))
    require(goodViolations == 0L, "good batch failed its audit")
    val published = publishBranch(s, table, "good_batch")
    dropBranch(s, table, "good_batch")
    val (nAfterPublish, spAfterPublish) = mainSig()
    import s.implicits._
    Seq((badViolations, nAfterReject, spAfterReject, goodViolations,
        (published.version - vBase).toLong, nAfterPublish, spAfterPublish))
      .toDF("bad_violations", "main_rows_after_reject",
        "main_price_after_reject", "good_violations",
        "publish_version_delta", "main_rows_after_publish",
        "main_price_after_publish")
  }

  val lhWapSql: String =
    """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 0),
      |source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT * FROM target
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
      |  UNION ALL
      |  SELECT s.* FROM source s JOIN target t USING (o_orderkey)
      |  WHERE s.o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT s.* FROM source s
      |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM target))
      |SELECT
      |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0)
      |    AS bad_violations,
      |  (SELECT COUNT(*) FROM target) AS main_rows_after_reject,
      |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    FROM target) AS main_price_after_reject,
      |  CAST(0 AS BIGINT) AS good_violations,
      |  CAST(1 AS BIGINT) AS publish_version_delta,
      |  (SELECT COUNT(*) FROM merged) AS main_rows_after_publish,
      |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    FROM merged) AS main_price_after_publish""".stripMargin

  /** Gate: the same `MERGE INTO` statement in MERGE-ON-READ mode
    * ([[graft.plans.CowDsv2]]'s `SupportsDelta` path): deletes and
    * update-retractions land as deletion vectors, new row images append
    * — NO base data file is rewritten, write cost O(delta). The gate
    * asserts the MOR discipline structurally (every base file carried,
    * DVs written) and pins the result to the SAME relational oracle as
    * lh_merge / lh_sql_merge / lh_merge_stmt, so all four merge
    * surfaces share one semantics. */
  def lhMergeMor(s: SparkSession, dir: String): DataFrame =
    lhMergeMorOp(s, dir, lhMergeBuild(s, dir))

  private def lhMergeMorOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    s.conf.set(graft.plans.CowDsv2.MorModeConf, "mor")
    try {
      val before = latestManifest(table).get
      Tables.orders(s, dir)
        .filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .createOrReplaceTempView("lh_merge_mor_src")
      s.sql(
        s"""MERGE INTO graft.`$table` t
           |USING lh_merge_mor_src s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s.o_orderstatus = 'F' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      val after = latestManifest(table).get
      require(before.files.map(normalize).toSet.subsetOf(
        after.files.map(normalize).toSet),
        "merge-on-read MERGE must carry every base data file")
      require(after.dvs.size > before.dvs.size,
        "merge-on-read MERGE must write deletion vectors")
      s.sql(s"SELECT * FROM graft.`$table`")
    } finally s.conf.set(graft.plans.CowDsv2.MorModeConf, "cow")
  }

  /** Gate: a MAINTENANCE query driven entirely from SQL metadata
    * columns — the `_file` column of the unified `cow_read` scan
    * ([[graft.plans.CowSqlFunction]] → [[graft.plans.CowDsv2Table]]).
    * Fixture: the 32-file NTILE stats-prune table, a uniform
    * merge-on-read delete (orderkey % 7 = 1), then a SKEWED one (a ~10%
    * custkey interval, even orderkeys) stacked in the op — so dead-row
    * density varies per file. The query derives per-file live counts
    * from the latest snapshot, per-file total counts from `cow_read(t,
    * 0)` time travel (DV commits carry data files, so `_file` values
    * align across versions), and classifies files with >30% dead rows
    * as rewrite candidates — the report a table maintainer feeds into
    * [[rewriteDeletes]]/[[compactTable]] scheduling, no Scala API and
    * no manifest introspection anywhere. The oracle re-derives every
    * column from the same NTILE bucket algebra, bigint-exact: one file
    * misclassified or one dead row miscounted fails the gate. */
  def lhFileAudit(s: SparkSession, dir: String): DataFrame =
    lhFileAuditOp(s, dir, lhStatsPruneBuild(s, dir))

  private def lhFileAuditOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 2, mx / 2 + mx / 10)
    deleteWhere(s, table, $"o_custkey" >= lo && $"o_custkey" <= hi &&
      pmod($"o_orderkey", lit(2)) === 0)
    s.sql(
      s"""WITH live AS (SELECT _file, COUNT(*) AS live_rows
         |    FROM cow_read('$table') GROUP BY _file),
         |  total AS (SELECT _file, COUNT(*) AS total_rows
         |    FROM cow_read('$table', 0) GROUP BY _file),
         |  audit AS (SELECT t.total_rows,
         |      COALESCE(l.live_rows, 0) AS live_rows
         |    FROM total t LEFT JOIN live l ON t._file = l._file)
         |SELECT COUNT(*) AS n_files,
         |  CAST(SUM(total_rows) AS BIGINT) AS total_rows,
         |  CAST(SUM(live_rows) AS BIGINT) AS live_rows,
         |  CAST(SUM(CASE WHEN live_rows * 10 < total_rows * 7
         |    THEN 1 ELSE 0 END) AS BIGINT) AS rewrite_candidates,
         |  CAST(MAX(total_rows - live_rows) AS BIGINT) AS max_dead
         |FROM audit""".stripMargin)
  }

  val lhFileAuditSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 2 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 2 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |filed AS (SELECT o_orderkey, o_custkey,
       |    NTILE($StatsPruneFiles)
       |      OVER (ORDER BY o_custkey, o_orderkey) AS f
       |  FROM orders),
       |audit AS (
       |  SELECT f, COUNT(*) AS total_rows,
       |    SUM(CASE WHEN o_orderkey % 7 = 1 OR (
       |        o_custkey >= (SELECT lo FROM b)
       |        AND o_custkey <= (SELECT hi FROM b)
       |        AND o_orderkey % 2 = 0) THEN 0 ELSE 1 END) AS live_rows
       |  FROM filed GROUP BY f)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(SUM(total_rows) AS BIGINT) AS total_rows,
       |  CAST(SUM(live_rows) AS BIGINT) AS live_rows,
       |  CAST(SUM(CASE WHEN live_rows * 10 < total_rows * 7
       |    THEN 1 ELSE 0 END) AS BIGINT) AS rewrite_candidates,
       |  CAST(MAX(total_rows - live_rows) AS BIGINT) AS max_dead
       |FROM audit""".stripMargin

  /** Gate: SELECTIVE DV materialization — the maintenance pass the
    * lh_file_audit report feeds. Same fixture (32 NTILE files, uniform
    * orderkey%7 delete) plus the skewed interval delete, then
    * `rewriteDeletes(minDeadFraction = 0.3)`: only the dead-heavy
    * interval files rewrite; every other file keeps its bytes and its
    * deletes consolidate into one fresh sidecar. Emits the live row
    * count, the rewritten/kept file tallies, and the surviving DV entry
    * count — each re-derived by the oracle from the same NTILE bucket
    * algebra, bigint-exact, so rewriting one file too many or carrying
    * one stale DV identity fails the gate. */
  def lhDvMaint(s: SparkSession, dir: String): DataFrame =
    lhDvMaintOp(s, dir, lhStatsPruneBuild(s, dir))

  private def lhDvMaintOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 2, mx / 2 + mx / 10)
    deleteWhere(s, table, $"o_custkey" >= lo && $"o_custkey" <= hi &&
      pmod($"o_orderkey", lit(2)) === 0)
    val before = latestManifest(table).get
    val after = rewriteDeletes(s, table, minDeadFraction = 0.3)
    val afterN = after.files.map(normalize).toSet
    val rewritten = before.files.count(f => !afterN.contains(normalize(f)))
    require(after.dvs.nonEmpty, "below-threshold files must keep DV entries")
    val kept = dvFiles(s, after).agg(count(lit(1)), sum(col("__dv_n"))).head()
    read(s, table).agg(count(lit(1)).as("n"))
      .withColumn("n_rewritten", lit(rewritten.toLong))
      .withColumn("n_kept_dv", lit(kept.getLong(0)))
      .withColumn("remaining_dead", lit(kept.getLong(1)))
  }

  val lhDvMaintSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 2 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 2 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |filed AS (SELECT o_orderkey, o_custkey,
       |    NTILE($StatsPruneFiles)
       |      OVER (ORDER BY o_custkey, o_orderkey) AS f
       |  FROM orders),
       |audit AS (
       |  SELECT f, COUNT(*) AS total_rows,
       |    SUM(CASE WHEN o_orderkey % 7 = 1 OR (
       |        o_custkey >= (SELECT lo FROM b)
       |        AND o_custkey <= (SELECT hi FROM b)
       |        AND o_orderkey % 2 = 0) THEN 1 ELSE 0 END) AS dead_rows
       |  FROM filed GROUP BY f)
       |SELECT CAST(SUM(total_rows - dead_rows) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN dead_rows * 10 >= total_rows * 3
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_rewritten,
       |  CAST(SUM(CASE WHEN dead_rows > 0 AND dead_rows * 10 < total_rows * 3
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_dv,
       |  CAST(SUM(CASE WHEN dead_rows * 10 < total_rows * 3
       |    THEN dead_rows ELSE 0 END) AS BIGINT) AS remaining_dead
       |FROM audit""".stripMargin

  /** Gate: COMPRESSED (range-encoded) deletion vectors under a dense
    * retention-style delete. Fixture: orders split into
    * [[DvCompressFiles]] files with WITHIN-FILE ascending
    * (o_custkey, o_orderkey) order ([[initFiledSorted]] — the layout
    * key/time-ordered ingest produces), then `DELETE WHERE o_custkey <=
    * max/2`: in every file the dead rows occupy one contiguous position
    * prefix, so the sidecar must hold at most ONE run per touched file
    * regardless of how many thousand rows died. The op emits the
    * read-back aggregate (exercising the packed executor-side DV
    * application on the Scala path), the bigint-exact deleted-row count
    * re-derived from the runs' lengths, and three booleans the driver
    * pins TRUE: runs bounded by the file count, runs ≪ deleted rows,
    * and MEASURED sidecar bytes ≤ the equivalent row-per-delete parquet
    * (written to a scratch dir from the very same identities and
    * cleaned up). One extra run, one miscounted dead row, or a sidecar
    * that stopped compressing fails the gate. */
  def lhDvCompress(s: SparkSession, dir: String): DataFrame =
    lhDvCompressOp(s, dir, lhDvCompressBuild(s, dir))

  private[graft] val DvCompressFiles = 8

  private def lhDvCompressBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val table = freshGateTable()
    val filed = GlobalNtile.withBucket(Tables.orders(s, dir), "__f",
      DvCompressFiles, Seq($"o_custkey", $"o_orderkey"))
    initFiledSorted(filed, table, "__f", DvCompressFiles,
      Seq("o_custkey", "o_orderkey"))
    table
  }

  private def lhDvCompressOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val cut = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0) / 2
    val m = deleteWhere(s, table, $"o_custkey" <= cut)
    val runs = dvRuns(s, m.dvs)
    val nRuns = runs.count()
    val deletedRows = runs.agg(sum($"len")).head().getLong(0)
    val rangeBytes = m.dvs.map(p => Files.size(Paths.get(p))).sum
    // the honest comparison: the SAME identities, row-per-delete
    val rowDir = Paths.get(table, "scratch-rowdv")
    runs.select(col("fp").as("file_path"),
        explode(sequence(col("start"), col("start") + col("len") - 1))
          .as("row_index"))
      .coalesce(1).write.mode("overwrite").parquet(rowDir.toString)
    val rowBytes = listPartFiles(rowDir).map(p => Files.size(Paths.get(p))).sum
    listDir(rowDir).foreach(Files.deleteIfExists(_))
    Files.deleteIfExists(rowDir)
    read(s, table)
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("deleted_rows", lit(deletedRows))
      .withColumn("runs_bounded", lit(nRuns <= DvCompressFiles.toLong))
      .withColumn("runs_compress", lit(nRuns * 16L <= deletedRows))
      .withColumn("sidecar_le_rowform", lit(rangeBytes <= rowBytes))
  }

  val lhDvCompressSql: String =
    """WITH cut AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 2 AS c)
      |SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders, cut
      |    WHERE o_custkey <= c) AS deleted_rows,
      |  TRUE AS runs_bounded, TRUE AS runs_compress,
      |  TRUE AS sidecar_le_rowform
      |FROM orders, cut WHERE o_custkey > c""".stripMargin

  /** Gate: the ONE-CALL maintenance policy `CALL graft.cow_maintain` —
    * selective DV materialization (0.3 threshold), then full small-file
    * compaction (16 MiB target swallows every gate file and
    * materializes the consolidated DVs the selective pass kept), then
    * vacuum to one version. Version arithmetic is deterministic (init,
    * two DV deletes, selective rewrite, compaction = v4) and the final
    * state must be DV-free, so the oracle re-derives the read-back
    * aggregate from the two delete predicates plus both constants —
    * any extra/missing commit or a DV surviving compaction fails the
    * hash. */
  def lhMaintain(s: SparkSession, dir: String): DataFrame =
    lhMaintainOp(s, dir, lhStatsPruneBuild(s, dir))

  private def lhMaintainOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    graft.functions.GraftFunctions.register(s)
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 2, mx / 2 + mx / 10)
    deleteWhere(s, table, $"o_custkey" >= lo && $"o_custkey" <= hi &&
      pmod($"o_orderkey", lit(2)) === 0)
    val summary = s.sql(s"CALL graft.cow_maintain(table => '$table', " +
      "dead_threshold => 0.3D, target_bytes => 16777216, " +
      "keep_versions => 1)").head()
    val after = latestManifest(table).get
    require(after.dvs.isEmpty,
      "maintenance must end DV-free (compaction materializes kept DVs)")
    require(summary.getInt(0) == after.version,
      "CALL summary must report the final committed version")
    s.sql(
      s"""SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_price,
         |  CAST(${after.version} AS BIGINT) AS final_version,
         |  CAST(${after.dvs.size} AS BIGINT) AS n_dvs
         |FROM cow_read('$table')""".stripMargin)
  }

  val lhMaintainSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 2 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 2 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |live AS (SELECT o.* FROM orders o, b
       |  WHERE o.o_orderkey % 7 <> 1
       |    AND NOT (o.o_custkey >= b.lo AND o.o_custkey <= b.hi
       |      AND o.o_orderkey % 2 = 0))
       |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    AS sum_price,
       |  CAST(4 AS BIGINT) AS final_version,
       |  CAST(0 AS BIGINT) AS n_dvs
       |FROM live""".stripMargin

  /** Gate: one-CALL maintenance RACING a live writer — the advertised
    * deployment shape (scheduled `cow_maintain` next to a streaming
    * upsert) replayed deterministically: an insert-only MOR upsert
    * lands INSIDE the maintenance's first commit window (the
    * [[preCommitHook]] race replay the concurrency spec uses), so
    * `rewriteDeletes` loses the version race, rebases, and must carry
    * the upsert's rows through materialization + compaction. Strict
    * version arithmetic (v0 init, v1+v2 deletes, v3 the interleaved
    * upsert, v4 rewriteDeletes, v5 compaction) plus the full
    * relational oracle: a lost insert, a resurrected deleted row, or a
    * maintenance abort breaks count/hash. */
  def lhMaintainConc(s: SparkSession, dir: String): DataFrame =
    lhMaintainConcOp(s, dir, lhStatsPruneBuild(s, dir))

  private def lhMaintainConcOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    graft.functions.GraftFunctions.register(s)
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 2, mx / 2 + mx / 10)
    deleteWhere(s, table, $"o_custkey" >= lo && $"o_custkey" <= hi &&
      pmod($"o_orderkey", lit(2)) === 0)
    val src = s.range(5).select(
      ($"id" + 9000000000L).as("o_orderkey"),
      ($"id" + 1000L).as("o_custkey"),
      lit("X").as("o_orderstatus"),
      ($"id".cast("double") * 100.5).as("o_totalprice"),
      lit(java.sql.Date.valueOf("1995-01-01"))
        .cast("timestamp_ntz").as("o_orderdate"),
      lit("9-CONC").as("o_orderpriority"))
    preCommitHook = { () =>
      preCommitHook = () => ()
      upsertMor(s, table, src, Seq("o_orderkey"))
      ()
    }
    val summary =
      try s.sql(s"CALL graft.cow_maintain(table => '$table', " +
        "dead_threshold => 0.3D, target_bytes => 16777216, " +
        "keep_versions => 1)").head()
      finally { preCommitHook = () => () }
    val after = latestManifest(table).get
    require(after.dvs.isEmpty,
      "maintenance must end DV-free despite the interleaved writer")
    require(summary.getInt(0) == after.version,
      "CALL summary must report the final committed version")
    s.sql(
      s"""SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_price,
         |  CAST(${after.version} AS BIGINT) AS final_version,
         |  CAST(${after.dvs.size} AS BIGINT) AS n_dvs
         |FROM cow_read('$table')""".stripMargin)
  }

  val lhMaintainConcSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 2 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 2 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |live AS (SELECT o.o_custkey, o.o_totalprice FROM orders o, b
       |  WHERE o.o_orderkey % 7 <> 1
       |    AND NOT (o.o_custkey >= b.lo AND o.o_custkey <= b.hi
       |      AND o.o_orderkey % 2 = 0)
       |  UNION ALL
       |  SELECT 1000 + i AS o_custkey, i * 100.5 AS o_totalprice
       |  FROM generate_series(0, 4) AS g(i))
       |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    AS sum_price,
       |  CAST(5 AS BIGINT) AS final_version,
       |  CAST(0 AS BIGINT) AS n_dvs
       |FROM live""".stripMargin

  /** Gate: the CoW table as a REAL Structured Streaming SINK —
    * `writeStream.toTable("graft.`...`")` over a 3-file file-source
    * replay of orders (staged mtimes + maxFilesPerTrigger=1 pin the
    * micro-batch order); each epoch commits exactly ONE table version
    * through the epoch-idempotent streaming write
    * ([[graft.plans.CowDsv2]]'s `CowStreamingWrite`: deterministic
    * staged paths + epoch high-water record + manifest path-membership
    * replay guard). Strict version arithmetic (create = v0, three
    * epochs = v3) plus the relational oracle: a duplicated, dropped, or
    * re-committed epoch breaks the count/hash. */
  /** Bench-split fixture helper for the streaming gates: write orders
    * slice i (o_orderkey % 3 == i) as ONE parquet file at
    * `<stage>/0i_slice.parquet` with a deterministic mtime, so the op
    * half's "a new file arrives" moment is a RENAME into the watched
    * dir — the orders scans (the fixture cost) stay in the build
    * half. */
  private def stageOrdersSlice(s: SparkSession, dir: String,
      stage: Path, i: Int): Unit = {
    val tmp = Files.createTempDirectory(s"lh_slice_$i")
    Tables.orders(s, dir).filter(pmod(col("o_orderkey"), lit(3)) === i)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = listDir(tmp).map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.head
    Files.createDirectories(stage)
    val dest = stage.resolve(f"0${i}_slice.parquet")
    Files.move(Paths.get(part), dest, StandardCopyOption.REPLACE_EXISTING)
    dest.toFile.setLastModified(1000000L + i * 10000L)
    ()
  }

  /** Rename a staged slice into the watched `in/` dir (same-fs move —
    * preserves the deterministic mtime that pins micro-batch order). */
  private def releaseSlice(base: Path, i: Int): Unit = {
    val f = f"0${i}_slice.parquet"
    Files.createDirectories(base.resolve("in"))
    Files.move(base.resolve("staged").resolve(f),
      base.resolve("in").resolve(f))
    ()
  }

  def lhStreamSink(s: SparkSession, dir: String): DataFrame =
    lhStreamSinkOp(s, dir, lhStreamSinkBuild(s, dir))

  private def lhStreamSinkBuild(s: SparkSession, dir: String): String = {
    val base = Files.createTempDirectory("lh_stream_sink")
    // three deterministic slices, staged as mtime-ordered single files
    (0 until 3).foreach(stageOrdersSlice(s, dir, base.resolve("staged"), _))
    base.toString
  }

  private def lhStreamSinkOp(s: SparkSession, dir: String,
      baseStr: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val base = Paths.get(baseStr)
    val t = base.resolve("t").toString
    (0 until 3).foreach(releaseSlice(base, _))
    val q = s.readStream.schema(Tables.orders(s, dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(base.resolve("in").toString)
      .writeStream
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .toTable(s"graft.`$t`")
    try q.processAllAvailable() finally q.stop()
    val m = latestManifest(t).get
    require(m.version == 3,
      s"expected create + 3 epoch commits = v3, got v${m.version}")
    s.sql(s"SELECT * FROM graft.`$t`")
  }

  val lhStreamSinkSql: String = "SELECT * FROM orders"

  /** Gate: STREAMING EPOCHS COMPOSED WITH PARTITION PRUNING — a
    * partitioned CoW table (on o_orderstatus) ingests two epoch slices
    * through the streaming sink after a batch-initialized first slice;
    * every streamed file must record its exact partition tuple, so the
    * planned-file count of a partition-pruned read is DERIVABLE: one
    * file per (slice, status) pair present in the data (each
    * single-partition epoch writes exactly one file per routed status
    * dir). The oracle recomputes planned/total as COUNT(DISTINCT
    * (o_orderkey%3, o_orderstatus)) algebra, bigint-exact, alongside
    * the pruned read's aggregate — a streamed file missing its tuple
    * (part=NULL keeps it in every plan) or a split/merged epoch file
    * breaks the count. */
  def lhStreamPart(s: SparkSession, dir: String): DataFrame =
    lhStreamPartOp(s, dir, lhStreamPartBuild(s, dir))

  private def lhStreamPartBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val base = Files.createTempDirectory("lh_stream_part")
    initPartitioned(Tables.orders(s, dir)
      .filter(pmod($"o_orderkey", lit(3)) === 0).coalesce(1),
      base.resolve("t").toString, Seq("o_orderstatus"))
    (1 until 3).foreach(stageOrdersSlice(s, dir, base.resolve("staged"), _))
    base.toString
  }

  private def lhStreamPartOp(s: SparkSession, dir: String,
      baseStr: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val base = Paths.get(baseStr)
    val t = base.resolve("t").toString
    (1 until 3).foreach(releaseSlice(base, _))
    val q = s.readStream.schema(Tables.orders(s, dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(base.resolve("in").toString)
      .writeStream
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .toTable(s"graft.`$t`")
    try q.processAllAvailable() finally q.stop()
    val m = latestManifest(t).get
    require(m.version == 2,
      s"expected init + 2 epoch commits = v2, got v${m.version}")
    val noTuple = entriesDF(s, t, m)
      .filter(col("kind") === "data" && col("part").isNull).count()
    require(noTuple == 0L, s"$noTuple streamed files lost their tuple")
    val (planned, total) = pruneReport(s, t, $"o_orderstatus" === "F")
    readWhere(s, t, $"o_orderstatus" === "F")
      .agg(count(lit(1)).as("n"),
        count_distinct($"o_custkey").as("n_cust"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("planned_files", lit(planned.toLong))
      .withColumn("total_files", lit(total.toLong))
  }

  val lhStreamPartSql: String =
    """WITH pairs AS (SELECT DISTINCT o_orderkey % 3 AS sl, o_orderstatus
      |  FROM orders)
      |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs
      |    WHERE o_orderstatus = 'F') AS planned_files,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS total_files
      |FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  /** Gate: UPDATE-MODE streaming aggregation into a CoW table — the
    * sink surface behind `writeStream.outputMode("update")
    * .option("upsertKeys", ...)`: each epoch's changed groups land as
    * ONE merge-on-read upsert ([[upsertMor]] — matched rows die by
    * range-encoded DV, postimages append, nothing rewrites). The run
    * replays orders as three file-slices (one per micro-batch), STOPS
    * the query after two epochs and RESTARTS it from the checkpoint
    * for the third — so state recovery and the epoch high-water guard
    * are both on the hook. Strict version arithmetic (create + 3
    * upsert epochs = v3, the restart resuming not replaying) plus DVs
    * present, and the final per-custkey aggregate must hash-match the
    * batch recomputation over ALL orders — a dropped epoch, a replayed
    * epoch, or one lost update breaks the count or the sum. */
  def lhStreamUpsert(s: SparkSession, dir: String): DataFrame =
    lhStreamUpsertOp(s, dir, lhStreamUpsertBuild(s, dir))

  private def lhStreamUpsertBuild(s: SparkSession, dir: String): String = {
    val base = Files.createTempDirectory("lh_stream_upsert")
    (0 until 3).foreach(stageOrdersSlice(s, dir, base.resolve("staged"), _))
    base.toString
  }

  /** Input-volume estimate for a staged-slice replay: bytes of every
    * slice the run will feed (staged, evolved-staging, and already-
    * released dirs) — what [[graft.streaming.StreamTune]] sizes the
    * query's state/shuffle partition count from. */
  private def stagedBytes(base: Path): Long =
    Seq("staged", "staged2", "in").map(d =>
      graft.streaming.StreamTune.dirBytes(base.resolve(d))).sum

  private def lhStreamUpsertOp(s: SparkSession, dir: String,
      baseStr: String): DataFrame =
    graft.streaming.StreamTune.withAdaptivePartitions(s,
      stagedBytes(Paths.get(baseStr))) {
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val base = Paths.get(baseStr)
    val t = base.resolve("t").toString
    def run(): Unit = {
      val q = s.readStream.schema(Tables.orders(s, dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(base.resolve("in").toString)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
            .as("total"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .option("upsertKeys", "o_custkey")
        .toTable(s"graft.`$t`")
      try q.processAllAvailable() finally q.stop()
    }
    releaseSlice(base, 0); releaseSlice(base, 1)
    run() // epochs 0, 1
    val mid = latestManifest(t).get
    require(mid.version == 2,
      s"expected create + 2 epoch upserts = v2, got v${mid.version}")
    releaseSlice(base, 2)
    run() // RESTART from the checkpoint -> epoch 2 only
    val m = latestManifest(t).get
    require(m.version == 3,
      s"expected exactly one more upsert after restart, got v${m.version}")
    require(m.dvs.nonEmpty,
      "update epochs must land as merge-on-read deltas (DVs)")
    s.sql(s"SELECT o_custkey, n, total FROM graft.`$t`")
    }

  val lhStreamUpsertSql: String =
    """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** Gate: MID-STREAM SCHEMA EVOLUTION through the update-mode
    * streaming sink — the CDC shape where the upstream adds a field.
    * Phase 1 streams two epoch slices of orders (keys ≡0,1 mod 3) into
    * a fresh CoW table through the upsert sink; the query STOPS, and
    * phase 2 RESTARTS from the same checkpoint with a WIDER source — a
    * slice of keys ≡1,2 mod 3 carrying a new `o_flag` column and
    * re-priced rows. The rebuilt sink resolves the evolved schema
    * ([[evolvedSinkSchema]]) and its first epoch lands schema + data in
    * ONE MOR delta commit: ≡1 rows UPDATE (DV kill + postimage with
    * the flag), ≡2 rows INSERT, ≡0 rows are never rewritten and
    * NULL-extend at read. Strict version arithmetic (create + 2 + 1
    * epochs = v3) plus the full mixed-vintage relational oracle — a
    * dropped flag value, a rewritten ≡0 file, or a non-NULL extension
    * breaks the hash. */
  def lhStreamUpsertEvolve(s: SparkSession, dir: String): DataFrame =
    lhStreamUpsertEvolveOp(s, dir, lhStreamUpsertEvolveBuild(s, dir))

  private def lhStreamUpsertEvolveBuild(s: SparkSession,
      dir: String): String = {
    import s.implicits._
    val base = Files.createTempDirectory("lh_stream_upsert_evolve")
    (0 until 2).foreach(stageOrdersSlice(s, dir, base.resolve("staged"), _))
    // the post-evolution slice: wider schema, updates ≡1 / inserts ≡2
    val tmp = Files.createTempDirectory("lh_sue_wide")
    Tables.orders(s, dir).filter(pmod($"o_orderkey", lit(3)) =!= 0)
      .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
      .withColumn("o_flag", pmod($"o_orderkey", lit(7)))
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = listDir(tmp).map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.head
    val dest = base.resolve("staged2").resolve("02_slice.parquet")
    Files.createDirectories(dest.getParent)
    Files.move(Paths.get(part), dest)
    dest.toFile.setLastModified(1030000L)
    base.toString
  }

  private def lhStreamUpsertEvolveOp(s: SparkSession, dir: String,
      baseStr: String): DataFrame =
    graft.streaming.StreamTune.withAdaptivePartitions(s,
      stagedBytes(Paths.get(baseStr))) {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val base = Paths.get(baseStr)
    val t = base.resolve("t").toString
    val narrow = Tables.orders(s, dir).schema
    def run(schema: StructType, srcDir: String): Unit = {
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(base.resolve(srcDir).toString)
        .writeStream.outputMode("update")
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .option("upsertKeys", "o_orderkey")
        .toTable(s"graft.`$t`")
      try q.processAllAvailable() finally q.stop()
    }
    releaseSlice(base, 0); releaseSlice(base, 1)
    run(narrow, "in") // epochs 0, 1 at the pre-evolution width
    val mid = latestManifest(t).get
    require(mid.version == 2,
      s"expected create + 2 epoch upserts = v2, got v${mid.version}")
    require(!mid.schema.fieldNames.contains("o_flag"),
      "the table must not carry o_flag before the source grows it")
    // the source ADDS o_flag; the restarted sink must evolve the table
    Files.move(base.resolve("staged2").resolve("02_slice.parquet"),
      base.resolve("in").resolve("02_slice.parquet"))
    run(StructType(narrow.fields :+
      StructField("o_flag", LongType, nullable = true)), "in")
    val m = latestManifest(t).get
    require(m.version == 3,
      s"expected ONE evolving epoch commit after restart, got v${m.version}")
    require(m.schema.fieldNames.contains("o_flag"),
      "the evolving epoch must commit the widened schema")
    require(m.dvs.nonEmpty,
      "the evolving epoch must stay a merge-on-read delta (DVs)")
    s.sql(s"SELECT o_orderkey, o_custkey, o_totalprice, o_flag " +
      s"FROM graft.`$t`")
    }

  val lhStreamUpsertEvolveSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice
      |       ELSE o_totalprice + 1000.0 END AS o_totalprice,
      |  CASE WHEN o_orderkey % 3 = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE o_orderkey % 7 END AS o_flag
      |FROM orders""".stripMargin

  /** Gate: PARTIAL-COLUMN upsert — the CDC shape where the feed
    * carries a column subset. The source brings only (key, price):
    * matched keys get the new price while every column the source
    * does not carry KEEPS its current value (a full-row postimage
    * would need them all and a naive writer would NULL-clobber);
    * inserted keys NULL-extend the absent columns. Still one MOR
    * delta: DV kill + postimage append, with the preserved values
    * read from exactly the candidate files the match discovery
    * already bounded. */
  def lhUpsertPartial(s: SparkSession, dir: String): DataFrame =
    lhUpsertPartialOp(s, dir, lhMergeBuild2(s, dir))

  private def lhMergeBuild2(s: SparkSession, dir: String): String = {
    val table = freshGateTable()
    init(Tables.orders(s, dir), table)
    table
  }

  private def lhUpsertPartialOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val source = Tables.orders(s, dir)
      .filter(pmod($"o_orderkey", lit(4)) === 0)
      .select($"o_orderkey", ($"o_totalprice" * 2).as("o_totalprice"))
      .unionByName(Tables.orders(s, dir)
        .filter(pmod($"o_orderkey", lit(4)) === 1)
        .select(($"o_orderkey" + 1000000000L).as("o_orderkey"),
          lit(-1.0).as("o_totalprice")))
    upsertMor(s, table, source, Seq("o_orderkey"), preserveMissing = true)
    val m = latestManifest(table).get
    require(m.dvs.nonEmpty, "partial upsert must stay merge-on-read")
    read(s, table).select($"o_orderkey", $"o_custkey", $"o_orderstatus",
      $"o_totalprice", $"o_orderpriority")
  }

  val lhUpsertPartialSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 2
      |       ELSE o_totalprice END AS o_totalprice,
      |  o_orderpriority
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey + 1000000000, NULL, NULL, -1.0, NULL
      |FROM orders WHERE o_orderkey % 4 = 1""".stripMargin

  /** Gate: MID-RUN TABLE EVOLUTION absorbed by the update-mode
    * streaming sink — NO restart. While the query is RUNNING (same
    * query object, same fixed pre-alter plan schema), another writer
    * renames a column, adds one, and fills the new column for some
    * keys through the batch partial upsert; the stream's next epoch
    * then speaks the OLD schema and must absorb: its columns rename
    * forward onto the evolved names, and the filled `o_note` values
    * are PRESERVED on the keys the epoch updates (a full-row
    * postimage would NULL-clobber them — the exact failure this
    * closes). Strict version arithmetic (create + 2 epochs + alter +
    * fill + 1 absorbed epoch = v5) plus a full mixed-provenance
    * relational oracle: a clobbered note value, a dropped rename, or
    * a rewritten untouched row breaks the hash. */
  def lhStreamUpsertMid(s: SparkSession, dir: String): DataFrame =
    lhStreamUpsertMidOp(s, dir, lhStreamUpsertMidBuild(s, dir))

  private def lhStreamUpsertMidBuild(s: SparkSession,
      dir: String): String = {
    import s.implicits._
    val base = Files.createTempDirectory("lh_stream_upsert_mid")
    (0 until 2).foreach(stageOrdersSlice(s, dir, base.resolve("staged"), _))
    // the post-evolution slice keeps the query's plan width (narrow —
    // the stream does NOT learn the new columns): keys ≡1 update,
    // keys ≡2 insert, re-priced
    val tmp = Files.createTempDirectory("lh_sum_wide")
    Tables.orders(s, dir).filter(pmod($"o_orderkey", lit(3)) =!= 0)
      .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = listDir(tmp).map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.head
    val dest = base.resolve("staged2").resolve("02_slice.parquet")
    Files.createDirectories(dest.getParent)
    Files.move(Paths.get(part), dest)
    dest.toFile.setLastModified(1030000L)
    base.toString
  }

  private def lhStreamUpsertMidOp(s: SparkSession, dir: String,
      baseStr: String): DataFrame =
    graft.streaming.StreamTune.withAdaptivePartitions(s,
      stagedBytes(Paths.get(baseStr))) {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val base = Paths.get(baseStr)
    val t = base.resolve("t").toString
    Files.createDirectories(base.resolve("in"))
    val q = s.readStream.schema(Tables.orders(s, dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(base.resolve("in").toString)
      .writeStream.outputMode("update")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .option("upsertKeys", "o_orderkey")
      .toTable(s"graft.`$t`")
    try {
      releaseSlice(base, 0); releaseSlice(base, 1)
      q.processAllAvailable() // epochs 0, 1
      require(latestManifest(t).get.version == 2,
        s"expected create + 2 epoch upserts = v2")
      // ANOTHER writer evolves the table while the query runs…
      alterTable(s, t, renames = Map("o_orderpriority" -> "o_priority"),
        adds = Seq(("o_note", StringType)))
      // …and fills the new column for keys ≡0 (mod 5) via the batch
      // partial upsert (only present keys — slices 0 and 1)
      upsertMor(s, t, Tables.orders(s, dir)
        .filter(pmod($"o_orderkey", lit(3)) =!= 2 &&
          pmod($"o_orderkey", lit(5)) === 0)
        .select($"o_orderkey",
          concat(lit("n"), $"o_orderkey").as("o_note")),
        Seq("o_orderkey"), preserveMissing = true)
      // the RUNNING query's next epoch speaks the pre-alter schema
      Files.move(base.resolve("staged2").resolve("02_slice.parquet"),
        base.resolve("in").resolve("02_slice.parquet"))
      q.processAllAvailable()
    } finally q.stop()
    val m = latestManifest(t).get
    require(m.version == 5,
      s"expected create+2 epochs+alter+fill+1 absorbed epoch = v5, " +
        s"got v${m.version}")
    require(m.schema.fieldNames.contains("o_priority") &&
      m.schema.fieldNames.contains("o_note"),
      "the absorbed epoch must keep the evolved schema")
    require(m.dvs.nonEmpty, "the absorbed epoch must stay merge-on-read")
    s.sql(s"SELECT o_orderkey, o_custkey, o_totalprice, o_priority, " +
      s"o_note FROM graft.`$t`")
    }

  val lhStreamUpsertMidSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice
      |       ELSE o_totalprice + 1000.0 END AS o_totalprice,
      |  o_orderpriority AS o_priority,
      |  CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 3 <> 2
      |       THEN 'n' || CAST(o_orderkey AS VARCHAR) END AS o_note
      |FROM orders""".stripMargin

  val lhSqlReadSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 4 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 4 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi)
       |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    AS sum_price
       |FROM orders, b
       |WHERE o_custkey BETWEEN b.lo AND b.hi AND o_orderkey % 7 <> 1""".stripMargin

  /** Gate: METADATA-ONLY COUNT over the stats-pruning fixture (32
    * exact-NTILE custkey files + a merge-on-read delete). An interval
    * count answers interior files from manifest row counts minus their
    * DV entries and scans only the two boundary files; a full-range
    * count (custkey >= 0) is pure metadata — zero files scanned. The
    * oracle re-derives every column from the same NTILE bucket algebra:
    * the counts, the full/partial file split, AND the metadata-answered
    * row total (bucket sizes minus their deleted rows) — so the gate
    * fails if the classifier misjudges one file or the DV subtraction
    * is off by one row. */
  def lhCountMeta(s: SparkSession, dir: String): DataFrame =
    lhCountMetaOp(s, dir, lhStatsPruneBuild(s, dir))

  private def lhCountMetaOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    val bMid = countWhereDetailed(s, table,
      $"o_custkey" >= lo && $"o_custkey" <= hi)
    val bAll = countWhereDetailed(s, table, $"o_custkey" >= 0L)
    Seq((bMid.total, bAll.total, bMid.fullFiles.toLong,
      bMid.partialFiles.toLong, bMid.metadataRows, bAll.fullFiles.toLong))
      .toDF("cnt_mid", "cnt_all", "mid_full_files", "mid_partial_files",
        "mid_meta_rows", "all_full_files")
  }

  val lhCountMetaSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 4 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 4 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |f AS (SELECT o_custkey, o_orderkey,
       |    NTILE($StatsPruneFiles) OVER (ORDER BY o_custkey, o_orderkey)
       |      AS fid
       |  FROM orders),
       |st AS (SELECT fid, MIN(o_custkey) AS mn, MAX(o_custkey) AS mx,
       |    COUNT(*) AS n,
       |    SUM(CASE WHEN o_orderkey % 7 = 1 THEN 1 ELSE 0 END) AS ndel
       |  FROM f GROUP BY 1),
       |cls AS (SELECT st.*, (mn >= b.lo AND mx <= b.hi) AS isfull,
       |    (mn <= b.hi AND mx >= b.lo) AS iskeep
       |  FROM st, b)
       |SELECT
       |  (SELECT COUNT(*) FROM orders, b
       |    WHERE o_custkey BETWEEN b.lo AND b.hi AND o_orderkey % 7 <> 1)
       |    AS cnt_mid,
       |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 <> 1)
       |    AS cnt_all,
       |  CAST((SELECT COUNT(*) FROM cls WHERE isfull) AS BIGINT)
       |    AS mid_full_files,
       |  CAST((SELECT COUNT(*) FROM cls WHERE iskeep AND NOT isfull)
       |    AS BIGINT) AS mid_partial_files,
       |  CAST((SELECT COALESCE(SUM(n - ndel), 0) FROM cls WHERE isfull)
       |    AS BIGINT) AS mid_meta_rows,
       |  CAST((SELECT COUNT(*) FROM cls WHERE mn >= 0) AS BIGINT)
       |    AS all_full_files""".stripMargin

  /** Gate: the SQL-path `COUNT(*)` answered from METADATA through
    * DSv2 aggregate pushdown — `SELECT COUNT(*) FROM graft.t` plans a
    * one-row LocalTableScan ([[graft.plans.CowCountLocalScan]]), no
    * file read, with the count proven from entry row counts minus
    * live DV runs ([[metadataRowCount]]). The fixture stacks a DV
    * delete AND a partial-column insert batch on the base so both
    * adjustments are live; the gate REQUIRES the metadata plan shape
    * for the bare count and the scan plan shape for a filtered count
    * (the guard: a residual filter must never reach the metadata
    * path), then emits both counts for the relational oracle. */
  def lhCountPush(s: SparkSession, dir: String): DataFrame =
    lhCountPushOp(s, dir, lhCountPushBuild(s, dir))

  private def lhCountPushBuild(s: SparkSession, dir: String): String = {
    val table = freshGateTable()
    init(Tables.orders(s, dir), table)                             // v0
    deleteWhere(s, table, pmod(col("o_orderkey"), lit(7)) === 3)   // v1
    upsertMor(s, table, Tables.orders(s, dir)                      // v2
        .filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey")),
      Seq("o_orderkey"), preserveMissing = true)
    table
  }

  private def lhCountPushOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val m = latestManifest(table).get
    require(m.version == 2 && m.dvs.nonEmpty,
      "fixture must carry live DV runs under the pushed count")
    val pushedDf = s.sql(s"SELECT COUNT(*) AS cnt FROM graft.`$table`")
    val plan = pushedDf.queryExecution.executedPlan.toString
    require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"bare COUNT(*) must plan metadata-only; got:\n$plan")
    val filteredDf = s.sql(s"SELECT COUNT(*) AS cnt FROM graft.`$table` " +
      "WHERE o_orderkey % 2 = 0")
    val fPlan = filteredDf.queryExecution.executedPlan.toString
    require(!fPlan.contains("LocalTableScan"),
      s"a FILTERED count must scan, never the metadata path; got:\n$fPlan")
    Seq((pushedDf.head().getLong(0), filteredDf.head().getLong(0), true))
      .toDF("cnt", "cnt_filtered", "meta_only")
  }

  val lhCountPushSql: String =
    """SELECT
      |  CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 <> 3)
      |    + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 5 = 0)
      |    AS BIGINT) AS cnt,
      |  CAST((SELECT COUNT(*) FROM orders
      |      WHERE o_orderkey % 7 <> 3 AND o_orderkey % 2 = 0)
      |    + (SELECT COUNT(*) FROM orders
      |      WHERE o_orderkey % 5 = 0 AND o_orderkey % 2 = 0)
      |    AS BIGINT) AS cnt_filtered,
      |  TRUE AS meta_only""".stripMargin

  /** Gate: SQL-path MIN/MAX/COUNT answered from metadata through the
    * same DSv2 complete aggregate pushdown ([[lhCountPush]]'s seam,
    * generalized) — one statement carrying all three collapses to a
    * one-row LocalTableScan. The fixture is the stats-prune build
    * (custkey-clustered NTILE files + a DV delete), so the MIN/MAX
    * candidates come from full DV-free files' stats while the DV'd
    * files are read by the bounded planning job — the values stay
    * row-exact under deletes either way, which is exactly what the
    * relational oracle checks. The filtered twin is pinned OFF the
    * metadata path. */
  def lhMinmaxPush(s: SparkSession, dir: String): DataFrame =
    lhMinmaxPushOp(s, dir, lhStatsPruneBuild(s, dir))

  private def lhMinmaxPushOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    require(latestManifest(table).exists(_.dvs.nonEmpty),
      "fixture must carry live DV runs under the pushed extrema")
    val pushedDf = s.sql("SELECT MIN(o_custkey) AS mn, " +
      s"MAX(o_custkey) AS mx, COUNT(*) AS cnt FROM graft.`$table`")
    val plan = pushedDf.queryExecution.executedPlan.toString
    require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"bare MIN/MAX/COUNT must plan metadata-only; got:\n$plan")
    val fPlan = s.sql("SELECT MIN(o_custkey) AS mn FROM " +
      s"graft.`$table` WHERE o_orderkey % 2 = 0")
      .queryExecution.executedPlan.toString
    require(!fPlan.contains("LocalTableScan"),
      s"a FILTERED extremum must scan, never the metadata path; got:\n$fPlan")
    val r = pushedDf.head()
    Seq((r.getLong(0), r.getLong(1), r.getLong(2), true))
      .toDF("mn", "mx", "cnt", "meta_only")
  }

  val lhMinmaxPushSql: String =
    """SELECT
      |  CAST((SELECT MIN(o_custkey) FROM orders WHERE o_orderkey % 7 <> 1)
      |    AS BIGINT) AS mn,
      |  CAST((SELECT MAX(o_custkey) FROM orders WHERE o_orderkey % 7 <> 1)
      |    AS BIGINT) AS mx,
      |  CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 <> 1)
      |    AS BIGINT) AS cnt,
      |  TRUE AS meta_only""".stripMargin

  /** Files per partition for the partition-pruning gate (NTILE within
    * each o_orderstatus partition, reproducible in DuckDB). */
  val PartPruneFiles = 8

  /** Gate: PARTITION PRUNING composed with stats skipping, end-to-end.
    * Orders partitioned by o_orderstatus (Hive-style dirs, columns kept
    * in the files, per-file partition tuple in the manifest —
    * Iceberg-style), 8 exact-NTILE custkey files per partition, a DV
    * delete stacked on top. Query 1 (status equality AND a custkey
    * interval) must plan exactly partition O's range-overlapping files;
    * query 2 uses an EXPRESSION on the partition column
    * (lower(status) = 'f') that per-file min/max stats cannot decide —
    * only exact partition-value evaluation prunes it to partition F's
    * 8 files. The oracle re-derives the aggregates AND both planned
    * file counts from the same per-(status, bucket) algebra —
    * bigint-exact. */
  private def lhPartitionPruneBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val table = freshGateTable()
    val filed = Tables.orders(s, dir).withColumn("__f",
      ntile(PartPruneFiles).over(Window.partitionBy($"o_orderstatus")
        .orderBy($"o_custkey", $"o_orderkey")))
    initPartitionedFiled(filed, table, Seq("o_orderstatus"), "__f",
      PartPruneFiles)
    deleteWhere(s, table, pmod($"o_orderkey", lit(7)) === 1)
    table
  }

  private def lhPartitionPruneOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    val cond1 = $"o_orderstatus" === "O" &&
      $"o_custkey" >= lo && $"o_custkey" <= hi
    val (planned1, total) = pruneReport(s, table, cond1)
    val cond2 = lower($"o_orderstatus") === "f"
    val (planned2, _) = pruneReport(s, table, cond2)
    val n2 = readWhere(s, table, cond2).count()
    readWhere(s, table, cond1)
      .agg(count(lit(1)).as("n"),
        count_distinct($"o_custkey").as("n_cust"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("planned_files", lit(planned1.toLong))
      .withColumn("total_files", lit(total.toLong))
      .withColumn("planned_part", lit(planned2.toLong))
      .withColumn("n_part", lit(n2))
  }

  def lhPartitionPrune(s: SparkSession, dir: String): DataFrame =
    lhPartitionPruneOp(s, dir, lhPartitionPruneBuild(s, dir))

  val lhPartitionPruneSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 4 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 4 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |f AS (SELECT o_orderstatus, o_custkey, o_orderkey,
       |    NTILE($PartPruneFiles) OVER (PARTITION BY o_orderstatus
       |      ORDER BY o_custkey, o_orderkey) AS fid
       |  FROM orders),
       |st AS (SELECT o_orderstatus AS ps, fid, MIN(o_custkey) AS mn,
       |    MAX(o_custkey) AS mxk
       |  FROM f GROUP BY 1, 2)
       |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    AS sum_price,
       |  (SELECT COUNT(*) FROM st, b
       |    WHERE ps = 'O' AND mn <= b.hi AND mxk >= b.lo) AS planned_files,
       |  (SELECT COUNT(*) FROM st) AS total_files,
       |  (SELECT COUNT(*) FROM st WHERE LOWER(ps) = 'f') AS planned_part,
       |  (SELECT COUNT(*) FROM orders
       |    WHERE LOWER(o_orderstatus) = 'f' AND o_orderkey % 7 <> 1)
       |    AS n_part
       |FROM orders, b
       |WHERE o_orderstatus = 'O' AND o_custkey BETWEEN b.lo AND b.hi
       |  AND o_orderkey % 7 <> 1""".stripMargin

  /** Gate: METADATA MIN/MAX over a 32-exact-NTILE custkey layout with a
    * DV delete RESTRICTED to the low custkey range (only low-range
    * files carry deletion vectors). An interval MIN/MAX answers the
    * covered interior from per-file stats (DV-free there), SCANS one
    * boundary file, and BOUND-SKIPS the other boundary (its stat cannot
    * move the extremum past the metadata candidate); a query over the
    * DV'd range has no metadata-eligible file and scans everything it
    * keeps. The oracle re-derives the answers AND every file-class
    * count from the same NTILE bucket algebra — bigint-exact, so a
    * misclassified file or an unsound metadata answer fails the gate. */
  private def lhMinMaxBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val table = freshGateTable()
    val filed = GlobalNtile.withBucket(Tables.orders(s, dir), "__f",
      StatsPruneFiles, Seq($"o_custkey", $"o_orderkey"))
    initFiled(filed, table, "__f", StatsPruneFiles)
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    deleteWhere(s, table,
      $"o_custkey" <= mx / 8 && pmod($"o_orderkey", lit(3)) === 0)
    table
  }

  private def lhMinMaxOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir).agg(max($"o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 4 + mx / 10)
    val cond = $"o_custkey" >= lo && $"o_custkey" <= hi
    val bmn = minWhereDetailed(s, table, "o_custkey", cond)
    val bmx = maxWhereDetailed(s, table, "o_custkey", cond)
    val cond2 = $"o_custkey" <= mx / 8
    val bmn2 = minWhereDetailed(s, table, "o_custkey", cond2)
    Seq((bmn.value.get.asInstanceOf[Long], bmx.value.get.asInstanceOf[Long],
      bmn.metaFiles.toLong, bmn.scannedFiles.toLong,
      bmn.boundSkippedFiles.toLong, bmn.prunedFiles.toLong,
      bmx.scannedFiles.toLong, bmx.boundSkippedFiles.toLong,
      bmn2.value.get.asInstanceOf[Long], bmn2.metaFiles.toLong,
      bmn2.scannedFiles.toLong))
      .toDF("mn", "mxv", "mn_meta", "mn_scan", "mn_skip", "mn_pruned",
        "mx_scan", "mx_skip", "mn2", "mn2_meta", "mn2_scan")
  }

  def lhMinMaxMeta(s: SparkSession, dir: String): DataFrame =
    lhMinMaxOp(s, dir, lhMinMaxBuild(s, dir))

  val lhMinMaxMetaSql: String =
    s"""WITH bb AS (SELECT mx, mx // 4 AS lo, mx // 4 + mx // 10 AS hi,
       |    mx // 8 AS d
       |  FROM (SELECT MAX(o_custkey) AS mx FROM orders)),
       |f AS (SELECT o_custkey, o_orderkey,
       |    NTILE($StatsPruneFiles) OVER (ORDER BY o_custkey, o_orderkey)
       |      AS fid
       |  FROM orders),
       |st AS (SELECT fid, MIN(o_custkey) AS mn, MAX(o_custkey) AS mxk,
       |    SUM(CASE WHEN o_custkey <= (SELECT d FROM bb)
       |      AND o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS ndv
       |  FROM f GROUP BY 1),
       |cls AS (SELECT st.*, (mn <= bb.hi AND mxk >= bb.lo) AS iskeep,
       |    (mn >= bb.lo AND mxk <= bb.hi AND ndv = 0) AS ismeta,
       |    (mn <= bb.d) AS iskeep2,
       |    (mxk <= bb.d AND ndv = 0) AS ismeta2
       |  FROM st, bb),
       |cand AS (SELECT MIN(CASE WHEN ismeta THEN mn END) AS cmin,
       |    MAX(CASE WHEN ismeta THEN mxk END) AS cmax,
       |    COUNT(*) FILTER (ismeta) AS nmeta,
       |    COUNT(*) FILTER (NOT iskeep) AS npruned,
       |    COUNT(*) FILTER (iskeep AND NOT ismeta AND mn < cmin_)
       |      AS mnscan,
       |    COUNT(*) FILTER (iskeep AND NOT ismeta AND mn >= cmin_)
       |      AS mnskip,
       |    COUNT(*) FILTER (iskeep AND NOT ismeta AND mxk > cmax_)
       |      AS mxscan,
       |    COUNT(*) FILTER (iskeep AND NOT ismeta AND mxk <= cmax_)
       |      AS mxskip,
       |    COUNT(*) FILTER (iskeep2 AND ismeta2) AS nmeta2,
       |    COUNT(*) FILTER (iskeep2 AND NOT ismeta2) AS mn2scan
       |  FROM cls,
       |    (SELECT MIN(CASE WHEN ismeta THEN mn END) AS cmin_,
       |       MAX(CASE WHEN ismeta THEN mxk END) AS cmax_ FROM cls))
       |SELECT
       |  (SELECT MIN(o_custkey) FROM orders, bb
       |    WHERE o_custkey BETWEEN bb.lo AND bb.hi
       |      AND NOT (o_custkey <= bb.d AND o_orderkey % 3 = 0)) AS mn,
       |  (SELECT MAX(o_custkey) FROM orders, bb
       |    WHERE o_custkey BETWEEN bb.lo AND bb.hi
       |      AND NOT (o_custkey <= bb.d AND o_orderkey % 3 = 0)) AS mxv,
       |  CAST(nmeta AS BIGINT) AS mn_meta,
       |  CAST(mnscan AS BIGINT) AS mn_scan,
       |  CAST(mnskip AS BIGINT) AS mn_skip,
       |  CAST(npruned AS BIGINT) AS mn_pruned,
       |  CAST(mxscan AS BIGINT) AS mx_scan,
       |  CAST(mxskip AS BIGINT) AS mx_skip,
       |  (SELECT MIN(o_custkey) FROM orders, bb
       |    WHERE o_custkey <= bb.d
       |      AND NOT (o_custkey <= bb.d AND o_orderkey % 3 = 0)) AS mn2,
       |  CAST(nmeta2 AS BIGINT) AS mn2_meta,
       |  CAST(mn2scan AS BIGINT) AS mn2_scan
       |FROM cand""".stripMargin

  /** Gate: per-file BLOOM point-lookup skipping — the shape min/max
    * stats provably cannot serve. Fixture: orders in a residue-class
    * layout (file i holds keys ≡ i mod 32), so every file's
    * [min,max] spans nearly the whole keyspace and an equality lookup
    * keeps ~all files under range stats; the declared bloom index on
    * o_orderkey must then prune to the containing file (+ at most the
    * declared-fpp false positives). Probes:
    *  - k_max (global max key): minmax alone already plans exactly 1
    *    file — the bloom pass must NOT prune below it
    *    (bloom_lt_minmax = false pins the no-false-negative boundary);
    *  - k_mid (largest key ≤ max/2) and k_gap (smallest absent
    *    in-range key): the minmax plan is the near-total residue count
    *    (bigint-exact from the oracle's mod-32 min/max algebra) while
    *    the bloom plan must be strictly smaller AND within the
    *    fpp envelope (≤ total/4 — at 1% fpp on 32 files the failure
    *    probability is ~1e-10, deterministic in practice because the
    *    sketches are deterministic functions of the data);
    *  - k_auto: after an insert-only MERGE lands new keys at odd
    *    offsets past max (new files whose sketches the COMMIT builds
    *    automatically), some absent even-offset key must bloom-prune
    *    strictly below its minmax plan — the existence proof that
    *    post-declaration commits sidecar their own files.
    * Row counts and the matched rows' price sums are fully
    * oracle-exact through the same readWhere that consults the index,
    * pinning soundness (a pruned file never hides a matching row). */
  private def lhBloomBuild(s: SparkSession, dir: String): String = {
    import s.implicits._
    val table = freshGateTable()
    // the indexed column is o_key2 = 2·o_orderkey: the testdata keys
    // are DENSE, so the doubled key space gives deterministic
    // absent-in-range probe values (every odd number) while keeping
    // the per-file min/max algebra oracle-exact (2·min, 2·max)
    val filed = Tables.orders(s, dir)
      .withColumn("o_key2", $"o_orderkey" * 2L)
      .withColumn("__f",
        (pmod($"o_orderkey", lit(StatsPruneFiles.toLong)) + 1).cast("int"))
    initFiled(filed, table, "__f", StatsPruneFiles)
    declareBloom(s, table,
      Map("o_key2" -> BloomColSpec(fpp = 0.01, itemsPerFile = 1L << 16)))
    table
  }

  private def lhBloomOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, dir)
    val mx = orders.agg(max($"o_orderkey")).head().getLong(0)
    val kMid = orders.filter($"o_orderkey" <= mx / 2)
      .agg(max($"o_orderkey")).head().getLong(0)
    // the three measured lookups plan in ONE batched job
    // ([[pruneReportBloomBatch]] — triple-identical to the read path's
    // own per-probe planning, spec-pinned) and aggregate through ONE
    // IN-readWhere (the same skipping machinery, probing all three
    // keys); the old per-probe shape was 3 planning jobs + 1 read job
    // PER PROBE — driver-latency-bound, the round-16 drift surface
    val probes = Seq(("k_max", 2L * mx), ("k_mid", 2L * kMid),
      ("k_gap", 2L * kMid + 1L)) // odd => absent, in range
    val rpt = probes.zip(pruneReportBloomBatch(s, table,
      probes.map(p => $"o_key2" === p._2)))
    val got = readWhere(s, table,
        $"o_key2".isin(probes.map(_._2): _*))
      .groupBy($"o_key2")
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double").as("sp"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val measured = rpt.map { case ((label, k), (b, mm, tot)) =>
      val (n, sp) = got.getOrElse(k, (0L, 0.0))
      (label, mm.toLong, tot.toLong, b * 4 <= tot, b < mm, n, sp)
    }
    // insert-only merge: 500 new keys past max (all o_key2 still
    // EVEN) — the commit must bloom-sidecar its new files unasked.
    // The testdata's keys are DENSE (0..N contiguous), so key k < 500
    // maps to new key mx+k+1 directly — same rows a rank-window would
    // produce, with no single-partition WindowExec in the op half
    val src = orders.filter($"o_orderkey" < 500L)
      .withColumn("o_orderkey", lit(mx) + $"o_orderkey" + 1L)
      .withColumn("o_key2", $"o_orderkey" * 2L)
    mergeInto(s, table, src, Seq("o_orderkey"))
    // absent odd values inside the new files' [2(mx+1), 2(mx+500)] —
    // the whole 6-candidate existence sweep is one more batched job
    val candidates = (0 to 5).map(j => 2L * mx + 3L + 2L * j)
    val auto = pruneReportBloomBatch(s, table,
      candidates.map(k => $"o_key2" === k)).exists { case (b, mm, _) =>
      b < mm
    }
    val nCand = readWhere(s, table,
      $"o_key2".isin(candidates: _*)).count()
    val rAuto = ("k_auto", -1L, -1L, auto, auto, nCand, 0.0)
    (measured :+ rAuto)
      .toDF("probe", "minmax_files", "total_files", "bloom_pruned",
        "bloom_lt_minmax", "n_rows", "sum_price")
  }

  def lhBloomPrune(s: SparkSession, dir: String): DataFrame =
    lhBloomOp(s, dir, lhBloomBuild(s, dir))

  val lhBloomPruneSql: String =
    s"""WITH mx AS (SELECT MAX(o_orderkey) AS mx FROM orders),
       |kmid AS (SELECT MAX(o_orderkey) AS k FROM orders
       |  WHERE o_orderkey <= (SELECT mx // 2 FROM mx)),
       |st AS (SELECT o_orderkey % $StatsPruneFiles AS f,
       |    2 * MIN(o_orderkey) AS mn, 2 * MAX(o_orderkey) AS mxk
       |  FROM orders GROUP BY 1)
       |SELECT 'k_max' AS probe,
       |  (SELECT COUNT(*) FROM st, mx WHERE 2 * mx.mx BETWEEN mn AND mxk)
       |    AS minmax_files,
       |  CAST($StatsPruneFiles AS BIGINT) AS total_files,
       |  true AS bloom_pruned, false AS bloom_lt_minmax,
       |  CAST(1 AS BIGINT) AS n_rows,
       |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |     FROM orders, mx WHERE o_orderkey = mx.mx) AS sum_price
       |UNION ALL
       |SELECT 'k_mid',
       |  (SELECT COUNT(*) FROM st, kmid WHERE 2 * kmid.k BETWEEN mn AND mxk),
       |  $StatsPruneFiles, true, true, 1,
       |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |     FROM orders, kmid WHERE o_orderkey = kmid.k)
       |UNION ALL
       |SELECT 'k_gap',
       |  (SELECT COUNT(*) FROM st, kmid
       |     WHERE 2 * kmid.k + 1 BETWEEN mn AND mxk),
       |  $StatsPruneFiles, true, true, 0, 0.0
       |UNION ALL
       |SELECT 'k_auto', -1, -1, true, true, 0, 0.0""".stripMargin

  /** Gate: STORAGE-PARTITIONED JOIN over two bucketed CoW tables —
    * customer and orders both clustered by custkey into
    * [[StatsPruneFiles]] buckets at init, read through the graft
    * catalog with V2 bucketing enabled and broadcast disabled. The
    * fact⋈fact join must plan with ZERO shuffles under the join (the
    * scans' KeyGroupedPartitioning reports zip same-bucket files),
    * asserted off the EXECUTED plan and emitted as an oracle-pinned
    * boolean; the per-segment aggregate is fully oracle-exact, so the
    * exchange-free plan provably computes the same join. At 100 TB
    * this is the layout decision that amortizes one write-side
    * shuffle across every subsequent join on the key. */
  private def lhSpjBuild(s: SparkSession, dir: String): (String, String) = {
    val tc = freshGateTable()
    val to = freshGateTable()
    initBucketed(Tables.customer(s, dir), tc, "c_custkey", StatsPruneFiles)
    initBucketed(Tables.orders(s, dir), to, "o_custkey", StatsPruneFiles)
    (tc, to)
  }

  private def lhSpjOp(s: SparkSession, dir: String,
      tables: (String, String)): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val (tc, to) = tables
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val oldB = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldV2 = if (s.conf.getOption(
        "spark.sql.sources.v2.bucketing.enabled").contains("true")) "true"
      else "false"
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val q = s.read.table(s"graft.`$tc`")
        .join(s.read.table(s"graft.`$to`"),
          $"c_custkey" === $"o_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          count_distinct($"c_custkey").as("n_customers"),
          sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
            .as("sum_price"))
      q.collect() // materialize so AQE's final plan is inspectable
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a) ++ walk(a.executedPlan)
        case st: QueryStageExec => Seq(st) ++ walk(st.plan)
        case other => Seq(other) ++ other.children.flatMap(walk)
      }
      val all = walk(q.queryExecution.executedPlan)
      val exchangeFree = all.collectFirst {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }.exists(j => !j.children.flatMap(walk)
        .exists(_.isInstanceOf[ShuffleExchangeLike]))
      q.withColumn("join_exchange_free", lit(exchangeFree))
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldB)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", oldV2)
    }
  }

  def lhSpjJoin(s: SparkSession, dir: String): DataFrame =
    lhSpjOp(s, dir, lhSpjBuild(s, dir))

  val lhSpjJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  COUNT(DISTINCT c_custkey) AS n_customers,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price,
      |  true AS join_exchange_free
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** Gate: ROW-GROUP-LEVEL DV skipping end-to-end. Orders sorted by
    * orderkey in one multi-row-group file (16 KiB groups); a DV delete
    * kills the interior orderkey band, so whole row groups die and the
    * pruned read scans only the surviving head/tail ranges. The
    * aggregate is oracle-exact (the delete negated relationally); the
    * planning facts ride as booleans the report derives — dead groups
    * found, and the ranged scan bounded by exactly the live-group rows. */
  private def lhRowGroupBuild(s: SparkSession, dir: String): String = {
    val hc = s.sparkContext.hadoopConfiguration
    val table = freshGateTable()
    hc.setInt("parquet.block.size", 16 * 1024)
    hc.setInt("parquet.page.size", 8 * 1024)
    try init(Tables.orders(s, dir).repartition(1)
      .sortWithinPartitions("o_orderkey"), table)
    finally { hc.unset("parquet.block.size"); hc.unset("parquet.page.size") }
    val mx = Tables.orders(s, dir).agg(max(col("o_orderkey"))).head().getLong(0)
    deleteWhere(s, table,
      col("o_orderkey") >= mx / 4 && col("o_orderkey") <= mx * 3 / 4)
    table
  }

  private def lhRowGroupOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import s.implicits._
    val (_, _, rep) = rowGroupPrunePlan(s, table)
    val total = Tables.orders(s, dir).count()
    readRowGroupPruned(s, table)
      .agg(count(lit(1)).as("n"),
        count_distinct($"o_custkey").as("n_cust"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
      .withColumn("groups_skipped", lit(rep.deadGroups >= 1))
      .withColumn("scan_reduced",
        lit(rep.liveRows > 0L && rep.liveRows < total))
  }

  def lhRowGroupDv(s: SparkSession, dir: String): DataFrame =
    lhRowGroupOp(s, dir, lhRowGroupBuild(s, dir))

  val lhRowGroupDvSql: String =
    """WITH b AS (SELECT MAX(o_orderkey) AS mx FROM orders)
      |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price,
      |  TRUE AS groups_skipped, TRUE AS scan_reduced
      |FROM orders, b
      |WHERE NOT (o_orderkey >= b.mx // 4 AND o_orderkey <= (b.mx * 3) // 4)
      |""".stripMargin

  /** Fixed commit-clock origin for the time-travel gate (an arbitrary
    * real instant; gates re-stamp manifests against it so boundary
    * semantics are deterministic regardless of build wall-clock). */
  private val TtBase = 1700000000000L
  private val TtHour = 3600000L

  /** Gate: TIMESTAMP AS OF time travel. Three snapshots with re-stamped
    * commit times one hour apart — v0 = keys ≡ 0 (mod 3), v1 merges in
    * keys ≡ 1, v2 deletes custkey ≡ 2 (mod 5) — then reads at the v0
    * boundary instant (at-or-before includes the commit itself), two
    * mid-window instants, the v1 boundary THROUGH SQL
    * (`TIMESTAMP AS OF timestamp_millis(…)` via [[graft.plans.GraftCatalog]]),
    * and an instant past the newest commit (resolves to latest). Each
    * instant's aggregate is oracle-exact against the relational
    * definition of that snapshot; the pre-history error case is spec'd
    * ([[graft.plans.CowDsv2Spec]]) since a gate result can't carry an
    * exception. */
  private def lhTimeTravelBuild(s: SparkSession, dir: String): String = {
    val table = freshGateTable()
    val orders = Tables.orders(s, dir)
    init(orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), table)
    mergeInto(s, table,
      orders.filter(pmod(col("o_orderkey"), lit(3)) === 1),
      Seq("o_orderkey"))
    deleteWhere(s, table, pmod(col("o_custkey"), lit(5)) === 2)
    // deterministic commit clock: the whole history was built in one
    // wall-clock blink, so boundaries are re-stamped an hour apart
    stampCommitTime(table, 0, TtBase)
    stampCommitTime(table, 1, TtBase + TtHour)
    stampCommitTime(table, 2, TtBase + 2 * TtHour)
    table
  }

  private def lhTimeTravelOp(s: SparkSession, dir: String,
      table: String): DataFrame = {
    def aggOf(df: DataFrame, label: String): DataFrame =
      df.agg(count(lit(1)).as("n"),
        count_distinct(col("o_custkey")).as("n_cust"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
          .as("sum_price"))
        .withColumn("instant", lit(label))
    s.conf.set("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
    val viaSql = s.sql(s"SELECT * FROM graft.`$table` " +
      s"TIMESTAMP AS OF timestamp_millis(${TtBase + TtHour})")
    aggOf(readAsOf(s, table, TtBase), "t0_boundary")
      .unionByName(aggOf(readAsOf(s, table, TtBase + TtHour / 2), "t0_mid"))
      .unionByName(aggOf(viaSql, "t1_boundary_sql"))
      .unionByName(aggOf(
        readAsOf(s, table, TtBase + TtHour + TtHour / 2), "t1_mid"))
      .unionByName(aggOf(
        readAsOf(s, table, TtBase + 10 * TtHour), "latest"))
      .select("instant", "n", "n_cust", "sum_price")
  }

  def lhTimeTravel(s: SparkSession, dir: String): DataFrame =
    lhTimeTravelOp(s, dir, lhTimeTravelBuild(s, dir))

  val lhTimeTravelSql: String =
    """WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
      |v1 AS (SELECT * FROM orders WHERE o_orderkey % 3 <= 1),
      |v2 AS (SELECT * FROM v1 WHERE NOT (o_custkey % 5 = 2)),
      |a0 AS (SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price FROM v0),
      |a1 AS (SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price FROM v1),
      |a2 AS (SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price FROM v2)
      |SELECT 't0_boundary' AS instant, n, n_cust, sum_price FROM a0
      |UNION ALL SELECT 't0_mid', n, n_cust, sum_price FROM a0
      |UNION ALL SELECT 't1_boundary_sql', n, n_cust, sum_price FROM a1
      |UNION ALL SELECT 't1_mid', n, n_cust, sum_price FROM a1
      |UNION ALL SELECT 'latest', n, n_cust, sum_price FROM a2""".stripMargin

  /** Benchmark decomposition of the lakehouse gates: (fixture build,
    * measured operator). The build half — table init, priming merges,
    * the NTILE layout — is identical harness work every round; the op
    * half is the operator whose drift the bench should surface
    * (merge / z-compaction / DV delete+read / change feed / stats-pruned
    * read). `graft.Bench` times the halves separately and reports both. */
  val benchSplit: Map[String,
      (SparkSession, String) => (() => String, String => DataFrame)] = Map(
    "lh_merge" -> ((s, d) =>
      (() => lhMergeBuild(s, d), t => lhMergeOp(s, d, t))),
    "lh_compact_zorder" -> ((s, d) =>
      (() => lhCompactZorderBuild(s, d), t => lhCompactZorderOp(s, d, t))),
    "lh_delete_vectors" -> ((s, d) =>
      (() => lhDeleteVectorsBuild(s, d), t => lhDeleteVectorsOp(s, d, t))),
    "lh_changes" -> ((s, d) =>
      (() => lhChangesBuild(s, d),
        t => tableChanges(s, t, 0, 2, Seq("o_orderkey")))),
    "lh_changes_stream" -> ((s, d) =>
      (() => lhChangesBuild(s, d), t => lhChangesStreamOp(s, d, t))),
    "lh_changes_evolve" -> ((s, d) =>
      (() => lhChangesEvolveBuild(s, d), t => lhChangesEvolveOp(s, d, t))),
    "lh_feed_part" -> ((s, d) =>
      (() => lhFeedPartBuild(s, d), t => lhFeedPartOp(s, d, t))),
    "lh_stream_sink" -> ((s, d) =>
      (() => lhStreamSinkBuild(s, d), t => lhStreamSinkOp(s, d, t))),
    "lh_stream_part" -> ((s, d) =>
      (() => lhStreamPartBuild(s, d), t => lhStreamPartOp(s, d, t))),
    "lh_stream_upsert" -> ((s, d) =>
      (() => lhStreamUpsertBuild(s, d), t => lhStreamUpsertOp(s, d, t))),
    "lh_stream_upsert_evolve" -> ((s, d) =>
      (() => lhStreamUpsertEvolveBuild(s, d),
        t => lhStreamUpsertEvolveOp(s, d, t))),
    "lh_stream_upsert_mid" -> ((s, d) =>
      (() => lhStreamUpsertMidBuild(s, d),
        t => lhStreamUpsertMidOp(s, d, t))),
    "lh_upsert_partial" -> ((s, d) =>
      (() => lhMergeBuild2(s, d), t => lhUpsertPartialOp(s, d, t))),
    "lh_stats_prune" -> ((s, d) =>
      (() => lhStatsPruneBuild(s, d), t => lhStatsPruneOp(s, d, t))),
    "lh_sql_read" -> ((s, d) =>
      (() => lhStatsPruneBuild(s, d), t => lhSqlReadOp(s, d, t))),
    "lh_sql_merge" -> ((s, d) =>
      (() => lhMergeBuild(s, d), t => lhSqlMergeOp(s, d, t))),
    "lh_merge_stmt" -> ((s, d) =>
      (() => lhMergeBuild(s, d), t => lhMergeStmtOp(s, d, t))),
    "lh_merge_evolve" -> ((s, d) =>
      (() => lhMergeBuild(s, d), t => lhMergeEvolveOp(s, d, t))),
    "lh_wap" -> ((s, d) =>
      (() => lhMergeBuild(s, d), t => lhWapOp(s, d, t))),
    "lh_merge_mor" -> ((s, d) =>
      (() => lhMergeBuild(s, d), t => lhMergeMorOp(s, d, t))),
    "lh_file_audit" -> ((s, d) =>
      (() => lhStatsPruneBuild(s, d), t => lhFileAuditOp(s, d, t))),
    "lh_dv_maint" -> ((s, d) =>
      (() => lhStatsPruneBuild(s, d), t => lhDvMaintOp(s, d, t))),
    "lh_dv_compress" -> ((s, d) =>
      (() => lhDvCompressBuild(s, d), t => lhDvCompressOp(s, d, t))),
    "lh_merge_hybrid" -> ((s, d) =>
      (() => lhStatsPruneBuild(s, d), t => lhMergeHybridOp(s, d, t))),
    "lh_maintain" -> ((s, d) =>
      (() => lhStatsPruneBuild(s, d), t => lhMaintainOp(s, d, t))),
    "lh_skip_rule" -> ((s, d) =>
      (() => lhStatsPruneBuild(s, d), t => lhSkipRuleOp(s, d, t))),
    "lh_count_push" -> ((s, d) =>
      (() => lhCountPushBuild(s, d), t => lhCountPushOp(s, d, t))),
    "lh_minmax_push" -> ((s, d) =>
      (() => lhStatsPruneBuild(s, d), t => lhMinmaxPushOp(s, d, t))),
    "lh_count_meta" -> ((s, d) =>
      (() => lhStatsPruneBuild(s, d), t => lhCountMetaOp(s, d, t))),
    "lh_minmax_meta" -> ((s, d) =>
      (() => lhMinMaxBuild(s, d), t => lhMinMaxOp(s, d, t))),
    "lh_bloom_prune" -> ((s, d) =>
      (() => lhBloomBuild(s, d), t => lhBloomOp(s, d, t))),
    "lh_spj_join" -> ((s, d) =>
      (() => { val (a, b) = lhSpjBuild(s, d); s"$a,$b" },
        t => { val Array(a, b) = t.split(","); lhSpjOp(s, d, (a, b)) })),
    "lh_partition_prune" -> ((s, d) =>
      (() => lhPartitionPruneBuild(s, d), t => lhPartitionPruneOp(s, d, t))),
    "lh_rowgroup_dv" -> ((s, d) =>
      (() => lhRowGroupBuild(s, d), t => lhRowGroupOp(s, d, t))),
    "lh_evolve2" -> ((s, d) =>
      (() => {
        val table = freshGateTable()
        val filed = GlobalNtile.withBucket(
          Tables.orders(s, d)
            .withColumn("o_qty",
              pmod(col("o_orderkey"), lit(1000L)).cast("int")),
          "__f", StatsPruneFiles, Seq(col("o_custkey"), col("o_orderkey")))
        initFiled(filed, table, "__f", StatsPruneFiles)
        deleteWhere(s, table, pmod(col("o_orderkey"), lit(7)) === 1)
        table
      }, t => {
        alterTable(s, t, renames = Map("o_custkey" -> "o_cust"),
          drops = Seq("o_orderpriority"), widens = Map("o_qty" -> LongType))
        val source = Tables.orders(s, d)
          .filter(pmod(col("o_orderkey"), lit(5)) === 0)
          .select(col("o_orderkey"), col("o_custkey").as("o_cust"),
            col("o_orderstatus"),
            (col("o_totalprice") * 2).as("o_totalprice"), col("o_orderdate"),
            (pmod(col("o_orderkey"), lit(1000L)) + 3000000000L).as("o_qty"))
        mergeInto(s, t, source, Seq("o_orderkey"))
        deleteWhere(s, t, pmod(col("o_cust"), lit(11)) === 2)
        read(s, t)
      })),
    "lh_maintain_conc" -> ((s, d) =>
      (() => lhStatsPruneBuild(s, d), t => lhMaintainConcOp(s, d, t))),
    "lh_time_travel" -> ((s, d) =>
      (() => lhTimeTravelBuild(s, d), t => lhTimeTravelOp(s, d, t))),
    "lh_evolve" -> ((s, d) =>
      (() => lhMergeBuild(s, d), t => {
        val source = Tables.orders(s, d)
          .filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("o_flag", pmod(col("o_orderkey"), lit(3)))
        mergeInto(s, t, source, Seq("o_orderkey"),
          deleteCond = Some(col("o_orderstatus") === "F"), insert = true,
          evolveSchema = true)
        deleteWhere(s, t, pmod(col("o_custkey"), lit(11)) === 2)
        read(s, t)
      })),
  )

  val lhStatsPruneSql: String =
    s"""WITH b AS (SELECT (SELECT MAX(o_custkey) FROM orders) // 4 AS lo,
       |    (SELECT MAX(o_custkey) FROM orders) // 4 +
       |    (SELECT MAX(o_custkey) FROM orders) // 10 AS hi),
       |f AS (SELECT o_custkey,
       |    NTILE($StatsPruneFiles) OVER (ORDER BY o_custkey, o_orderkey)
       |      AS fid
       |  FROM orders),
       |st AS (SELECT fid, MIN(o_custkey) AS mn, MAX(o_custkey) AS mx
       |  FROM f GROUP BY 1),
       |planned AS (SELECT COUNT(*) AS c FROM st, b
       |  WHERE mn <= b.hi AND mx >= b.lo)
       |SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    AS sum_price,
       |  (SELECT c FROM planned) AS planned_files,
       |  CAST($StatsPruneFiles AS BIGINT) AS total_files
       |FROM orders, b
       |WHERE o_custkey BETWEEN b.lo AND b.hi AND o_orderkey % 7 <> 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lh_merge" -> lhMerge,
    "lh_compact_zorder" -> lhCompactZorder,
    "lh_delete_vectors" -> lhDeleteVectors,
    "lh_changes" -> lhChanges,
    "lh_changes_stream" -> lhChangesStream,
    "lh_changes_evolve" -> lhChangesEvolve,
    "lh_stats_prune" -> lhStatsPrune,
    "lh_evolve" -> lhEvolve,
    "lh_evolve2" -> lhEvolve2,
    "lh_maintain_conc" -> lhMaintainConc,
    "lh_feed_part" -> lhFeedPart,
    "lh_count_meta" -> lhCountMeta,
    "lh_count_push" -> lhCountPush,
    "lh_minmax_push" -> lhMinmaxPush,
    "lh_minmax_meta" -> lhMinMaxMeta,
    "lh_bloom_prune" -> lhBloomPrune,
    "lh_spj_join" -> lhSpjJoin,
    "lh_partition_prune" -> lhPartitionPrune,
    "lh_rowgroup_dv" -> lhRowGroupDv,
    "lh_skip_rule" -> lhSkipRule,
    "lh_sql_read" -> lhSqlRead,
    "lh_sql_merge" -> lhSqlMerge,
    "lh_merge_stmt" -> lhMergeStmt,
    "lh_merge_evolve" -> lhMergeEvolve,
    "lh_wap" -> lhWap,
    "lh_merge_mor" -> lhMergeMor,
    "lh_file_audit" -> lhFileAudit,
    "lh_dv_maint" -> lhDvMaint,
    "lh_dv_compress" -> lhDvCompress,
    "lh_merge_hybrid" -> lhMergeHybrid,
    "lh_maintain" -> lhMaintain,
    "lh_stream_sink" -> lhStreamSink,
    "lh_stream_upsert" -> lhStreamUpsert,
    "lh_stream_upsert_evolve" -> lhStreamUpsertEvolve,
    "lh_stream_upsert_mid" -> lhStreamUpsertMid,
    "lh_upsert_partial" -> lhUpsertPartial,
    "lh_stream_part" -> lhStreamPart,
    "lh_time_travel" -> lhTimeTravel,
  )

  val oracles: Map[String, String] = Map(
    "lh_merge" -> lhMergeSql,
    "lh_compact_zorder" -> lhCompactZorderSql,
    "lh_delete_vectors" -> lhDeleteVectorsSql,
    "lh_changes" -> lhChangesSql,
    "lh_changes_stream" -> lhChangesSql,
    "lh_changes_evolve" -> lhChangesEvolveSql,
    "lh_stats_prune" -> lhStatsPruneSql,
    "lh_evolve" -> lhEvolveSql,
    "lh_evolve2" -> lhEvolve2Sql,
    "lh_maintain_conc" -> lhMaintainConcSql,
    "lh_feed_part" -> lhFeedPartSql,
    "lh_count_meta" -> lhCountMetaSql,
    "lh_count_push" -> lhCountPushSql,
    "lh_minmax_push" -> lhMinmaxPushSql,
    "lh_minmax_meta" -> lhMinMaxMetaSql,
    "lh_bloom_prune" -> lhBloomPruneSql,
    "lh_spj_join" -> lhSpjJoinSql,
    "lh_partition_prune" -> lhPartitionPruneSql,
    "lh_rowgroup_dv" -> lhRowGroupDvSql,
    "lh_skip_rule" -> lhStatsPruneSql,
    "lh_sql_read" -> lhSqlReadSql,
    "lh_sql_merge" -> lhMergeSql,
    "lh_merge_stmt" -> lhMergeSql,
    "lh_merge_evolve" -> lhMergeEvolveSql,
    "lh_wap" -> lhWapSql,
    "lh_merge_mor" -> lhMergeSql,
    "lh_file_audit" -> lhFileAuditSql,
    "lh_dv_maint" -> lhDvMaintSql,
    "lh_dv_compress" -> lhDvCompressSql,
    "lh_merge_hybrid" -> lhMergeHybridSql,
    "lh_maintain" -> lhMaintainSql,
    "lh_stream_sink" -> lhStreamSinkSql,
    "lh_stream_upsert" -> lhStreamUpsertSql,
    "lh_stream_upsert_evolve" -> lhStreamUpsertEvolveSql,
    "lh_stream_upsert_mid" -> lhStreamUpsertMidSql,
    "lh_upsert_partial" -> lhUpsertPartialSql,
    "lh_stream_part" -> lhStreamPartSql,
    "lh_time_travel" -> lhTimeTravelSql,
  )
}
