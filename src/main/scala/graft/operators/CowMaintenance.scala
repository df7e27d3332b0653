package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The maintenance seam of [[CowTable]]: compaction,
  * [[rewriteDeletes]], [[rebucketTable]], [[vacuum]], snapshot
  * retention and feed cursors, the change feed ([[tableChanges]]) and
  * MV registration. */
private[operators] trait CowMaintenance { self: CowTable.type =>

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
    // both sides are changed-file-sized, so the check is delta-priced:
    // ONE exchange groups both sides by (side, key); the duplicated keys
    // fold to one count per side, so at most 2 rows reach the driver
    def keyed(side: DataFrame, name: String): DataFrame =
      side.select(lit(name).as("__side") +: keys.map(col): _*)
    val dups = keyed(oldSide, "from").unionByName(keyed(newSide, "to"))
      .groupBy(col("__side") +: keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1L)
      .groupBy("__side").agg(sum(col("__n") - 1L).as("__dups"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sorted
    require(dups.isEmpty, dups.map { case (side, n) =>
      s"tableChanges: $side version has $n duplicate keys on $keys"
    }.mkString("; "))
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
}
