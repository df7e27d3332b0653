package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The row-level seam of [[CowTable]]: [[deleteWhere]] and the one
  * merge engine ([[mergeRows]]) behind [[mergeInto]], [[upsertMor]]
  * and [[mergeIntoHybrid]]. */
private[operators] trait CowRowOps { self: CowTable.type =>

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
  private[operators] def denseSplit(spark: SparkSession, table: String, m: Manifest,
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
}
