package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or => COr}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.Tables

/** The planning seam of [[CowTable]]: manifest-stats, bloom and
  * partition pruning, metadata-only count/min/max, snapshot,
  * time-travel and row-group-pruned reads, and the deletion-vector
  * reader ([[dvFiles]]) with its read-side filter ([[applyDvFilter]]). */
private[operators] trait CowPlanning { self: CowTable.type =>

  /** The one deletion-vector reader: ONE row per DV'd data file of
    * `dvs` — `__dv_fp` (the normalized path), `__dv_starts`/`__dv_lens`
    * (its runs, sorted by start) and `__dv_n` (its deleted rows; runs
    * are disjoint, so summed lengths are exact). The reserved names let
    * the result join onto user-schema rows. One size switch, decided
    * from the run counts manifests record (`runs` must count every
    * path of `dvs`): at most [[SmallSidecarEntries]] runs are served on
    * the driver from [[driverRuns]] as a LocalRelation, so a projection
    * of it collects with no Spark job; above it, a columnar per-file
    * aggregate over the DV parquet. `onDriver` serves any size on the
    * driver — for a caller that may not start a Spark job
    * ([[applyDvFilter]]'s probe outside whole-stage codegen). */
  private[graft] def dvFiles(spark: SparkSession, dvs: Seq[String],
      runs: Map[String, Long], onDriver: Boolean = false): DataFrame =
    if (onDriver || dvsSmall(dvs, runs)) {
      val rows = driverRuns(spark, dvs).toSeq.map {
        case (fp, (starts, lens)) =>
          Row(fp, starts.toSeq, lens.toSeq, lens.sum)
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

  /** Sorted runs per normalized data-file path. */
  private type FileRuns = Map[String, (Array[Long], Array[Long])]

  /** Each DV file's parsed runs, keyed by the DV path. A DV file is
    * IMMUTABLE once its manifest commits (its directory name carries a
    * UUID, [[versionDir]]) — the argument [[loadEntries]]' cache makes
    * for sidecars — so a later snapshot read assembles its runs with no
    * file I/O. Only [[dvFiles]]' driver branch fills it (an entry passes
    * [[SmallSidecarEntries]] runs only through its `onDriver` override);
    * bounded like the entries cache (whole-map clear past the cap) and
    * cleared with it ([[clearEntriesCache]]). */
  private[operators] val dvRunCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileRuns]()
  private val DvRunCacheCap = 256

  /** The runs of the DV file `dv`: a driver parquet read (no Spark job)
    * on the first call, the cache after. Paths normalize once per
    * distinct stored form, not per run. */
  private def dvRunsOf(spark: SparkSession, dv: String): FileRuns = {
    val hit = dvRunCache.get(dv)
    if (hit != null) hit
    else {
      val parsed = mergeRuns(readParquetDriver(spark, Seq(dv))(r =>
          (r.needStr("file_path"), (r.needLong("start"), r.needLong("len"))))
        .groupBy(_._1).toSeq.map { case (raw, rs) =>
          normalize(raw) -> rs.map(_._2) })
      if (dvRunCache.size >= DvRunCacheCap) dvRunCache.clear()
      dvRunCache.put(dv, parsed)
      parsed
    }
  }

  /** `(path, (start, len))` groups as [[FileRuns]], each sorted by
    * start. */
  private def mergeRuns(parts: Seq[(String, Seq[(Long, Long)])]): FileRuns =
    parts.groupBy(_._1).map { case (fp, ps) =>
      val sorted = ps.flatMap(_._2).sortBy(_._1)
      fp -> ((sorted.map(_._1).toArray, sorted.map(_._2).toArray))
    }

  /** [[dvFiles]]' driver branch: every DV'd file's runs across `dvs`
    * (a file deleted from by several versions has runs in several DV
    * files), assembled from [[dvRunsOf]]. */
  private def driverRuns(spark: SparkSession, dvs: Seq[String]): FileRuns =
    dvs.map(dvRunsOf(spark, _)) match {
      case Seq(one) => one
      case many => mergeRuns(many.flatMap(_.toSeq.map { case (fp, (s, l)) =>
        fp -> s.toSeq.zip(l) }))
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
  private[operators] def partValueCol(dataSchema: StructType, c: String): Column = {
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
  private[operators] def rawScan(spark: SparkSession, m: Manifest,
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
    * positions PER FILE ([[applyDvFilter]]) — a Filter probing the
    * snapshot's per-file runs (from the one DV reader, [[dvFiles]],
    * collected when the read executes) through a broadcast variable,
    * with the codegen'd binary-search
    * [[graft.functions.DvRunsContain]] on `_metadata.row_index` (a
    * PUBLIC Spark metadata column: the row's stable position within its
    * parquet file), so the positional delete needs no key or schema
    * requirement on the table and never builds state proportional to
    * the number of deleted ROWS — only to the number of runs, and past
    * [[DvBroadcastRunsConf]] runs it becomes a shuffled range anti-join
    * (spillable, executor-side). Restricting the scan to `onlyFiles`
    * keeps the same semantics on a file subset: runs for files outside
    * the subset simply never match. */
  private[operators] def readSnapshot(spark: SparkSession, m: Manifest,
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
    * [[DvBroadcastRunsConf]] total runs, the per-file runs ship as ONE
    * broadcast variable ([[graft.functions.DvRunSet]]: one collect of
    * [[dvFiles]], a driver LocalRelation with no Spark job at or under
    * [[SmallSidecarEntries]] runs, a columnar aggregate above) and a
    * Filter drops rows whose `riCol` falls in a run of their file — a
    * hash lookup per file and a binary search per row
    * ([[graft.functions.DvRunsContain]]), inside whole-stage codegen.
    * The collect happens when the read EXECUTES, never when it is built,
    * explained or answered by the MV rewrite. No join: the runs are no
    * plan-side relation, so the read plans no broadcast exchange, and
    * predicate pushdown and column pruning reach the scan as through
    * any filter. Past that budget it is a shuffled range anti-join
    * against the raw runs: still executor-side, no broadcast
    * proportional to the delete set. `fpCol` must already be
    * normalized. Both decisions read the run counts RECORDED IN THE
    * MANIFEST — no footer is opened on the read path. The probe carries
    * the DV file set: the MV rewrite reads a DV-applied scan's snapshot
    * identity from it. */
  private[graft] def applyDvFilter(spark: SparkSession, df: DataFrame,
      m: Manifest, fpCol: Column, riCol: Column): DataFrame = {
    val limit = spark.conf.getOption(DvBroadcastRunsConf)
      .map(_.toLong).getOrElse(DvBroadcastRunsDefault)
    if (m.dvs.isEmpty) df
    else if (m.dvs.map(m.dvRunCounts).sum <= limit) {
      val runs = new graft.functions.DvRunSet(m.dvs, jobs =>
        spark.sparkContext.broadcast(new graft.functions.DvRunIndex(
          dvFiles(spark, m.dvs, m.dvRunCounts, onDriver = !jobs)
            .select("__dv_fp", "__dv_starts", "__dv_lens").collect()
            .map(r => r.getString(0) -> ((r.getSeq[Long](1).toArray,
              r.getSeq[Long](2).toArray))).toMap)))
      df.filter(!graft.functions.DvRunsContain(runs, fpCol, riCol))
    } else {
      // the row index materializes on the left FIRST: the runs side is
      // itself a parquet scan, so a raw `_metadata` reference in the
      // join condition would be ambiguous between the two scans. The
      // runs ride under reserved __dv_ names so user columns named
      // fp/start/len can't collide either.
      val runs = dvRuns(spark, m.dvs).select(col("fp").as("__dv_fp"),
        col("start").as("__dv_start"), col("len").as("__dv_len"))
      df.withColumn("__dv_probe_fp", fpCol)
        .withColumn("__dv_probe_ri", riCol)
        .join(runs,
          col("__dv_probe_fp") === col("__dv_fp") &&
            col("__dv_probe_ri") >= col("__dv_start") &&
            col("__dv_probe_ri") < col("__dv_start") + col("__dv_len"),
          "left_anti")
        .drop("__dv_probe_fp", "__dv_probe_ri")
    }
  }
}
