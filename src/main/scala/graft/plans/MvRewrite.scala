package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.operators.CowTable

/** Transparent materialized-view rewrite — the optimizer-rule extension
  * point (`injectOptimizerRule` / `experimental.extraOptimizations`),
  * complementing graft's custom expressions, TVF, and planner strategy.
  *
  * A registered MV is `SELECT keys, count(*) cnt, sum(m) sum_m, min(m)
  * min_m, max(m) max_m GROUP BY keys` stored as parquet. The rule
  * rewrites any aggregate over the BASE table whose shape the MV can
  * answer — grouping by a subset of the MV keys, filters that touch only
  * MV key columns, and SUM / MIN / MAX / COUNT(*) over MV measures —
  * into a re-aggregation over the MV:
  *
  *   sum(x) → sum(sum_x)   min(x) → min(min_x)   max(x) → max(max_x)
  *   count(*) → coalesce(sum(cnt), 0)
  *
  * all with the ORIGINAL output exprIds preserved, so parent operators
  * keep resolving. At 100 TB this is the difference between scanning the
  * fact table and scanning a keys-cardinality summary: the MV is built
  * once (one shuffle) and kept current incrementally by
  * [[graft.operators.Changelog.aggMaintain]] (DBSP-style retract-add),
  * so dashboard-shaped aggregates never touch the raw data. Freshness is
  * the registrar's contract: register an MV only while its maintenance
  * loop runs; `MvCatalog.clear()` drops all rewrites.
  *
  * Correctness bar: gate queries `mv_rewrite` / `mv_rewrite_rollup` run
  * the BASE-table query through the rewrite and are oracle-checked
  * against DuckDB executing the same SQL on the raw parquet — the rewrite
  * must be value-identical, not just plausible. `MvRewriteSpec` further
  * pins that the rewritten plan scans ONLY the MV files and that
  * out-of-shape queries (measure filters, AVG, count(col), distinct) are
  * left untouched.
  */
case class MvDef(
    name: String,
    basePathTag: String,
    groupKeys: Seq[String],
    measures: Seq[String],
    mvRelation: LogicalRelation) {
  private val keySet = groupKeys.map(_.toLowerCase).toSet
  private val colSet = mvRelation.output.map(_.name.toLowerCase).toSet
  def isKey(n: String): Boolean = keySet.contains(n.toLowerCase)
  def isMeasure(n: String): Boolean =
    measures.exists(_.equalsIgnoreCase(n))
  /** Does the stored MV carry this column? min_/max_ sidecars are
    * optional — an incrementally-maintained MV (retract-add) has only
    * the additive cnt/sum_ columns, and min/max rewrites must then be
    * refused rather than assumed. */
  def hasCol(n: String): Boolean = colSet.contains(n.toLowerCase)
  /** Fresh-exprId copy of the MV scan for this rewrite site. */
  def newMvRelation(): LogicalRelation =
    mvRelation.asInstanceOf[MultiInstanceRelation].newInstance()
      .asInstanceOf[LogicalRelation]
}

object MvCatalog {
  private val defs = new ConcurrentHashMap[String, MvDef]()

  /** Normalize a path to its filesystem form for matching against scan
    * root paths (strip scheme + trailing slash). */
  def pathTag(p: String): String = {
    val noScheme = p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "")
      .replaceFirst("^file:", "")
    noScheme.replaceAll("/+$", "")
  }

  /** Identity of a MULTI-file scan (a manifest-pinned snapshot like
    * [[graft.operators.CowTable]]): order-insensitive hash of the
    * normalized file set. Registering a summary against a file set
    * pins it to that exact snapshot — after a merge commits a new
    * manifest the scan's file set changes, the tag no longer matches,
    * and the rewrite silently stands down instead of serving a STALE
    * summary; re-register after re-maintaining the MV. */
  def fileSetTag(files: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.map(pathTag).sorted.foreach(f => md.update((f + "\n").getBytes("UTF-8")))
    "files:" + md.digest().map("%02x".format(_)).mkString
  }

  /** Identity of a DV-APPLIED snapshot scan: the data file set AND the
    * deletion-vector file set, hashed together. Registering a
    * DV-adjusted summary against this tag means a LATER delete (new DV
    * file) or merge (new data file) changes the tag and the rewrite
    * stands down instead of serving a stale summary. */
  def dvSnapshotTag(files: Seq[String], dvs: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.map(pathTag).sorted.foreach(f => md.update((f + "\n").getBytes("UTF-8")))
    md.update("|dv|\n".getBytes("UTF-8"))
    dvs.map(pathTag).sorted.foreach(f => md.update((f + "\n").getBytes("UTF-8")))
    "dvfiles:" + md.digest().map("%02x".format(_)).mkString
  }

  /** Register `mvPath` as the DV-ADJUSTED summary of a snapshot scanned
    * as (data files, dv files) — see [[dvSnapshotTag]]. */
  def registerSnapshot(spark: SparkSession, name: String,
      files: Seq[String], dvs: Seq[String], groupKeys: Seq[String],
      measures: Seq[String], mvPath: String): MvDef =
    registerTag(spark, name, dvSnapshotTag(files, dvs), groupKeys,
      measures, mvPath)

  def isEmpty: Boolean = defs.isEmpty
  def clear(): Unit = defs.clear()
  def lookup(tag: String): Option[MvDef] = Option(defs.get(tag))

  /** [[buildMv]] runs its own keys-level aggregate over the base — a
    * shape [[MvRewriteRule]] serves. If a registration for the same base
    * is still live (an MV REBUILD after the base changed), the rule
    * would rewrite the build plan to scan mvPath while the build
    * overwrites mvPath: a crash at best, a silently-reproduced STALE
    * summary at worst. Builds therefore suspend the rule for their
    * duration (counter, so concurrent builds nest). */
  private val buildsInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  def rewriteSuspended: Boolean = buildsInFlight.get() > 0

  /** Register `mvPath` as the summary of a manifest-pinned snapshot
    * scanned as the exact file set `files` (see [[fileSetTag]]). */
  def registerFiles(spark: SparkSession, name: String, files: Seq[String],
      groupKeys: Seq[String], measures: Seq[String], mvPath: String): MvDef =
    registerTag(spark, name, fileSetTag(files), groupKeys, measures, mvPath)

  /** Register `mvPath` (parquet written by [[buildMv]]) as the summary of
    * `basePath` grouped by `groupKeys` with measures `measures`. */
  def register(spark: SparkSession, name: String, basePath: String,
      groupKeys: Seq[String], measures: Seq[String], mvPath: String): MvDef =
    registerTag(spark, name, pathTag(basePath), groupKeys, measures, mvPath)

  private def registerTag(spark: SparkSession, name: String, tag: String,
      groupKeys: Seq[String], measures: Seq[String], mvPath: String): MvDef = {
    val rel = ColumnBridge.plan(spark.read.parquet(mvPath)).collectFirst {
      case r: LogicalRelation => r
    }.getOrElse(throw new IllegalStateException(
      s"mv $name: $mvPath did not analyze to a file relation"))
    // required shape: keys + cnt + a sum per measure; min_/max_ columns
    // are optional and unlock Min/Max rewrites only when present
    val expected = groupKeys ++ Seq("cnt") ++ measures.map(m => s"sum_$m")
    val have = rel.output.map(_.name.toLowerCase).toSet
    val missing = expected.filterNot(c => have.contains(c.toLowerCase))
    require(missing.isEmpty,
      s"mv $name at $mvPath is missing columns: ${missing.mkString(", ")}")
    val d = MvDef(name, tag, groupKeys, measures, rel)
    defs.put(d.basePathTag, d)
    d
  }

  /** One-shuffle MV build: keys → (cnt, sum[, min, max] per measure).
    * Pass `withMinMax = false` for an MV that will be maintained
    * incrementally (min/max are not retractable). Refuses name
    * collisions between keys and generated measure columns. */
  def buildMv(base: DataFrame, groupKeys: Seq[String], measures: Seq[String],
      mvPath: String, withMinMax: Boolean = true): Unit = {
    val generated = Seq("cnt") ++
      measures.flatMap(m => Seq(s"sum_$m", s"cnt_$m", s"min_$m", s"max_$m"))
    val clash = groupKeys.map(_.toLowerCase) intersect generated.map(_.toLowerCase)
    require(clash.isEmpty, s"mv key/measure name collision: ${clash.mkString(",")}")
    val aggs = count(lit(1)).as("cnt") +: measures.flatMap(m =>
      Seq(sum(col(m)).as(s"sum_$m"),
        // non-null count per measure: the denominator avg()/count(col)
        // need; additive, so retract-add maintenance can carry it too
        count(col(m)).as(s"cnt_$m")) ++ (if (withMinMax)
        Seq(min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m")) else Nil))
    buildsInFlight.incrementAndGet()
    try {
      base.groupBy(groupKeys.map(col): _*).agg(aggs.head, aggs.tail: _*)
        .write.mode("overwrite").parquet(mvPath)
    } finally buildsInFlight.decrementAndGet()
  }
}

object MvRewriteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvCatalog.isEmpty || MvCatalog.rewriteSuspended) plan
    else plan.transform {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

  /** Identity of a v1 file scan: its root path, or for a multi-path
    * scan (manifest-pinned file listing) the file-set hash; a DV-applied
    * snapshot hashes data + DV file sets together. */
  private def scanTag(rel: LogicalRelation,
      dvFiles: Option[Seq[String]]): Option[String] = rel.relation match {
    case fs: HadoopFsRelation => dvFiles match {
      case Some(dvs) => Some(MvCatalog.dvSnapshotTag(
        fs.location.rootPaths.map(_.toString), dvs))
      case None => fs.location.rootPaths match {
        case Seq(p) => Some(MvCatalog.pathTag(p.toString))
        case Seq() => None
        case many => Some(MvCatalog.fileSetTag(many.map(_.toString)))
      }
    }
    case _ => None
  }

  /** Match the DATA side of a DV-applied snapshot read: the projection
    * [[graft.operators.CowTable]]'s read path plants over the data scan
    * (data attrs + the `__dv_probe_fp` pathnorm alias + the row-index
    * extract). The marker alias is the recognizer, and its metadata
    * carries the snapshot's DV file set — the runs side may be a
    * driver-built LocalRelation with no paths of its own. Data
    * attributes pass through untouched, so the aggregate above still
    * references the relation's own output. */
  private def dvDataSide(plan: LogicalPlan):
      Option[(LogicalRelation, Seq[Expression], Seq[String])] = {
    def dvFiles(pl: Seq[NamedExpression]): Option[Seq[String]] =
      pl.collectFirst {
        case a: Alias if a.name == "__dv_probe_fp" &&
            a.metadata.contains(CowTable.DvFilesMetaKey) =>
          a.metadata.getStringArray(CowTable.DvFilesMetaKey).toSeq
      }
    plan match {
      case Project(pl, rel: LogicalRelation) =>
        dvFiles(pl).map((rel, Nil, _))
      // a user predicate pushed below the DV join lands between the
      // probe projection and the scan — capture it as a filter
      case Project(pl, Filter(c, rel: LogicalRelation)) =>
        dvFiles(pl).map((rel, splitConjunctivePredicates(c), _))
      case _ => None
    }
  }

  /** Strip pruning Projects and collect Filter conjuncts down to a bare
    * file scan. Only attribute-only Projects are transparent — anything
    * computed in between makes the shape unrecognizable. ONE shape of
    * computed subtree IS recognized: the DV-application pattern the CoW
    * read path plants (a left-anti join of the data scan against the
    * per-file DV runs on dvrunscontain(...)) — it returns the
    * data relation plus the DV file set, so a DV-adjusted MV can serve
    * aggregates over a merge-on-read snapshot without a rewriteDeletes
    * pass. */
  private def stripToScan(plan: LogicalPlan, filters: Seq[Expression] = Nil):
      Option[(Seq[Expression], LogicalRelation, Option[Seq[String]])] =
    plan match {
      case Filter(cond, child) =>
        stripToScan(child, filters ++ splitConjunctivePredicates(cond))
      case Join(l, _, LeftAnti, Some(cond), _)
          if cond.exists(_.isInstanceOf[graft.functions.DvRunsContain]) =>
        for ((dataRel, pushed, dvs) <- dvDataSide(l))
          yield (filters ++ pushed, dataRel, Some(dvs))
      case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
        stripToScan(child, filters)
      case rel: LogicalRelation => Some((filters, rel, None))
      case _ => None
    }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] =
    e match {
      case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
      case other => Seq(other)
    }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = for {
    (filters, rel, dvFiles) <- stripToScan(agg.child)
    tag <- scanTag(rel, dvFiles)
    mv <- MvCatalog.lookup(tag)
    if agg.groupingExpressions.forall {
      case a: AttributeReference => mv.isKey(a.name)
      case _ => false
    }
    // filters must touch only MV key columns — a measure filter changes
    // which base rows aggregate and the MV cannot answer it
    if filters.forall(_.references.forall(a => mv.isKey(a.name)))
    rewritten <- rewriteAggExprs(agg, mv)
  } yield {
    val mvRel = mv.newMvRelation()
    val byName = mvRel.output.map(a => a.name.toLowerCase -> a).toMap
    def mvAttr(n: String): Attribute = byName(n.toLowerCase)
    val remappedFilters = filters.map(_.transform {
      case a: AttributeReference => mvAttr(a.name)
    })
    val newGroupings = agg.groupingExpressions.map {
      case a: AttributeReference => mvAttr(a.name)
    }
    val newAggExprs = rewritten.map(_(mvAttr))
    // prune the MV scan explicitly: this subtree is born AFTER the main
    // optimizer's column-pruning batch, so without a Project the file
    // scan would read every MV column
    val needed = AttributeSet(
      newAggExprs.flatMap(_.references) ++ newGroupings ++
        remappedFilters.flatMap(_.references))
    val pruned = Project(mvRel.output.filter(needed.contains), mvRel)
    val filtered: LogicalPlan =
      if (remappedFilters.isEmpty) pruned
      else Filter(remappedFilters.reduce(And), pruned)
    Aggregate(newGroupings, newAggExprs, filtered)
  }

  /** Per-output-expression rewrite plans, deferred until we have the MV
    * attribute map; None overall if ANY output expression is out of
    * shape (then the whole aggregate is left alone). */
  private type AttrMap = String => Attribute
  private def rewriteAggExprs(agg: Aggregate,
      mv: MvDef): Option[Seq[AttrMap => NamedExpression]] = {
    val plans = agg.aggregateExpressions.map { ne => rewriteOne(ne, mv) }
    if (plans.forall(_.isDefined)) Some(plans.map(_.get)) else None
  }

  private def rewriteOne(ne: NamedExpression,
      mv: MvDef): Option[AttrMap => NamedExpression] = ne match {
    // bare grouping column in the output list
    case a: AttributeReference if mv.isKey(a.name) =>
      Some(m => Alias(m(a.name), a.name)(exprId = a.exprId))
    // SELECT key AS k
    case al @ Alias(a: AttributeReference, name) if mv.isKey(a.name) =>
      Some(m => Alias(m(a.name), name)(exprId = al.exprId))
    case al @ Alias(ae: AggregateExpression, name)
        if !ae.isDistinct && ae.filter.isEmpty =>
      val rw: Option[AttrMap => Expression] = ae.aggregateFunction match {
        case Sum(x: AttributeReference, _)
            if mv.isMeasure(x.name) && mv.hasCol(s"sum_${x.name}") =>
          Some(m => castTo(ae.copy(aggregateFunction =
            Sum(m(s"sum_${x.name}"))), ae.dataType))
        case Min(x: AttributeReference)
            if mv.isMeasure(x.name) && mv.hasCol(s"min_${x.name}") =>
          Some(m => castTo(ae.copy(aggregateFunction =
            Min(m(s"min_${x.name}"))), ae.dataType))
        case Max(x: AttributeReference)
            if mv.isMeasure(x.name) && mv.hasCol(s"max_${x.name}") =>
          Some(m => castTo(ae.copy(aggregateFunction =
            Max(m(s"max_${x.name}"))), ae.dataType))
        // count(*) / count(1): every child foldable and non-null
        case c: Count if c.children.nonEmpty &&
            c.children.forall(e => e.foldable && e.eval(null) != null) =>
          Some(m => Coalesce(Seq(
            ae.copy(aggregateFunction = Sum(m("cnt"))), Literal(0L))))
        // count(col): the stored per-measure NON-null count
        case Count(Seq(x: AttributeReference))
            if mv.isMeasure(x.name) && mv.hasCol(s"cnt_${x.name}") =>
          Some(m => Coalesce(Seq(
            ae.copy(aggregateFunction = Sum(m(s"cnt_${x.name}"))),
            Literal(0L))))
        // avg(col) = sum(sum_x) / sum(cnt_x) — the non-null denominator;
        // needs BOTH stored columns and a double result (decimal avg
        // widens differently and is refused). Two fresh
        // AggregateExpressions (fresh resultIds) inside one result
        // expression; null semantics carry: empty/all-null group →
        // sum null → division null, exactly avg()'s contract.
        case Average(x: AttributeReference, _)
            if mv.isMeasure(x.name) && mv.hasCol(s"sum_${x.name}") &&
              mv.hasCol(s"cnt_${x.name}") &&
              ae.dataType == org.apache.spark.sql.types.DoubleType =>
          Some { m =>
            val sumAgg = AggregateExpression(Sum(m(s"sum_${x.name}")),
              org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
              isDistinct = false)
            val cntAgg = AggregateExpression(Sum(m(s"cnt_${x.name}")),
              org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
              isDistinct = false)
            Divide(
              Cast(sumAgg, org.apache.spark.sql.types.DoubleType),
              Cast(cntAgg, org.apache.spark.sql.types.DoubleType))
          }
        case _ => None
      }
      rw.map(f => (m: AttrMap) => Alias(f(m), name)(exprId = al.exprId))
    case _ => None
  }

  /** Re-aggregation can widen (decimal sum-of-sum); pin the original
    * result type so parents keep resolving. */
  private def castTo(e: Expression, dt: org.apache.spark.sql.types.DataType): Expression =
    if (e.dataType == dt) e else Cast(e, dt)
}

/** Imperative enablement for an existing session (the declarative path is
  * `spark.sql.extensions=graft.functions.GraftExtensions`). */
object MvRewriteApi {
  def enable(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(MvRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewriteRule
}
