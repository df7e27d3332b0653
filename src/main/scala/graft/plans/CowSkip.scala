package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

import graft.operators.CowTable

/** Manifest-stats data skipping as an OPTIMIZER RULE — the Spark-first
  * form of [[CowTable.readWhere]]: the user writes a plain
  * `CowTable.read(...).filter(cond)` (or any query whose pushed-down
  * predicate lands on the snapshot scan) and Catalyst re-plans the scan
  * over only the files the per-file min/max statistics cannot rule out.
  *
  * Mechanics mirror [[MvRewriteRule]]'s extension-point discipline:
  * `CowTable.read`/`readVersion` register the snapshot's exact file set
  * (the [[MvCatalog.fileSetTag]] identity — a later commit changes the
  * set, the tag no longer matches, and the rule stands down rather than
  * prune against a stale manifest); the rule matches
  * `Filter(cond, scan)` AFTER the main optimizer batches (so predicate
  * pushdown has already moved the condition adjacent to the scan, also
  * through the deletion-vector anti-join, whose DV side has its own
  * unregistered relation and is untouched); the surviving-file relation
  * keeps the ORIGINAL relation's output attributes — only the file
  * index is replaced — so no expression above needs remapping, and the
  * Filter stays in place for exact row-level semantics. A pruned scan's
  * file set is no longer registered, so the rule cannot re-fire on its
  * own output. */
object CowSkipCatalog {
  case class SnapDef(table: String, manifest: CowTable.Manifest)

  private val defs = new ConcurrentHashMap[String, SnapDef]()
  private val Cap = 256

  /** Scan identity, matching [[MvRewriteRule]]'s `scanTag`: single-path
    * scans by normalized path, multi-file scans by file-set hash. */
  def tagOf(files: Seq[String]): String = files match {
    case Seq(one) => MvCatalog.pathTag(one)
    case many => MvCatalog.fileSetTag(many)
  }

  def register(table: String, m: CowTable.Manifest): Unit =
    if (m.dataNonEmpty) {
      if (defs.size >= Cap) defs.clear()
      defs.put(tagOf(m.files), SnapDef(table, m))
    }

  def lookup(tag: String): Option[SnapDef] = Option(defs.get(tag))
  def isEmpty: Boolean = defs.isEmpty
  def clear(): Unit = { defs.clear(); pruneCache.clear() }

  /** Memoized prune results keyed by (file-set tag, canonicalized
    * predicate). [[CowSkipRule]] fires on every optimizer pass of every
    * registered Filter-over-scan; without this, re-optimizing the same
    * query (or running it twice) re-runs the entries-sidecar prune job
    * each time — including when the last prune was a no-op. `None`
    * records "this predicate prunes nothing for this snapshot", so the
    * rule stands down without a Spark job. The tag is a content hash of
    * the exact file set, so a later commit naturally misses the cache. */
  private val pruneCache =
    new ConcurrentHashMap[(String, String), Option[Seq[String]]]()

  def cachedPrune(tag: String, cond: String): Option[Option[Seq[String]]] =
    Option(pruneCache.get((tag, cond)))

  def recordPrune(tag: String, cond: String,
      result: Option[Seq[String]]): Unit = {
    if (pruneCache.size >= Cap) pruneCache.clear()
    pruneCache.put((tag, cond), result)
  }
}

object CowSkipRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (CowSkipCatalog.isEmpty) plan
    else plan.transform {
      case f @ Filter(cond, rel: LogicalRelation) =>
        // a RENAMED table's read plants Project(coalesce(cur, prevs…)
        // AS cur) over the scan; the optimizer SUBSTITUTES the alias
        // when pushing a predicate down, so the condition arriving
        // here references the coalesce itself — the pruner folds it
        // back to the logical column (pruneDataFilesExpr), no special
        // plan shape needed.
        trySkip(cond, rel).map(Filter(cond, _)).getOrElse(f)
    }

  private def scanFiles(rel: LogicalRelation): Option[(HadoopFsRelation, Seq[String])] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        Some((fs, fs.location.rootPaths.map(_.toString)))
      case _ => None
    }

  private def trySkip(cond: org.apache.spark.sql.catalyst.expressions.Expression,
      rel: LogicalRelation): Option[LogicalRelation] = for {
    (fs, roots) <- scanFiles(rel)
    tag = CowSkipCatalog.tagOf(roots)
    snap <- CowSkipCatalog.lookup(tag)
    pruned <- pruneCached(cond, snap, fs.sparkSession, tag)
  } yield rebuiltRel(fs, rel, pruned)

  /** Memoized manifest prune: Some(files) when the predicate rules
    * files out, None when it prunes nothing (recorded too). */
  private def pruneCached(
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      snap: CowSkipCatalog.SnapDef, spark: SparkSession,
      tag: String): Option[Seq[String]] = {
    // name-based key (stable across query re-builds, where exprIds
    // differ); falls back to toString for expressions .sql can't print
    val condKey = try cond.sql catch { case _: Throwable => cond.toString }
    CowSkipCatalog.cachedPrune(tag, condKey).getOrElse {
      val p = CowTable.pruneDataFilesExpr(spark, snap.table, snap.manifest,
        cond)
      val r = if (p.size < snap.manifest.nData) Some(p) else None
      CowSkipCatalog.recordPrune(tag, condKey, r)
      r
    }
  }

  private def rebuiltRel(fs: HadoopFsRelation, rel: LogicalRelation,
      pruned: Seq[String]): LogicalRelation = {
    val spark = fs.sparkSession
    val index = new InMemoryFileIndex(spark,
      pruned.map(p => new org.apache.hadoop.fs.Path(p)),
      Map.empty, Some(fs.dataSchema))
    // same output attributes — only the file index changes
    rel.copy(relation = fs.copy(location = index)(spark))
  }
}

object CowSkipApi {
  def enable(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(CowSkipRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ CowSkipRule
}
