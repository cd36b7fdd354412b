package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

/** METADATA-ONLY AGGREGATE REWRITE — the transparent serving layer
  * over [[graft.sources.MetaAgg]]: a BARE GLOBAL aggregate (no
  * grouping, no filter) of `count(*)` / `min(col)` / `max(col)` over
  * the full current live scan of a REGISTERED Delta/Iceberg table is
  * rewritten at plan time to the metadata answer — the plan becomes a
  * one-row Project with NO scan at all, so `corpus.count()` on a
  * petabyte table reads zero data files.
  *
  * Safety gates (ALL must hold, else the plan is untouched):
  *  - the aggregate's child is a bare (possibly column-pruned) scan of
  *    EXACTLY the registered table's CURRENT live file set — a
  *    time-travel read, a filtered subset, or a DV-union plan never
  *    matches (those plans aren't a bare LogicalRelation);
  *  - every aggregate is `count(1)`/`count(*)` (no DISTINCT/FILTER) or
  *    `min`/`max` of a plain column;
  *  - [[graft.sources.MetaAgg]]'s exact-or-fallback conditions hold
  *    for each one (`*MetaOnly` probes — stats complete, exact bound
  *    types, no row-level deletes); ONE unprovable aggregate disables
  *    the whole rewrite, it never splits a query.
  *
  * Freshness is re-checked per planning pass against the table's
  * current version (cached per version — steady-state cost is one
  * version lookup per pass). Output attributes keep their exprIds, so
  * the rewrite is invisible to the rest of the plan. */
object MetaAggRewriteRule extends Rule[LogicalPlan] {

  private final case class Reg(format: String) // "delta" | "iceberg"
  private final case class Cached(version: Long, liveFiles: Set[String])

  private val registry = scala.collection.concurrent.TrieMap.empty[String, Reg]
  private val cache = scala.collection.concurrent.TrieMap.empty[String, Cached]

  /** register a lakehouse table for the rewrite; format auto-detected */
  def register(spark: SparkSession, tablePath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fmt =
      if (fs.exists(new org.apache.hadoop.fs.Path(p, "_delta_log"))) "delta"
      else if (fs.exists(new org.apache.hadoop.fs.Path(p, "metadata/version-hint.text")))
        "iceberg"
      else throw new IllegalArgumentException(
        s"$tablePath is neither a Delta nor an Iceberg table")
    registry.put(tablePath, Reg(fmt)); ()
  }
  def unregister(tablePath: String): Unit = {
    registry.remove(tablePath); cache.remove(tablePath); ()
  }
  def clear(): Unit = { registry.clear(); cache.clear() }

  /** idempotently add the rule to a session's extra optimizations */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty) return plan
    val spark = SparkSession.active
    plan.transformUp {
      case agg @ Aggregate(Nil, aggExprs, child, _) =>
        tryRewrite(spark, agg, aggExprs, child).getOrElse(agg)
    }
  }

  private def scanOf(child: LogicalPlan): Option[LogicalRelation] = child match {
    case lr: LogicalRelation => Some(lr)
    case Project(pl, lr: LogicalRelation) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      Some(lr)
    case _ => None
  }

  private def currentVersion(spark: SparkSession, path: String, reg: Reg): Option[Long] =
    try {
      if (reg.format == "delta")
        Some(graft.sources.DeltaScan.latestVersion(spark, path))
      else {
        val metaDir = new org.apache.hadoop.fs.Path(path, "metadata")
        graft.sources.IcebergScan.hintedVersion(
          metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration), metaDir)
          .map(_.toLong)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def refresh(spark: SparkSession, path: String, reg: Reg): Option[Cached] = {
    val v = currentVersion(spark, path, reg).getOrElse(return None)
    cache.get(path).filter(_.version == v).orElse {
      val built = try {
        val read = if (reg.format == "delta")
          graft.sources.DeltaScan.read(spark, path)
        else graft.sources.IcebergScan.read(spark, path)
        val files = read.queryExecution.analyzed.collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty
          }
        }.flatten.toSet
        // a DV/MOR/fallback plan is not a single bare relation: collect
        // over a union would return MANY relations whose union we must
        // not equate with one scan's root paths — require exactly the
        // same shape the matcher accepts
        if (files.isEmpty || scanOf(read.queryExecution.analyzed match {
            case Project(_, c) => c
            case other => other
          }).isEmpty) Some(Cached(v, Set.empty))
        else Some(Cached(v, files))
      } catch { case scala.util.control.NonFatal(_) => None }
      built.foreach(cache.put(path, _))
      built
    }
  }

  private def tryRewrite(
      spark: SparkSession,
      agg: Aggregate,
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val lr = scanOf(child).getOrElse(return None)
    val fsRel = lr.relation match {
      case h: HadoopFsRelation => h
      case _ => return None
    }
    val scanFiles = fsRel.location.rootPaths.map(_.toString).toSet
    if (scanFiles.isEmpty) return None

    val hit = registry.iterator.flatMap { case (path, reg) =>
      refresh(spark, path, reg)
        .filter(c => c.liveFiles.nonEmpty && c.liveFiles == scanFiles)
        .map(_ => (path, reg))
    }.toSeq.headOption
    val (path, reg) = hit.getOrElse(return None)

    // memoized per-column (min,max) probes: min(x) and max(x) in one
    // query share a single metadata walk
    val boundsMemo = scala.collection.mutable.Map.empty[String, Option[(Any, Any)]]
    def bounds(column: String): Option[(Any, Any)] =
      boundsMemo.getOrElseUpdate(column,
        try {
          if (reg.format == "delta")
            graft.sources.MetaAgg.minMaxDeltaMetaOnly(spark, path, column)
          else graft.sources.MetaAgg.minMaxIcebergMetaOnly(spark, path, column)
        } catch { case scala.util.control.NonFatal(_) => None })
    lazy val countMeta: Option[Long] =
      try {
        if (reg.format == "delta")
          graft.sources.MetaAgg.countDeltaMetaOnly(spark, path)
        else graft.sources.MetaAgg.countIcebergMetaOnly(spark, path)
      } catch { case scala.util.control.NonFatal(_) => None }

    val newExprs: Seq[NamedExpression] = aggExprs.map {
      case al @ Alias(ae: AggregateExpression, name)
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(Literal(v, _))) if v != null =>
            val n = countMeta.getOrElse(return None)
            Alias(Literal(n, LongType), name)(exprId = al.exprId)
          case Min(a: AttributeReference) =>
            val (lo, _) = bounds(a.name).getOrElse(return None)
            Alias(Literal.create(lo, a.dataType), name)(exprId = al.exprId)
          case Max(a: AttributeReference) =>
            val (_, hi) = bounds(a.name).getOrElse(return None)
            Alias(Literal.create(hi, a.dataType), name)(exprId = al.exprId)
          case _ => return None
        }
      case _ => return None
    }
    Some(Project(newExprs, OneRowRelation()))
  }
}
