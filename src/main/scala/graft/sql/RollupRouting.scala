package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Automatic query-over-rollup routing — the optimizer tier of the
 * rollup story (reference users query rollup tables BY NAME, e.g.
 * receiptByDay in yupana-schema ReceiptRollups.scala; graft routes
 * transparently, the Spark-idiomatic materialized-view rewrite).
 *
 * A registered [[RollupRoute]] declares the mapping fact → materialized
 * rollup: time grain, dimension columns, and which rollup column holds
 * each metric's partial sum / the group count. [[RollupRewriteRule]]
 * then rewrites any covered aggregate over the FACT scan into the same
 * aggregate over the (orders-of-magnitude smaller) rollup:
 *
 *   - GROUP BY date_trunc(G, ts) with G at-or-coarser-than the rollup
 *     grain (grain-aligned: day→month/quarter/year, hour→day, …,
 *     week only from ≤day grains), plus any subset of rollup dims;
 *   - sum(m) / sum(cast(m as T)) → sum(rollup_sum_col) — routed ONLY
 *     when the query-side cast T is exactly the cast the rollup's sum
 *     column was materialized under (route.sumCasts): sum-then-cast is
 *     not cast-then-sum for lossy casts, so a mismatched cast blocks
 *     the route rather than silently changing the answer;
 *     count(*)/count(1) → sum(rollup_count_col), count(m) →
 *     sum(rollup_per_metric_count_col) (bare column only — a cast can
 *     turn non-null into null), min/max → min/max (casts stripped only
 *     when total and monotone, where min∘cast = cast∘min);
 *   - avg(m) for INTEGRAL bare m → sum(sum_col)/sum(count_col) with a
 *     zero-count null guard — exact because both engines accumulate
 *     integer-valued sums exactly (< 2^53) and divide once in IEEE
 *     double. avg over fractional metrics does NOT route (re-ordered
 *     floating-point partial sums are not bit-stable); the exact
 *     fractional-avg form sum(cast(m as decimal))/count(m) routes
 *     compositionally through the sum and count rules above.
 *     distinct aggregates are never matched (not decomposable);
 *   - WHERE conditions referencing only rollup dims are carried over.
 *
 * The rewrite preserves output names, exprIds, and types (casting the
 * re-aggregated sum back to the original result type), so it is
 * plug-compatible for any parent operator. Queries or aggregates not
 * fully covered are left untouched — correctness never depends on the
 * route, only speed.
 */
final case class RollupRoute(
    factPathContains: String,
    rollupPath: String,
    timeCol: String,
    grain: String,
    dims: Seq[String],
    sums: Map[String, String],
    countCol: Option[String] = None,
    mins: Map[String, String] = Map.empty,
    maxs: Map[String, String] = Map.empty,
    /** metric → rollup column holding count(metric), the NON-NULL count
      * (count(*) lives in countCol). Enables count(m) and avg routing. */
    counts: Map[String, String] = Map.empty,
    /** metric → the exact cast type its `sums` column was materialized
      * under (absent = materialized as sum(m) with no cast). A query-side
      * sum routes only under the identical cast. */
    sumCasts: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
    /** metric → rollup column holding hll_sketch_agg(metric, lgK) binary
      * partials. hll_sketch_estimate(hll_sketch_agg(m, lgK)) then routes
      * to hll_sketch_estimate(hll_union_agg(col)) — value-identical, the
      * HLL register-max merge is exactly how Spark already combines
      * per-partition partials of a single-pass sketch. */
    sketches: Map[String, String] = Map.empty,
    /** metric → the lgConfK its sketch column was materialized with; a
      * query sketching at a different precision must not route. */
    sketchLgK: Map[String, Int] = Map.empty,
    /** Session timezone the rollup was MATERIALIZED under (None =
      * registered by a legacy caller — routes unconditionally, the
      * pre-fix behavior). date_trunc buckets are timezone-dependent:
      * a day-grain rollup built under UTC holds UTC day buckets, and
      * substituting them into a query planned under America/New_York
      * would silently answer with the wrong days — so tryRewrite
      * refuses to route when the planning session's timezone differs. */
    timeZone: Option[String] = None
)

/** Session-wide route registry (rollupPath is the identity). */
object RollupRoutes {
  @volatile private var routes: Seq[RollupRoute] = Nil
  private val relations =
    new java.util.concurrent.ConcurrentHashMap[String, LogicalPlan]()
  def register(r: RollupRoute): Unit = synchronized {
    routes = routes.filterNot(_.rollupPath == r.rollupPath) :+ r
    relations.remove(r.rollupPath)
  }
  def unregister(rollupPath: String): Unit = synchronized {
    routes = routes.filterNot(_.rollupPath == rollupPath)
    relations.remove(rollupPath)
  }
  def clear(): Unit = synchronized { routes = Nil; relations.clear() }
  def all: Seq[RollupRoute] = routes

  /**
   * Analyzed scan of a registered rollup, resolved ONCE per
   * registration and cached: resolving inside the rewrite rule would
   * pay a driver-side file listing per Aggregate node × registered
   * route on every query planned — seconds of planning latency on an
   * object store with many routes. Each call returns a fresh-exprId
   * instance (MultiInstanceRelation.newInstance) over the SAME cached
   * file index, so two rewrites inside one query cannot collide on
   * attribute ids. Consequence: files appended to the rollup path
   * after registration are invisible to routing until the route is
   * re-registered — re-register after each materialize/update (the
   * register call is the natural end of that flow, and it invalidates
   * this cache).
   */
  private[sql] def analyzedRelation(spark: SparkSession, rollupPath: String): LogicalPlan = {
    val canonical = relations.computeIfAbsent(
      rollupPath, p => spark.read.parquet(p).queryExecution.analyzed)
    canonical.transformUp {
      case m: org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation => m.newInstance()
    }
  }
}

case class RollupRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val grainRank =
    Map("second" -> 0, "minute" -> 1, "hour" -> 2, "day" -> 3, "month" -> 4, "quarter" -> 5, "year" -> 6)

  /** Is re-truncating a `from`-grain time to `to` grain exact? */
  private def coarsenOk(from: String, to: String): Boolean =
    from == to ||
      (grainRank.contains(from) && grainRank.contains(to) && grainRank(to) > grainRank(from)) ||
      (to == "week" && grainRank.get(from).exists(_ <= grainRank("day")))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val routes = RollupRoutes.all
    if (routes.isEmpty) plan
    else {
      // among covering rollups prefer the coarsest grain — it is the
      // smallest table (each coarsening step collapses groups)
      val ordered = routes.sortBy(r => -grainRank.getOrElse(r.grain, -1))
      plan.transformUp {
        case agg: Aggregate =>
          ordered.view.flatMap(r => tryRewrite(agg, r)).headOption.getOrElse(agg)
      }
    }
  }

  private def tryRewrite(agg: Aggregate, route: RollupRoute): Option[LogicalPlan] = {
    // 0. timezone fence: the rollup's date_trunc buckets were computed
    //    under the MATERIALIZATION session's timezone; planning under a
    //    different one must stay on the fact (see RollupRoute.timeZone)
    if (route.timeZone.exists(_ != spark.sessionState.conf.sessionLocalTimeZone))
      return None
    // 1. the aggregate's child must be the fact scan, modulo dim-only
    //    filters and projections. Projections may carry aliases — the
    //    optimizer's PullOutGroupingExpressions extracts date_trunc into
    //    a `_groupingexpression` alias below the Aggregate — so alias
    //    definitions are collected and inlined back before matching.
    def strip(
        p: LogicalPlan,
        conds: Seq[Expression],
        subs: Map[ExprId, Expression]
    ): Option[(Seq[Expression], Map[ExprId, Expression], LogicalRelation)] =
      p match {
        case lr: LogicalRelation if isFactScan(lr, route) => Some((conds, subs, lr))
        case f: Filter => strip(f.child, conds :+ f.condition, subs)
        case pr: Project if pr.projectList.forall {
              case _: AttributeReference => true
              case a: Alias => a.child.deterministic
              case _ => false
            } =>
          val newSubs = pr.projectList.collect { case a: Alias => a.exprId -> a.child }.toMap
          strip(pr.child, conds, subs ++ newSubs)
        case _ => None
      }

    strip(agg.child, Nil, Map.empty).flatMap { case (conds0, subs, fact) =>
      // inline alias chains to fixpoint (substitution targets are strictly
      // lower plan nodes, so this terminates)
      def inline(e: Expression): Expression = {
        var cur = e
        var next = cur.transformUp {
          case a: AttributeReference if subs.contains(a.exprId) => subs(a.exprId)
        }
        while (!next.fastEquals(cur)) {
          cur = next
          next = cur.transformUp {
            case a: AttributeReference if subs.contains(a.exprId) => subs(a.exprId)
          }
        }
        next
      }
      val conds = conds0.map(inline)
      val factAttr: Map[String, AttributeReference] = fact.output.map(a => a.name -> a).toMap
      val dimAttrIds = route.dims.flatMap(factAttr.get).map(_.exprId).toSet

      // 2. resolve the rollup relation: cached per registration (one
      //    file listing per register, not per planning attempt), fresh
      //    attribute ids per use
      val rollupPlan = RollupRoutes.analyzedRelation(spark, route.rollupPath)
      val rAttr: Map[String, Attribute] = rollupPlan.output.map(a => a.name -> a).toMap
      rAttr.get("rollup_time").flatMap { rollupTime =>

      def isFactTime(a: AttributeReference) =
        a.name == route.timeCol && factAttr.get(route.timeCol).exists(_.exprId == a.exprId)

      // grouping expression → rollup-side expression
      def mapGroup(e: Expression): Option[Expression] = e match {
        case a: AttributeReference if dimAttrIds.contains(a.exprId) => rAttr.get(a.name)
        case t @ TruncTimestamp(Literal(fmt: UTF8String, _), a: AttributeReference, _)
            if isFactTime(a) && coarsenOk(route.grain, fmt.toString.toLowerCase) =>
          if (fmt.toString.equalsIgnoreCase(route.grain)) Some(rollupTime)
          else Some(t.withNewChildren(Seq(t.children.head, rollupTime)))
        case _ => None
      }

      def factMetric(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference if factAttr.get(a.name).exists(_.exprId == a.exprId) => Some(a)
        case _ => None
      }

      // a cast that is total (never maps a non-null value to null) and
      // monotone — the only kind min/max may be stripped through
      // (min∘cast = cast∘min needs monotonicity; totality keeps the
      // null sets identical)
      def totalMonotoneCast(from: org.apache.spark.sql.types.DataType,
          to: org.apache.spark.sql.types.DataType): Boolean = {
        import org.apache.spark.sql.types._
        def intDigits(t: DataType): Int = t match {
          case ByteType => 3; case ShortType => 5; case IntegerType => 10; case LongType => 19
          case _ => Int.MaxValue
        }
        (from, to) match {
          case (f, t) if f == t => true
          case (ByteType, ShortType | IntegerType | LongType) => true
          case (ShortType, IntegerType | LongType) => true
          case (IntegerType, LongType) => true
          // integral → float/double: total and monotone (may round, order kept)
          case (ByteType | ShortType | IntegerType | LongType, FloatType | DoubleType) => true
          case (f @ (ByteType | ShortType | IntegerType | LongType), d: DecimalType) =>
            d.precision - d.scale >= intDigits(f)
          case (f: DecimalType, d: DecimalType) => d.precision - d.scale >= f.precision - f.scale
          case (_: DecimalType, DoubleType) => true
          // fractional sources are excluded: NaN/Infinity → null under
          // non-ANSI decimal/integral casts breaks totality
          case _ => false
        }
      }

      // min/max: strip a (possibly chained) total monotone cast
      def metricNameMono(e: Expression): Option[String] = e match {
        case a: AttributeReference => factMetric(a).map(_.name)
        case c: Cast if totalMonotoneCast(c.child.dataType, c.dataType) => metricNameMono(c.child)
        case _ => None
      }

      // sum: the query-side cast (or its absence) must equal the cast the
      // rollup sum column was materialized under
      def sumMetric(e: Expression): Option[String] = e match {
        case a: AttributeReference =>
          factMetric(a).map(_.name).filter(n => !route.sumCasts.contains(n))
        case c: Cast =>
          factMetric(c.child).map(_.name).filter(n => route.sumCasts.get(n).contains(c.dataType))
        case _ => None
      }

      def isIntegral(t: org.apache.spark.sql.types.DataType): Boolean = t match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
        case _ => false
      }

      def mapAgg(ae: AggregateExpression): Option[Expression] = {
        if (ae.isDistinct || ae.filter.isDefined || ae.mode != Complete) return None
        import org.apache.spark.sql.types.{DoubleType, LongType}
        ae.aggregateFunction match {
          // avg over an integral bare metric: both the fact-side Average
          // (double-accumulated integer sum) and sum(sum_col)/sum(cnt_col)
          // are exact while |sum| < 2^53, and past that the routed form is
          // the more accurate one (exact integer partials)
          case a: Average if a.evalMode != EvalMode.TRY && ae.dataType == DoubleType =>
            for {
              attr <- factMetric(a.child)
              if isIntegral(attr.dataType)
              n = attr.name
              if !route.sumCasts.contains(n)
              sCol <- route.sums.get(n).flatMap(rAttr.get)
              cCol <- route.counts.get(n).flatMap(rAttr.get)
            } yield {
              val sumAE = AggregateExpression(Sum(sCol), Complete, isDistinct = false)
              val cntAE = AggregateExpression(Sum(cCol), Complete, isDistinct = false)
              val cnt = Coalesce(Seq(Cast(cntAE, LongType), Literal(0L)))
              If(EqualTo(cnt, Literal(0L)), Literal(null, DoubleType),
                Divide(Cast(sumAE, DoubleType), Cast(cnt, DoubleType), EvalMode.LEGACY))
            }
          case _ =>
            val rolled: Option[AggregateFunction] = ae.aggregateFunction match {
              case s: Sum => sumMetric(s.child).flatMap(route.sums.get).flatMap(rAttr.get).map(Sum(_))
              // l.value != null: count(NULL) is 0 per group, NOT the
              // row count the rollup's count partial would give
              case Count(Seq(l: Literal)) if l.foldable && l.value != null =>
                route.countCol.flatMap(rAttr.get).map(Sum(_))
              // count(m): bare column only — count(cast(m)) can differ when
              // the cast maps non-null values to null
              case c: Count if c.children.sizeIs == 1 =>
                c.children.head match {
                  case a: AttributeReference =>
                    factMetric(a).flatMap(m => route.counts.get(m.name)).flatMap(rAttr.get).map(Sum(_))
                  case _ => None
                }
              case m: Min => metricNameMono(m.child).flatMap(route.mins.get).flatMap(rAttr.get).map(Min(_))
              case m: Max => metricNameMono(m.child).flatMap(route.maxs.get).flatMap(rAttr.get).map(Max(_))
              // hll sketch over a bare metric at the materialized lgK:
              // union of the stored per-bucket sketches (register-max
              // merge) is the same sketch a single pass would build
              case h: HllSketchAgg =>
                (h.right, h.left) match {
                  case (Literal(k: Int, org.apache.spark.sql.types.IntegerType), a: AttributeReference) =>
                    factMetric(a)
                      .filter(m => route.sketchLgK.get(m.name).contains(k))
                      .flatMap(m => route.sketches.get(m.name))
                      .flatMap(rAttr.get)
                      .map(c => new HllUnionAgg(c, Literal(false)))
                  case _ => None
                }
              case _ => None
            }
            rolled.map { nf =>
              val nae = AggregateExpression(nf, Complete, isDistinct = false)
              val typed: Expression = if (nae.dataType == ae.dataType) nae else Cast(nae, ae.dataType)
              // count(*) is non-nullable but sum(count_col) is nullable; the
              // value can't actually be null for an existing group, so pin
              // the static type back with a zero fallback
              if (!ae.nullable && typed.nullable) Coalesce(Seq(typed, Literal.default(ae.dataType)))
              else typed
            }
        }
      }

      // any expression in the aggregate list: groupings, aggregates, and
      // arbitrary arithmetic over them; a bare fact attribute that is
      // neither dim nor time fails the whole rewrite
      def mapExpr(e: Expression): Option[Expression] =
        mapGroup(e).orElse(e match {
          case ae: AggregateExpression => mapAgg(ae)
          case a: AttributeReference if factAttr.get(a.name).exists(_.exprId == a.exprId) => None
          case _ if e.children.nonEmpty =>
            val kids = e.children.map(mapExpr)
            if (kids.forall(_.isDefined)) Some(e.withNewChildren(kids.map(_.get))) else None
          case leaf => Some(leaf)
        })

      val newGroups = agg.groupingExpressions.map(e => mapGroup(inline(e)))
      val newAggs: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
        case al @ Alias(child, name) =>
          mapExpr(inline(child)).map(ne =>
            Alias(ne, name)(exprId = al.exprId, qualifier = al.qualifier,
              explicitMetadata = al.explicitMetadata))
        case a: AttributeReference =>
          mapExpr(inline(a)).map {
            case ne: NamedExpression if ne.exprId == a.exprId => ne
            case ne => Alias(ne, a.name)(exprId = a.exprId)
          }
        case _ => None
      }
      // a time literal is routable when truncating it at the rollup grain
      // is a no-op — then every fact row in [lo, hi) maps to a rollup_time
      // in the same range and the comparison is exact on the rollup
      def grainAligned(l: Literal): Boolean =
        l.value != null && l.dataType == org.apache.spark.sql.types.TimestampType &&
          (try {
            TruncTimestamp(Literal(UTF8String.fromString(route.grain)), l,
              Some(spark.sessionState.conf.sessionLocalTimeZone)).eval() == l.value
          } catch { case scala.util.control.NonFatal(_) => false })

      // dim-only filters and grain-aligned time-range bounds carry over;
      // anything else blocks the route
      def mapCond(c: Expression): Option[Expression] = c match {
        case And(l, r) =>
          for (nl <- mapCond(l); nr <- mapCond(r)) yield
            if (nl == Literal.TrueLiteral) nr else if (nr == Literal.TrueLiteral) nl else And(nl, nr)
        // a derived ts_bucket bound is implied by the time conjuncts it
        // came from, which carry over on their own
        case _: graft.sources.TsBucketBound => Some(Literal.TrueLiteral)
        // inferred null guard: null-ts rows land in the null rollup_time group
        case IsNotNull(a: AttributeReference) if isFactTime(a) => Some(IsNotNull(rollupTime))
        case GreaterThanOrEqual(a: AttributeReference, l: Literal) if isFactTime(a) && grainAligned(l) =>
          Some(GreaterThanOrEqual(rollupTime, l))
        case LessThan(a: AttributeReference, l: Literal) if isFactTime(a) && grainAligned(l) =>
          Some(LessThan(rollupTime, l))
        case GreaterThan(l: Literal, a: AttributeReference) if isFactTime(a) && grainAligned(l) =>
          Some(GreaterThan(l, rollupTime))
        case LessThanOrEqual(l: Literal, a: AttributeReference) if isFactTime(a) && grainAligned(l) =>
          Some(LessThanOrEqual(l, rollupTime))
        case _ if c.deterministic && c.references.forall(r => dimAttrIds.contains(r.exprId)) =>
          Some(c.transform { case a: AttributeReference if dimAttrIds.contains(a.exprId) => rAttr(a.name) })
        case _ => None
      }
      val newConds = conds.map(mapCond)

      if (newGroups.exists(_.isEmpty) || newAggs.exists(_.isEmpty) || newConds.exists(_.isEmpty)) None
      else {
        val child = newConds.map(_.get).filterNot(_ == Literal.TrueLiteral)
          .foldRight(rollupPlan)((c, p) => Filter(c, p))
        val rewritten = Aggregate(newGroups.map(_.get), newAggs.map(_.get), child)
        // the rewrite must be plug-compatible: same names and types
        if (rewritten.schema == agg.schema) Some(rewritten) else None
      }
      }
    }
  }

  private def isFactScan(lr: LogicalRelation, route: RollupRoute): Boolean =
    lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.exists(_.toString.contains(route.factPathContains))
      case _ => false
    }
}
