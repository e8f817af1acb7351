package graft.plans

import graft.model.AggregationMethod
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** The facts of materialized rollup levels, carried by the levels
  * themselves. [[graft.ops.Materialize.materializeLevels]] stamps them
  * into the field metadata of each level's `value` column, and
  * [[RollupRewrite]] reads them back from the relation it matches. The
  * rewrite is only valid along a derivation edge (avg-of-avg is not avg,
  * so a 1h level derived from 5m may only replace re-aggregations OF the
  * 5m level, never of the 1m level), so every level carries its whole
  * chain: each level's spp, the spp it was derived from and its gate.
  */
object RollupCatalog {

  /** One materialized level. `base` names the chain it belongs to (one
    * chain per materialization root — levels of different chains never
    * serve each other); `parentSpp` is the level it was derived from (0
    * for the finest, aligned from raw points); `xff` the gate it was
    * derived with.
    */
  final case class LevelInfo(
      spp: Int, parentSpp: Int, base: String,
      method: AggregationMethod, xff: Double) {
    def path: String = s"$base/points_${spp}s"
  }

  /** The chain of levels at `spps`, finest first, each derived from the
    * one before it.
    */
  def chain(base: String, method: AggregationMethod, xff: Double, spps: Seq[Int]): Seq[LevelInfo] =
    spps.zip(0 +: spps).map { case (spp, parent) => LevelInfo(spp, parent, base, method, xff) }

  private def key(fact: String) = s"graft.rollup.$fact"

  /** The `value` field metadata stating `level` of `chain`. Field
    * metadata holds no nested arrays, so the chain is one flat string of
    * `spp:parentSpp:xff` entries, e.g. `"60:0:0.0,300:60:0.0,…"`.
    */
  def metadata(chain: Seq[LevelInfo], level: LevelInfo): Metadata = new MetadataBuilder()
    .putLong(key("spp"), level.spp).putString(key("base"), level.base)
    .putString(key("method"), level.method.name)
    .putString(key("chain"), chain.map(l => s"${l.spp}:${l.parentSpp}:${l.xff}").mkString(","))
    .build()

  /** The level `m` states, with its chain; None for any other column. */
  def fromMetadata(m: Metadata): Option[(LevelInfo, Seq[LevelInfo])] =
    Option.when(m.contains(key("chain"))) {
      val method = AggregationMethod.fromName(m.getString(key("method")))
      m.getString(key("chain")).split(',').toSeq.map(_.split(':')).map {
        case Array(spp, parent, xff) =>
          LevelInfo(spp.toInt, parent.toInt, m.getString(key("base")), method, xff.toDouble)
      }
    }.flatMap(chain => chain.find(_.spp == m.getLong(key("spp"))).map((_, chain)))

  /** The columns of a level's files plus its `day` partition column,
    * with `facts` on `value`.
    */
  def levelSchema(facts: Metadata = Metadata.empty): StructType = StructType(Seq(
    StructField("metric", StringType), StructField("bucket_ts", LongType),
    StructField("value", DoubleType, nullable = true, facts), StructField("day", DateType)))

  /** Read `level` of `chain` with its facts on `value`. The schema is
    * stated, so the read opens no footer to infer it.
    */
  def read(s: SparkSession, chain: Seq[LevelInfo], level: LevelInfo): DataFrame =
    s.read.schema(levelSchema(metadata(chain, level))).parquet(level.path)

  /** Whether `root` is `level`'s own location: URI paths must match AND
    * schemes AND authorities must agree when both sides carry one — a
    * remote filesystem mirroring the local tmp layout (scheme), or a
    * different bucket/namenode with the same layout (authority:
    * `s3://bucketA/x` vs `s3://bucketB/x`), is not the level. A copy of a
    * level elsewhere keeps the metadata but is no level either.
    */
  def storedAt(level: LevelInfo, root: org.apache.hadoop.fs.Path): Boolean = {
    val (own, got) = (new org.apache.hadoop.fs.Path(level.path).toUri, root.toUri)
    def agree(part: java.net.URI => String) =
      part(own) == null || part(got) == null || part(own) == part(got)
    own.getPath == got.getPath && agree(_.getScheme) && agree(_.getAuthority)
  }

  /** Whether `target` can legally serve a `target.method`-aggregation of
    * level `finer` at `target.spp` resolution, both levels of `chain`.
    *
    * Any xFilesFactor gate above 0 disqualifies a level outright — even
    * on its direct derivation edge: a gated level DROPPED buckets whose
    * fill ratio fell below the gate, so it answers a user's plain
    * (ungated) re-aggregation with fewer rows. Both materialized
    * cascades use xff 0.0, but `materializeLevels` is public API
    * parametrized by xff, so the guard must hold structurally.
    *
    * With the chain ungated, direct edges are exact (the target IS that
    * aggregation of its parent). Across a SKIPPED level the rewrite is
    * only valid for decomposable methods — max-of-max / min-of-min /
    * sum-of-sum / last-of-last over exactly-nested windows equal the flat
    * aggregate. Average never composes (avg-of-avg ≠ avg), so it stays
    * direct-edge-only.
    */
  def servableFrom(
      chain: Seq[LevelInfo], finer: LevelInfo, target: LevelInfo): Boolean = {
    if (target.base != finer.base || target.method != finer.method) false
    else if (target.xff != 0.0) false
    else if (target.parentSpp == finer.spp) true
    else {
      // AbsMax/AbsMin compose exactly under whisper's earliest-first
      // tiebreak: the flat winner p* is also its own window's winner (an
      // equal-magnitude point earlier in that window would contradict p*
      // being the global earliest), and every earlier window's winner has
      // strictly smaller magnitude — so max-by-(abs, earliest) over
      // per-window winners equals the flat result. AvgZero does not
      // compose (divides by the window size twice), like Average.
      val decomposable = target.method match {
        case AggregationMethod.Max | AggregationMethod.Min |
             AggregationMethod.Sum | AggregationMethod.Last |
             AggregationMethod.AbsMax | AggregationMethod.AbsMin => true
        case _ => false
      }
      decomposable && target.parentSpp > finer.spp &&
        chain.find(_.spp == target.parentSpp)
          .exists(p => servableFrom(chain, finer, p))
    }
  }
}

/** Materialized-rollup rewrite — the OLAP "aggregate navigator" pattern
  * (materialized-view rewrite) as a Catalyst optimizer rule:
  *
  * {{{ Aggregate [metric, floor(bucket_ts/S)*S] [avg(value)]
  *       over scan(points_Ps)                       // P = finer level
  *   ==> scan(points_Ss)                            // iff S derived from P }}}
  *
  * The substitution is EXACT for Sum/Max/Min/Last/Abs* and for the
  * engine's pinned mean shape (round6(fixedSum/count) — fixedMeanPair):
  * level S was materialized by
  * [[graft.ops.Materialize.materializeLevels]] as precisely this
  * aggregation of level P (xff = 0, same method). A BARE `avg(value)`
  * with no rounding wrapper is also rewritten, and there the served
  * value is the level's GRID-QUANTIZED mean (stored values round to 6
  * decimals at emission — the engine's canonical average semantics at
  * every output edge), which can differ from the full-mantissa double
  * mean by ≤5e-7. Serving the scan of the coarser table skips both the
  * (spp-ratio×) larger scan and the whole shuffle — at 100 TB this is
  * the difference between reading the 1h archive (~0.03% of raw) and
  * re-shuffling the 5m archive. For DECOMPOSABLE methods (max, min, and
  * sum under xff = 0) the rewrite also fires across skipped levels —
  * max-of-max over exactly-nested windows is the flat max — while
  * Average stays direct-edge-only (avg-of-avg ≠ avg); see
  * [[RollupCatalog.servableFrom]].
  *
  * The rule has no state of its own: a relation is a level when its
  * `value` column carries the facts [[RollupCatalog.metadata]] states and
  * it reads exactly that level's location ([[RollupCatalog.storedAt]]).
  * A writer that drops the metadata disables the rewrite for its copy;
  * the unrewritten aggregation stays exact.
  *
  * Deployment: injected via [[graft.functions.GraftExtensions]]
  * (`spark.sql.extensions`), or added to a running session once by
  * [[setup]]. Matching is conservative: the rule fires only on the
  * canonical align shape `cast(floor(bucket_ts / S) * S as long)` (what
  * [[graft.ops.Buckets.alignTs]] emits) over a direct scan (optionally a
  * column-pruning Project and/or Filters on the metric column — the
  * common "one metric, coarse resolution" fetch; metric selection
  * commutes with the aggregation and is preserved above the substituted
  * scan) of a level, grouped by columns named `metric`/`bucket_ts` and
  * aggregating `value` with the level's own method — anything else is
  * left untouched.
  */
object RollupRewrite extends Rule[LogicalPlan] {

  /** Add the rule to `session`'s extra optimizations, once. Sessions
    * built with [[graft.functions.GraftExtensions]] already run it; this
    * covers a session that exists before the query does (the driver's,
    * or one shared through `getOrCreate`, where extensions apply only at
    * construction).
    */
  def setup(session: SparkSession): Unit =
    if (!session.experimental.extraOptimizations.contains(RollupRewrite))
      session.experimental.extraOptimizations =
        session.experimental.extraOptimizations :+ RollupRewrite

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists { case l: LogicalRelation => levelOf(l).isDefined; case _ => false }) plan
    else plan.transformUp { case agg: Aggregate => tryRewrite(agg).getOrElse(agg) }

  // ---- matching helpers -------------------------------------------------

  /** Strip (possibly nested) casts — analysis inserts implicit casts
    * around the integer align arithmetic.
    */
  private def strip(e: Expression): Expression = e match {
    case c: Cast => strip(c.child)
    case _ => e
  }

  private def literalLong(e: Expression): Option[Long] = strip(e) match {
    case Literal(v: Int, _) => Some(v.toLong)
    case Literal(v: Long, _) => Some(v)
    case Literal(v: Short, _) => Some(v.toLong)
    case Literal(v: Double, _) if v.isWhole => Some(v.toLong)
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => Some(v.toLong)
    case _ => None
  }

  /** Match `floor(attr / s) * s` (mod casts) → (attr, s). */
  private def extractAlign(e: Expression): Option[(Attribute, Long)] =
    strip(e) match {
      case m: Multiply =>
        (strip(m.left), literalLong(m.right)) match {
          case (f: Floor, Some(s2)) => strip(f.child) match {
            case d: Divide =>
              (strip(d.left), literalLong(d.right)) match {
                case (a: Attribute, Some(s1)) if s1 == s2 => Some((a, s1))
                case _ => None
              }
            case _ => None
          }
          case _ => None
        }
      case _ => None
    }

  /** Descend through Projects and Filters to the base relation,
    * accumulating the alias bindings so expressions above can be inlined
    * back to relation attributes — the optimizer's
    * PullOutGroupingExpressions moves the align arithmetic into a child
    * Project (`_groupingexpression#N`), so the Aggregate's own groupings
    * are bare attributes. Filter conditions are collected (inlined to
    * relation attributes); [[tryRewrite]] only accepts ones that commute
    * with the aggregation.
    */
  private def dealias(p: LogicalPlan)
      : Option[(LogicalRelation, Map[ExprId, Expression], Seq[Expression])] =
    p match {
      case l: LogicalRelation => Some((l, Map.empty, Nil))
      case proj: Project =>
        dealias(proj.child).map { case (rel, inner, fs) =>
          val binds = proj.projectList.map {
            case a @ Alias(c, _) => a.exprId -> substitute(c, inner)
            case a: Attribute => a.exprId -> substitute(a, inner)
          }.toMap
          (rel, binds, fs)
        }
      case f: Filter =>
        dealias(f.child).map { case (rel, inner, fs) =>
          (rel, inner, fs :+ substitute(f.condition, inner))
        }
      case _ => None
    }

  private def substitute(e: Expression, binds: Map[ExprId, Expression]): Expression =
    if (binds.isEmpty) e
    else e.transformUp {
      case a: Attribute if binds.contains(a.exprId) => binds(a.exprId)
    }

  /** The level `rel` reads, with its chain and file relation: the facts
    * its `value` column carries, honoured only while its single root is
    * that level's own location.
    */
  private def levelOf(rel: LogicalRelation)
      : Option[(HadoopFsRelation, RollupCatalog.LevelInfo, Seq[RollupCatalog.LevelInfo])] =
    rel.relation match {
      case h: HadoopFsRelation => for {
          value <- rel.output.find(_.name == "value")
          (level, chain) <- RollupCatalog.fromMetadata(value.metadata)
          roots = h.location.rootPaths
          if roots.length == 1 && RollupCatalog.storedAt(level, roots.head)
        } yield (h, level, chain)
      case _ => None
    }

  /** Match `round(value · 1e6)` — the scaled-integer leaf of
    * [[graft.ops.Rollup]]'s exact fixed-point sums (`fixedSum`).
    */
  private def fixedScaledLeaf(e: Expression): Boolean = strip(e) match {
    case r: Round =>
      literalLong(r.scale).contains(0L) && (strip(r.child) match {
        case m: Multiply =>
          attrNamed(m.left, "value") &&
            literalLong(m.right).contains(1000000L)
        case _ => false
      })
    case _ => false
  }

  /** Match the pinned fixed-point mean's aggregate PAIR —
    * `sum(cast(round(value·1e6) as decimal))` and `count(value)` — the
    * shape [[graft.ops.Rollup.mean6]] emits. Serving it from the stored
    * level is exact BY CONSTRUCTION: the level's value IS
    * round6(fixedSum/count) of its parent, and the surviving round6
    * wrapper is idempotent over it.
    */
  private def fixedMeanPair(aggs: Seq[AggregateExpression]): Boolean =
    aggs match {
      case Seq(s, c) =>
        (s.aggregateFunction, c.aggregateFunction) match {
          case (sf: Sum, cf: Count) =>
            fixedScaledLeaf(sf.child) &&
              (cf.children.map(strip) match {
                case Seq(a) => attrNamed(a, "value")
                case _ => false
              })
          case _ => false
        }
      case _ => false
    }

  private def methodMatches(fn: AggregateFunction, m: AggregationMethod): Boolean =
    (fn, m) match {
      case (a: Average, AggregationMethod.Average) => attrNamed(a.child, "value")
      case (s: Sum, AggregationMethod.Sum) => attrNamed(s.child, "value")
      case (x: Max, AggregationMethod.Max) => attrNamed(x.child, "value")
      case (n: Min, AggregationMethod.Min) => attrNamed(n.child, "value")
      // Last = max_by(value, bucket_ts): the value at the max timestamp —
      // composes over nested windows exactly like max
      case (mb: MaxBy, AggregationMethod.Last) =>
        attrNamed(mb.valueExpr, "value") && attrNamed(mb.orderingExpr, "bucket_ts")
      // AbsMax/AbsMin = max_by/min_by over the canonical magnitude struct
      // emitted by Rollup.aggColumn — (abs(value), ∓bucket_ts, ∓value)
      case (mb: MaxBy, AggregationMethod.AbsMax) =>
        attrNamed(mb.valueExpr, "value") &&
          magnitudeStruct(mb.orderingExpr, negated = true)
      case (mb: MinBy, AggregationMethod.AbsMin) =>
        attrNamed(mb.valueExpr, "value") &&
          magnitudeStruct(mb.orderingExpr, negated = false)
      case _ => false
    }

  /** Match `struct(abs(value), -bucket_ts, -value)` (negated, AbsMax) or
    * `struct(abs(value), bucket_ts, value)` (AbsMin), mod casts.
    */
  private def magnitudeStruct(e: Expression, negated: Boolean): Boolean =
    strip(e) match {
      case s: CreateNamedStruct => s.valExprs.map(strip) match {
        case Seq(a: Abs, ts, v) if attrNamed(a.child, "value") =>
          (ts, v) match {
            case (UnaryMinus(tsc, _), UnaryMinus(vc, _)) if negated =>
              attrNamed(tsc, "bucket_ts") && attrNamed(vc, "value")
            case (tsc, vc) if !negated =>
              attrNamed(tsc, "bucket_ts") && attrNamed(vc, "value")
            case _ => false
          }
        case _ => false
      }
      case _ => false
    }

  private def attrNamed(e: Expression, name: String): Boolean =
    strip(e) match {
      case a: Attribute => a.name == name
      case _ => false
    }

  // ---- the rewrite ------------------------------------------------------

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    for {
      (rel, binds, filters) <- dealias(agg.child)
      (files, finer, chain) <- levelOf(rel)
      // a filter below the Aggregate must commute with it to survive the
      // substitution: selecting on the group-preserved dimension column
      // (metric) filters whole groups, so applying it above the coarser
      // scan is exact. Anything touching value (pre-aggregation row
      // selection) or bucket_ts (partial coarse windows) disqualifies.
      if filters.forall(f =>
        f.deterministic && f.references.forall(_.name == "metric"))
      // groupings (inlined to relation attrs): exactly
      // {metric attr, align(bucket_ts, S)} in either order
      (metricAttr, alignedSpp) <- agg.groupingExpressions
        .map(substitute(_, binds)) match {
        case Seq(g1, g2) =>
          Seq((g1, g2), (g2, g1)).collectFirst(Function.unlift {
            case (m, b) =>
              (strip(m), extractAlign(b)) match {
                case (ma: Attribute, Some((ba, s)))
                    if ma.name == "metric" && ba.name == "bucket_ts" =>
                  Some((ma, s))
                case _ => None
              }
          })
        case _ => None
      }
      coarser <- chain.find(_.spp == alignedSpp)
      if RollupCatalog.servableFrom(chain, finer, coarser)
      // result exprs: the two groupings plus AT MOST one matching
      // aggregate — zero is the column-pruned shape `df.count()` leaves
      // behind (grouping keys only), which the coarser level also
      // serves exactly: an xff = 0 level emits one row per parent
      // window with ≥1 point, so its key set IS the distinct coarse
      // key set of the finer level
      (mapped, sawAgg) <- mapResults(agg.aggregateExpressions, binds,
        metricAttr, alignedSpp, coarser)
    } yield {
      // resolve the substituted scan under the SESSION THAT OWNS the
      // matched relation, never the thread-local active one — in a
      // multi-session JVM the singleton rule can run while another
      // session (with different conf/catalog) is active. Each rewrite
      // analyzes its own read, so two aggregates served from one level
      // in one query get distinct output ExprIds
      val level = RollupCatalog.read(files.sparkSession, chain, coarser)
        .queryExecution.analyzed
      val byName = level.output.map(a => a.name -> a).toMap
      val (sMetric, sBucket, sValue) =
        (byName("metric"), byName("bucket_ts"), byName("value"))
      val scan: LogicalPlan = Project(Seq(sMetric, sBucket, sValue), level)
      // re-anchor collected metric filters onto the substituted scan's
      // metric attribute and keep them above it (they still prune —
      // Catalyst pushes them into the coarser parquet scan). Rebind ONLY
      // the metric attribute: the guard above restricts references to
      // 'metric' today, but if that guard is ever relaxed (e.g. aligned
      // bucket_ts ranges) an unexpected reference must fail loudly as an
      // unbound attribute at physical planning/execution (this rule runs
      // post-analysis), not silently rebind to the wrong column
      val filtered = filters
        .map(_.transformUp { case a: Attribute if a.name == "metric" => sMetric })
        .reduceOption(And)
        .map(Filter(_, scan)).getOrElse(scan)
      val projected = mapped.map {
        case (orig, MetricCol) => Alias(sMetric, orig.name)(exprId = orig.exprId)
        case (orig, BucketCol) => Alias(sBucket, orig.name)(exprId = orig.exprId)
        case (orig, ValueCol(inlined, pinnedMean)) =>
          // keep any scalar wrapper (e.g. round6 after CollapseProject),
          // rebuilding from the INLINED form the shape checks validated
          // (the raw alias child may reference the discarded child
          // Project). The pinned mean substitutes its whole quotient —
          // Divide(fixedSum, count) — so the surviving round6 wrapper
          // applies to the stored value (idempotent over it); the single
          // aggregate case substitutes the aggregate call itself.
          val rebuilt =
            if (pinnedMean) inlined.transform {
              case d: Divide if d.right.collectFirst {
                    case ae: AggregateExpression
                        if ae.aggregateFunction.isInstanceOf[Count] => ae
                  }.isDefined &&
                  d.left.collectFirst {
                    case ae: AggregateExpression
                        if ae.aggregateFunction.isInstanceOf[Sum] => ae
                  }.isDefined =>
                sValue
            }
            else inlined.transform { case _: AggregateExpression => sValue }
          Alias(rebuilt, orig.name)(exprId = orig.exprId)
      }
      // both shapes substitute to a pure Project — no re-group: a
      // level's (metric, bucket_ts) rows are key-UNIQUE by construction
      // (each written from a groupBy on exactly those keys by
      // [[graft.ops.Materialize.materializeLevels]], the only writer
      // that stamps level facts), so the original Aggregate's distinct
      // key set IS the level's row set and a re-group would re-shuffle
      // the whole level for nothing
      Project(projected, filtered)
    }
  }

  private sealed trait RollupCol
  private case object MetricCol extends RollupCol
  private case object BucketCol extends RollupCol

  /** A value-result expression: `inlined` is the bind-substituted form
    * the shape checks validated (rebuilding from the RAW alias child
    * would resurrect references to the discarded child Project), and
    * `pinnedMean` marks [[graft.ops.Rollup.mean6]]'s aggregate pair,
    * whose whole quotient — not a single aggregate call — substitutes
    * to the stored column.
    */
  private final case class ValueCol(
    inlined: Expression, pinnedMean: Boolean) extends RollupCol

  /** Pair each Aggregate result expression with the rollup column that
    * replaces it, or None if any result is outside the rewritable shape.
    * The second element reports whether a value aggregate was present —
    * false is the column-pruned (`count()`) grouping-keys-only shape.
    */
  private def mapResults(
      results: Seq[NamedExpression],
      binds: Map[ExprId, Expression],
      metricAttr: Attribute,
      alignedSpp: Long,
      info: RollupCatalog.LevelInfo)
      : Option[(Seq[(NamedExpression, RollupCol)], Boolean)] = {
    var sawAgg = false
    val mapped: Seq[Option[(NamedExpression, RollupCol)]] = results.map { ne =>
      val inlined = ne match {
        case a: Attribute => substitute(a, binds)
        case Alias(c, _) => substitute(c, binds)
        case other => other
      }
      if (strip(inlined).semanticEquals(metricAttr)) Some((ne, MetricCol))
      else if (extractAlign(inlined).exists(_._2 == alignedSpp))
        Some((ne, BucketCol))
      else {
        // an aggregate result, possibly under scalar wrappers merged in
        // by CollapseProject (e.g. round(avg(value), 6)): exactly one
        // plain aggregate call of the level's own method, and the wrapper
        // must reference nothing besides that aggregate
        val aggs = inlined.collect { case ae: AggregateExpression => ae }
        val wrapperRefs = inlined
          .transform { case _: AggregateExpression => Literal(0.0) }
          .references
        val plain = aggs.forall(ae => !ae.isDistinct && ae.filter.isEmpty)
        aggs match {
          case Seq(ae)
              if plain && methodMatches(ae.aggregateFunction, info.method) &&
                wrapperRefs.isEmpty && !sawAgg =>
            sawAgg = true
            Some((ne, ValueCol(inlined, pinnedMean = false)))
          // the engine's own pinned mean (round6(fixedSum/count)) — two
          // aggregate calls forming one exact quotient
          case pair
              if plain && info.method == AggregationMethod.Average &&
                fixedMeanPair(pair) && wrapperRefs.isEmpty && !sawAgg =>
            sawAgg = true
            Some((ne, ValueCol(inlined, pinnedMean = true)))
          case _ => None
        }
      }
    }
    if (mapped.forall(_.isDefined)) Some((mapped.flatten, sawAgg))
    else None
  }
}
