package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{coalesce, col, count => fcount, lit, max => fmax, min => fmin, sum => fsum}

import graft.core.{ManifestFileIndex, Relation, Warehouse}

/** Transparent aggregate-routing over incrementally-maintained views —
  * the serving half of `Warehouse.maintainAggView` (reference behavior:
  * BigQuery materialized views, whose "smart tuning" rewrites eligible
  * aggregates over a base table to read the materialized view; the
  * reference project's warehouse does this for every model a user
  * declares `materialized='materialized_view'`). A registered view makes
  * any matching `GROUP BY` over the SOURCE table read the view instead:
  * at 100 TB the difference between rescanning the corpus and folding a
  * keys-sized summary.
  *
  * Architecture: a `Rule[LogicalPlan]` appended to
  * `spark.experimental.extraOptimizations` (the runtime-injectable
  * optimizer extension point — `SparkSessionExtensions` needs builder
  * time; both run in the optimizer). The rule fires on
  * `Aggregate → (Project/Filter)* → LogicalRelation(ManifestFileIndex)`
  * and rewrites when ALL of:
  *
  *  - **scan identity**: the scan's version-dir set equals the source's
  *    CURRENT manifest state (`Warehouse.currentManifestState`). A
  *    maintenance delta scan (`readAppendedBetween`), a time-traveled
  *    read, or a post-delete grouped read carries a different dir set and
  *    is never rewritten — the first also closes the feedback loop of
  *    rewriting the view's own maintenance fold;
  *  - **freshness**: the view's consumer checkpoint equals the source's
  *    latest seq — OR the checkpoint→head range is PROVABLY append-only
  *    (`Warehouse.appendOnlyDelta`: every checkpointed entry survives,
  *    no delete entries), in which case the stale view serves unioned
  *    with the delta's partial aggregates — BigQuery's materialized-view
  *    semantics: answers are always current, the view merely bounds how
  *    much raw data the query folds. An overwrite, rollback, or delete
  *    in the range disproves append-only-ness and the source scan
  *    stands;
  *  - **coverage**: grouping keys ⊆ view keys, every filter between the
  *    aggregate and the scan references only view keys, and every
  *    aggregate folds losslessly from a registered partial — count(*)/
  *    count(col) by sum (coalesced to 0 for the empty global group),
  *    sum/min/max by themselves. DISTINCT / FILTER-clause aggregates and
  *    post-aggregate arithmetic never match;
  *  - **type identity**: the rewritten output's dataTypes equal the
  *    original's exactly (rules out e.g. decimal sums, whose re-fold
  *    widens precision).
  *
  * The rewritten subtree keeps the original output attribute ids via an
  * aliasing `Project`, so the parent plan is untouched. The view scan is
  * rebuilt per rewrite through `baseRelationToDataFrame` (fresh expr ids
  * — a query touching the same view twice never aliases). Rewrites
  * compose: the query-side fold over the view is itself a tiny Aggregate
  * that AQE plans as a single-stage hash agg over the view's files.
  */
object AggViewRewrite {

  /** A registered maintained view: `dst` = `src` grouped by `keys` with
    * `aggs` ((alias, fn, col), fn ∈ count|sum|min|max, col "*" for row
    * count) — the exact argument shape of `Warehouse.maintainAggView`,
    * which is what keeps registration honest: register with the same
    * values you maintain with.
    */
  final case class ViewSpec(wh: Warehouse, src: Relation, dst: Relation,
                            consumerId: String, keys: Seq[String],
                            aggs: Seq[(String, String, String)]) {
    private[plans] def foldAlias(fn: String, c: String): Option[String] =
      aggs.collectFirst { case (alias, f, cc) if f == fn && cc == c => alias }
  }

  /** Extract (keys, physical aggs, declared outputs) from a
    * materialized-view DEFINITION's analyzed plan — the Engine's
    * `materialized='materialized_view'` models declare their view as
    * SQL, and maintenance/registration need the `maintainAggView`
    * argument shape back. Accepts exactly the shape the maintenance and
    * the rewrite can honor: `Aggregate` over (Project/SubqueryAlias)*
    * over one relation, plain-column groupings, every measure an
    * aliased count(*)/count/sum/min/max/avg of a plain column, no
    * filters (a WHERE would have to be re-applied to every maintenance
    * delta AND proven implied by query filters at rewrite time — reject
    * rather than half-support). None = not that shape; the caller
    * decides how loudly to fail.
    *
    * `avg(c) AS m` DECOMPOSES: the stored table carries the mergeable
    * partials `__m_sum`/`__m_cnt` (avg partials themselves don't merge),
    * and the declared column comes back through the returned `outputs`
    * projection — (alias, SQL over the physical columns), identity for
    * everything but avg. Readers of the MODEL apply the projection;
    * queries over the SOURCE are served by the rewrite's own avg fold,
    * which finds the synthesized sum+count partials by (fn, col).
    */
  def extractSpec(df: DataFrame)
      : Option[(Seq[String], Seq[(String, String, String)],
                Seq[(String, String)])] =
    df.queryExecution.analyzed match {
      case agg: Aggregate =>
        @annotation.tailrec
        def bottoms(p: LogicalPlan): Boolean = p match {
          case s: SubqueryAlias => bottoms(s.child)
          // analyzed (pre-optimizer) plans keep temp-view wrappers — the
          // manifest-resolving ref() reads through one
          case v: org.apache.spark.sql.catalyst.plans.logical.View =>
            bottoms(v.child)
          case pr: Project
              if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
            bottoms(pr.child)
          case _: LogicalRelation => true
          case _ => false
        }
        if (!bottoms(agg.child)) return None
        val keys = agg.groupingExpressions.map {
          case a: AttributeReference => a.name
          case _ => return None
        }
        val aggs = Seq.newBuilder[(String, String, String)]
        val outs = Seq.newBuilder[(String, String)]
        agg.aggregateExpressions.foreach {
          case a: AttributeReference if keys.contains(a.name) =>
            outs += a.name -> s"`${a.name}`"
          case Alias(a: AttributeReference, n)
              if keys.contains(a.name) && a.name == n =>
            outs += n -> s"`$n`"
          case Alias(ae: AggregateExpression, name)
              if !ae.isDistinct && ae.filter.isEmpty =>
            outs += name -> s"`$name`"
            ae.aggregateFunction match {
              case c: Count => c.children match {
                // a NULL literal is count(NULL) = 0, not a row count
                case Seq(l: Literal) if l.value != null =>
                  aggs += ((name, "count", "*"))
                case Nil => aggs += ((name, "count", "*"))
                case Seq(a: AttributeReference) =>
                  aggs += ((name, "count", a.name))
                case _ => return None
              }
              case s: Sum => s.child match {
                case a: AttributeReference => aggs += ((name, "sum", a.name))
                case _ => return None
              }
              case m: Min => m.child match {
                case a: AttributeReference => aggs += ((name, "min", a.name))
                case _ => return None
              }
              case m: Max => m.child match {
                case a: AttributeReference => aggs += ((name, "max", a.name))
                case _ => return None
              }
              case av: Average => av.child match {
                case a: AttributeReference =>
                  aggs += ((s"__${name}_sum", "sum", a.name))
                  aggs += ((s"__${name}_cnt", "count", a.name))
                  // overwrite the identity output pushed above
                  outs += name ->
                    (s"(CAST(`__${name}_sum` AS DOUBLE) / " +
                      s"`__${name}_cnt`) AS `$name`")
                case _ => return None
              }
              case _ => return None
            }
          case _ => return None
        }
        val physical = aggs.result()
        // drop the identity placeholder for avg outputs (last-wins),
        // preserving declared column order
        val allOuts = outs.result()
        val ordered = allOuts.map(_._1).distinct
          .map(n => n -> allOuts.filter(_._1 == n).last._2)
        if (keys.isEmpty || physical.isEmpty) None
        else Some((keys, physical, ordered))
      case _ => None
    }

  /** The `SELECT` list rebuilding a view definition's DECLARED columns
    * from the stored physical table — identity unless the definition
    * used avg. None when every output is an identity passthrough (the
    * common case — callers can then read the table directly).
    */
  def projectionSql(outputs: Seq[(String, String)]): Option[String] = {
    val identity = outputs.forall { case (n, e) => e == s"`$n`" }
    if (identity) None else Some(outputs.map(_._2).mkString(", "))
  }

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, ViewSpec]

  def register(spec: ViewSpec): Unit = {
    require(spec.keys.nonEmpty && spec.aggs.nonEmpty,
      "view spec needs keys and aggs")
    registry.put(spec.wh.path(spec.dst), spec); ()
  }

  def deregister(wh: Warehouse, dst: Relation): Unit = {
    registry.remove(wh.path(dst)); ()
  }

  /** Idempotently append the rule to the session's user-provided
    * optimizer batch.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[Rewrite]))
      spark.experimental.extraOptimizations = cur :+ new Rewrite(spark)
  }

  final class Rewrite(session: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (registry.isEmpty ||
          session.conf.getOption("graft.mv.rewrite.enabled").contains("false"))
        plan // kill switch, mirroring graft.stats/graft.bloom.enabled
      else {
        // per-invocation memo of manifest metadata reads: the rule sees
        // every aggregate of the plan (and extraOptimizations can run to
        // fixpoint), but manifest state cannot change mid-optimization in
        // a way this rule must observe — one read per relation suffices
        val memo = new java.util.HashMap[String, AnyRef]()
        plan.transformUp {
          case agg: Aggregate =>
            // any rewrite-side failure (view dropped between registration
            // and query, manifest GC'd mid-attempt, filesystem error) must
            // degrade to the source scan — the rule's contract is that it
            // can only ever change cost, never answers, and never outcomes
            try tryRewrite(agg, memo).getOrElse(agg)
            catch {
              case scala.util.control.NonFatal(e) =>
                logWarning(s"graft MV rewrite attempt failed; " +
                  s"serving the source scan: $e")
                agg
            }
        }
      }

    /** Peel Project/Filter/SubqueryAlias down to the scan, collecting
      * filter conjuncts and a substitution that rewrites every attribute
      * of the peeled tree's OUTPUT to an expression over the scan's
      * output. Deterministic project aliases inline (the optimizer's
      * PullOutGroupingExpressions moves expression groupings into
      * exactly such a Project, and column-pruning Projects are the
      * attrs-only special case); anything non-deterministic bails.
      * Returned conds are already substituted.
      */
    private def strip(p: LogicalPlan)
        : Option[(Seq[Expression], LogicalRelation,
                  Map[org.apache.spark.sql.catalyst.expressions.ExprId,
                      Expression])] = p match {
      case lr: LogicalRelation => Some((Nil, lr, Map.empty))
      case s: SubqueryAlias => strip(s.child)
      case f: Filter => strip(f.child).map { case (conds, lr, sub) =>
        (conds :+ applySub(f.condition, sub), lr, sub)
      }
      case pr: Project if pr.projectList.forall(_.deterministic) =>
        strip(pr.child).flatMap { case (conds, lr, sub) =>
          val entries = pr.projectList.map {
            case a: Alias => Some(a.exprId -> applySub(a.child, sub))
            case ar: AttributeReference => Some(ar.exprId -> applySub(ar, sub))
            case _ => None
          }
          if (entries.contains(None)) None
          else Some((conds, lr, entries.flatten.toMap))
        }
      case _ => None
    }

    private def applySub(e: Expression,
        sub: Map[org.apache.spark.sql.catalyst.expressions.ExprId,
                 Expression]): Expression =
      if (sub.isEmpty) e
      else e.transform {
        case a: AttributeReference if sub.contains(a.exprId) => sub(a.exprId)
      }

    private def tryRewrite(agg: Aggregate,
                           memo: java.util.HashMap[String, AnyRef])
        : Option[LogicalPlan] = {
      val (conds, lr, sub) = strip(agg.child) match {
        case Some(x) => x
        case None => return None
      }
      val mfi = lr.relation match {
        case h: HadoopFsRelation => h.location match {
          case m: ManifestFileIndex => m
          case _ => return None
        }
        case _ => return None
      }
      // EVERY spec able to own this scan gets a full coverage attempt —
      // with several views registered over one source, the first-matched
      // spec may not cover this query's keys/aggs while another does
      matchSpecs(mfi, memo).iterator.flatMap { case (spec, dstSeq, delta) =>
        for {
          _ <- Option.when(conds.forall(c => c.deterministic &&
            c.references.forall(r => spec.keys.contains(r.name))))(())
          // any deterministic expression over view keys groups the view:
          // folding k-groups into f(k)-groups is a coarsening, and every
          // supported partial (count/sum/min/max, avg via sum+count)
          // re-merges losslessly under it — date_trunc(ts) dashboards
          // ride the per-ts view
          groupExprs <- traverse(agg.groupingExpressions) { ge =>
            val e = applySub(ge, sub)
            Option.when(e.deterministic && e.references.nonEmpty &&
              e.references.forall(r => spec.keys.contains(r.name)))(e)
          }
          folds <- traverse(agg.aggregateExpressions) { ne =>
            val inner = ne match {
              case Alias(c, _) => applySub(c, sub)
              case e => applySub(e, sub)
            }
            fold(spec, groupExprs, inner)
          }
          rewritten <- build(spec, dstSeq, delta, conds, groupExprs, folds,
            agg.output)
        } yield rewritten
      }.nextOption()
    }

    /** Every registered view able to serve this scan, each with the
      * source delta its fold must union in when stale. Fresh view
      * (checkpoint == source seq) serves alone; a stale view serves
      * TOGETHER with the appended delta when `appendOnlyDelta` can PROVE
      * the checkpoint→head range appended rows only (BigQuery's
      * materialized-view semantics: always-correct answers, the view
      * merely bounds how much raw data the query folds); any overwrite,
      * rollback, or delete in the range disproves it and that view is
      * skipped. Fresh views order before stale-serving ones (a fresh
      * view's fold touches no source data at all).
      */
    private def matchSpecs(mfi: ManifestFileIndex,
                           memo: java.util.HashMap[String, AnyRef])
        : Seq[(ViewSpec, Long, Option[DataFrame])] = {
      def memoized[A <: AnyRef](key: String)(f: => A): A =
        memo.computeIfAbsent(key, _ => f).asInstanceOf[A]
      val candidates = registry.values.asScala.toSeq.filter { s =>
        // cheap path-prefix gate first: the expensive checks read
        // manifest metadata, and the rule runs on EVERY aggregate the
        // session optimizes — a spec whose source can't own this scan
        // must cost zero IO. Normalized-path startsWith: a version dir of
        // table `evt2` must never pass table `evt`'s gate (and vice
        // versa), regardless of how the paths were spelled.
        val srcPrefix = new Path(s.wh.path(s.src)).toUri.getPath + "/"
        mfi.versionDirs.headOption
          .exists(_.toUri.getPath.startsWith(srcPrefix))
      }
      candidates.flatMap { s =>
        memoized(s"state:${s.wh.path(s.src)}")(
          s.wh.currentManifestState(s.src)) match {
          case Some((seq, dirs)) if dirs.nonEmpty && dirs == mfi.versionDirs =>
            // checkpoint and the dst seq it rides on come from ONE
            // manifest read; build() reads the view AT that seq. A
            // concurrent maintainAggView commit between here and the
            // view read otherwise races: the advanced view already
            // folded the delta we are about to union in (double-count),
            // or folded source commits past this scan's snapshot
            // (over-count). Pinning serves the checkpoint's own data.
            memoized(s"pin:${s.wh.path(s.dst)}:${s.consumerId}")(
              s.wh.pinnedConsumerState(s.dst, s.consumerId)) match {
              case Some((dstSeq, Some(ckpt))) if ckpt == seq =>
                Seq((s, dstSeq, None))
              case Some((dstSeq, Some(ckpt))) if ckpt < seq =>
                s.wh.appendOnlyDelta(s.src, ckpt, seq)
                  .map(d => (s, dstSeq, Some(d))).toSeq
              case _ => Nil
            }
          case _ => Nil
        }
      }.sortBy(_._3.isDefined) // fresh first
    }

    /** Map one output NamedExpression to its view-side Column: Left(i) =
      * passthrough of grouping expression i, Right(col) = an aggregate
      * fold over registered partials. avg folds as
      * sum(sum-partial)/sum(count-partial-of-the-SAME-column) — count(*)
      * never substitutes for count(col), null runs would skew the mean;
      * the derived Double matches Average's output type for integral and
      * floating inputs, and build's type-identity gate rejects the rest
      * (decimals).
      */
    private def fold(spec: ViewSpec, groupExprs: Seq[Expression],
                     inner: Expression): Option[Either[Int, Column]] = {
      def gidx(e: Expression): Option[Int] =
        groupExprs.zipWithIndex.collectFirst {
          case (g, i) if e.semanticEquals(g) => i
        }
      def aggFold(ae: AggregateExpression): Option[Column] =
        if (ae.isDistinct || ae.filter.nonEmpty) None
        else ae.aggregateFunction match {
          case c: Count => (c.children match {
            // a NULL literal is count(NULL) = 0, not a row count
            case Seq(l: Literal) if l.value != null =>
              spec.foldAlias("count", "*")
            case Nil => spec.foldAlias("count", "*")
            case Seq(a: AttributeReference) => spec.foldAlias("count", a.name)
            case _ => None
          }).map(al => coalesce(fsum(col(al)), lit(0L)))
          case s: Sum => s.child match {
            case a: AttributeReference =>
              spec.foldAlias("sum", a.name).map(al => fsum(col(al)))
            case _ => None
          }
          case m: Min => m.child match {
            case a: AttributeReference =>
              spec.foldAlias("min", a.name).map(al => fmin(col(al)))
            case _ => None
          }
          case m: Max => m.child match {
            case a: AttributeReference =>
              spec.foldAlias("max", a.name).map(al => fmax(col(al)))
            case _ => None
          }
          case av: Average => av.child match {
            case a: AttributeReference =>
              for {
                sumAl <- spec.foldAlias("sum", a.name)
                cntAl <- spec.foldAlias("count", a.name)
              } yield fsum(col(sumAl)).cast("double") /
                fsum(col(cntAl)).cast("double")
            case _ => None
          }
          case _ => None
        }
      inner match {
        case ae: AggregateExpression => aggFold(ae).map(Right(_))
        case e => gidx(e).map(Left(_))
      }
    }

    /** Assemble the replacement subtree: (view ∪ delta-partials when
      * stale) → filter → regroup → reorder to the original column order
      * → alias back to the original output ids. Bails (None) on any
      * output dataType mismatch.
      */
    private def build(spec: ViewSpec, dstSeq: Long, delta: Option[DataFrame],
                      conds: Seq[Expression],
                      groupExprs: Seq[Expression],
                      folds: Seq[Either[Int, Column]],
                      origOutput: Seq[Attribute]): Option[LogicalPlan] = {
      // fresh scan of the view (fresh expr ids per rewrite site), PINNED
      // at the seq the consumer checkpoint was read from — see matchSpecs
      val viewLr = stripToRelation(spec.wh.readAt(spec.dst, dstSeq)
        .queryExecution.analyzed) match {
        case Some(l) => l
        case None => return None
      }
      val viewOnly = session.baseRelationToDataFrame(viewLr.relation)
      if (!spec.keys.forall(viewOnly.columns.contains) ||
          !spec.aggs.forall(a => viewOnly.columns.contains(a._1))) return None
      // stale view: union in the appended delta, partial-aggregated into
      // the view's own column shape (the same construction maintenance
      // applies — the query-side fold then merges both indistinguishably)
      val viewDf = delta match {
        case None => viewOnly
        case Some(d) =>
          if (!spec.keys.forall(d.columns.contains) ||
              !spec.aggs.forall(a => a._3 == "*" || d.columns.contains(a._3)))
            return None
          val partials = spec.aggs.map {
            case (alias, "count", "*") => fcount(lit(1)).as(alias)
            case (alias, "count", c) => fcount(col(c)).as(alias)
            case (alias, "sum", c) => fsum(col(c)).as(alias)
            case (alias, "min", c) => fmin(col(c)).as(alias)
            case (alias, "max", c) => fmax(col(c)).as(alias)
            case _ => return None
          }
          val dp = d.groupBy(spec.keys.map(col): _*)
            .agg(partials.head, partials.tail: _*)
            .select(viewOnly.columns.map(col).toIndexedSeq: _*)
          if (dp.schema.map(f => (f.name, f.dataType)) !=
              viewOnly.schema.map(f => (f.name, f.dataType))) return None
          viewOnly.unionByName(dp)
      }
      val filtered = conds.zipWithIndex.foldLeft(viewDf) { case (df, (c, _)) =>
        df.filter(remapToView(c, viewDf))
      }
      // grouping expressions, deduplicated semantically, computed as
      // named columns BEFORE the regroup (an expression key like
      // date_trunc(ts) coarsens the view's per-ts groups)
      val distinctGroups = {
        val seen = scala.collection.mutable.ArrayBuffer.empty[Expression]
        groupExprs.foreach { e =>
          if (!seen.exists(_.semanticEquals(e))) seen += e
        }
        seen.toSeq
      }
      val keyIdx = groupExprs.map(e => distinctGroups.indexWhere(_.semanticEquals(e)))
      val keyNames = distinctGroups.indices.map(i => s"__graft_mv_k$i")
      val pre = filtered.select(
        distinctGroups.zipWithIndex.map { case (e, i) =>
          remapToView(e, viewDf).as(s"__graft_mv_k$i")
        } ++ spec.aggs.map(a => col(a._1)): _*)
      val tagged = folds.zipWithIndex.map {
        case (Right(c), i) => Right(c.as(s"__graft_mv_$i"))
        case (Left(k), _) => Left(k)
      }
      val aggCols = tagged.collect { case Right(c) => c }
      val grouped =
        if (aggCols.isEmpty)
          // keys-only regroup (e.g. the measure-pruned inner aggregate of
          // a COUNT-over-groupBy). NOT .distinct(): that splices a
          // Deduplicate node into the post-ReplaceDeduplicateWithAggregate
          // plan, which the planner refuses. A real Aggregate with a
          // dummy measure (dropped by the reorder select below) plans
          // directly.
          pre.groupBy(keyNames.map(col): _*)
            .agg(fmax(lit(1)).as("__graft_mv_d"))
        else
          pre.groupBy(keyNames.map(col): _*)
            .agg(aggCols.head, aggCols.tail: _*)
      val ordered = grouped.select(tagged.zipWithIndex.map {
        case (Left(gi), _) => col(s"__graft_mv_k${keyIdx(gi)}")
        case (Right(_), i) => col(s"__graft_mv_$i")
      }: _*)
      val newPlan = ordered.queryExecution.analyzed
      if (newPlan.output.size != origOutput.size ||
          newPlan.output.zip(origOutput).exists {
            case (n, o) => n.dataType != o.dataType
          }) return None
      Some(Project(origOutput.zip(newPlan.output).map { case (o, n) =>
        Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier)
      }, newPlan))
    }

    /** Rebind a source-side predicate's attributes to the view scan by
      * name (caller has verified every reference is a view key).
      */
    private def remapToView(cond: Expression, viewDf: DataFrame): Column = {
      val byName = viewDf.queryExecution.analyzed.output.map(a => a.name -> a).toMap
      org.apache.spark.sql.graftshim.ColumnShim.column(cond.transform {
        case a: AttributeReference => byName(a.name)
      })
    }

    private def stripToRelation(p: LogicalPlan): Option[LogicalRelation] =
      p match {
        case lr: LogicalRelation => Some(lr)
        case s: SubqueryAlias => stripToRelation(s.child)
        case _ => None
      }

    private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
      val out = Seq.newBuilder[B]
      val it = xs.iterator
      while (it.hasNext) f(it.next()) match {
        case Some(b) => out += b
        case None => return None
      }
      Some(out.result())
    }
  }
}
