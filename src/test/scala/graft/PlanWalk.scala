package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

/** Shared AQE-aware physical-plan traversal for plan audits (used by
  * PlanAuditSpec and the ProfileAll tool — ONE copy so a new AQE
  * node type fixed here can't desynchronize the test from the tool).
  */
object PlanWalk {

  /** Flatten a plan, descending through AQE wrappers and into the
    * plans wrapped by (leaf) query-stage nodes.
    */
  def expand(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
    case q: QueryStageExec => p +: expand(q.plan)
    case _ => p +: p.children.flatMap(expand)
  }

  /** Flatten like [[expand]], but ALSO descend into cached builds
    * (InMemoryTableScanExec → relation.cachedPlan): the cached plan
    * executes too (once, at build), so an audit that must see every
    * executed operator — e.g. a global window hidden inside a cached
    * subtree — cannot stop at the cache boundary the way the
    * broadcast audit deliberately does.
    */
  def expandThroughCache(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => expandThroughCache(a.executedPlan)
    case q: QueryStageExec => q +: expandThroughCache(q.plan)
    case c: InMemoryTableScanExec =>
      c +: expandThroughCache(c.relation.cachedPlan)
    case _ => p +: p.children.flatMap(expandThroughCache)
  }

  /** Every WindowExec with an EMPTY partition spec in the executed
    * plan — the shape Spark warns "No Partition Defined for Window
    * operation! Moving all data to a single partition" about. The
    * only acceptable inputs are bounded-by-design frames (panels,
    * top-k shortlists, per-partition offset rows); PlanAuditSpec
    * pins that with measured row counts against a whitelist.
    */
  def unpartitionedWindows(plan: SparkPlan): Seq[WindowExec] =
    expandThroughCache(plan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }

  /** Upper bound on a window node's input rows: walk DOWN the
    * single-child spine from the window and return the first bound
    * met —
    *  - a LIMIT node's static `limit` (TakeOrderedAndProject /
    *    GlobalLimit): the strongest answer, scale-INDEPENDENT by
    *    construction (the spine above it cannot add rows);
    *  - a node's measured numOutputRows;
    *  - an exchange's shuffleRecordsWritten (rows written INTO the
    *    shuffle feeding the window are exactly the window's input).
    * The spine walk matters: a preorder "first metric anywhere
    * below" overshoots through row-REDUCING spine nodes that carry
    * no row metric themselves (TakeOrderedAndProject above a
    * HashAggregate would report the aggregate's output, 'users',
    * instead of the take's k). Metrics are meaningful only AFTER the
    * plan has executed; None if the spine forks (a join directly
    * under the window) before any bound.
    */
  def windowInputRows(w: SparkPlan): Option[Long] = {
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def step(p: SparkPlan): Option[Long] = p match {
      case t: TakeOrderedAndProjectExec => Some(t.limit.toLong)
      case g: GlobalLimitExec if g.limit >= 0 => Some(g.limit.toLong)
      case a: AdaptiveSparkPlanExec => step(a.executedPlan)
      case q: QueryStageExec => step(q.plan)
      case _ =>
        p.metrics.get("numOutputRows").map(_.value).orElse(p match {
          case e: ShuffleExchangeExec =>
            e.metrics.get("shuffleRecordsWritten").map(_.value)
          // a reused exchange is a leaf in traversal but carries the
          // ORIGINAL exchange as a member — its rows are the input
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            step(r.child)
          case c: InMemoryTableScanExec => step(c.relation.cachedPlan)
          // a union's input rows = sum over branches (panel unions:
          // per-stage/per-signature 1-row aggregates)
          case u: org.apache.spark.sql.execution.UnionExec =>
            val parts = u.children.map(step)
            if (parts.forall(_.isDefined)) Some(parts.flatten.sum) else None
          case _ if p.children.size == 1 => step(p.children.head)
          case _ => None
        })
    }
    w.children.headOption.flatMap(step)
  }

  /** True iff some broadcast exchange's build relation contains a raw
    * (not aggregated, not k-bounded) scan of `table` — the shape that
    * inverts a join the moment the fact side outgrows the broadcast
    * threshold. An aggregate between the scan and the broadcast means
    * the broadcast relation is the (small) aggregate output: allowed.
    * A LIMIT / top-k node bounds the subtree the same way — the
    * broadcast relation is at most k rows no matter how large the
    * scan below it grows, so a broadcast(topK(fact)) shortlist is a
    * legitimate 100 TB plan. Query stages are descended into, not
    * string-matched — a stage's toString prints its whole subtree and
    * would misclassify an aggregated relation wrapped in a reused
    * stage.
    */
  def broadcastsRawScan(plan: SparkPlan, table: String): Boolean = {
    def rawScan(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => false
      case _: org.apache.spark.sql.execution.GlobalLimitExec => false
      case _: org.apache.spark.sql.execution.CollectLimitExec => false
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
        false
      case a: AdaptiveSparkPlanExec => rawScan(a.executedPlan)
      case q: QueryStageExec => rawScan(q.plan)
      // a cache read is as raw as its BUILD plan: descend and apply
      // the same aggregate-blocks-raw rule (the leaf's toString prints
      // the whole InMemoryRelation, so string-matching it would flag a
      // cached aggregate output as a raw scan)
      case c: InMemoryTableScanExec => rawScan(c.relation.cachedPlan)
      case s if s.children.isEmpty => s.toString.contains(table)
      case s => s.children.exists(rawScan)
    }
    expand(plan)
      .collect { case b: BroadcastExchangeExec => b }
      .exists(b => rawScan(b.child))
  }
}
