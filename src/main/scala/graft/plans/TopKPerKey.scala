package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.PlanBridge

/** Whole-operator custom plan: per-group top-k as a first-class physical
  * operator — the (c) rung of the custom-operator ladder (LogicalPlan +
  * Strategy + SparkPlan), complementing the expression-level kernels and
  * the [[RangeJoinRewrite]] logical rule.
  *
  * Where the window formulation (`row_number` ≤ k) ranks and FILTERS every
  * row after the sort, [[TopKPerKeyExec]] declares what it needs from the
  * engine — `ClusteredDistribution(keys)` + per-partition ordering
  * (keys, order) — and then streams each partition once, emitting the
  * first k rows per key run and short-circuiting the rest. No rank column
  * is materialized, no filter pass runs, and Spark's planner inserts the
  * exchange/sort only when the child isn't already partitioned/sorted
  * right (a bucketed or z-ordered table skips straight to the scan).
  *
  * Scale: one hash exchange on the keys (or none if co-located), sort,
  * then an O(rows) single pass with O(1) state — against the same sort
  * plus a window's rank state and filter. For tiny k the [[graft.functions
  * .TopKAgg]] aggregator still wins (k·tasks rows into the shuffle);
  * this operator is the full-row-payload form that needs no struct
  * packing and no aggregation semantics.
  */
final case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Plans [[TopKPerKey]] to [[TopKPerKeyExec]]; installed once per session
  * by [[graft.functions.GraftExtensions]] (what `graft.GraftSession.builder()`
  * builds with). */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

final case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  // group runs must be contiguous and internally ranked: sort by keys,
  // then the caller's order (which should end in a unique tiebreaker for
  // replay determinism)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(SortOrder(_, Ascending)) ++ order)

  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val childOutput = child.output
    val limit = k
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      new Iterator[InternalRow] {
        private var currentKey: UnsafeRow = _
        private var emitted = 0
        private var nextRow: InternalRow = _

        // Lazy advance: the sorter reuses one UnsafeRow buffer, so the
        // source must not be pulled again until the consumer is done with
        // the row we handed out (Spark's rows-valid-until-next() contract).
        private def advance(): Unit = {
          while (nextRow == null && iter.hasNext) {
            val row = iter.next()
            val key = keyProj(row)
            if (currentKey == null || currentKey != key) {
              // keyProj reuses its buffer too; keep a stable copy per run
              currentKey = key.copy()
              emitted = 0
            }
            if (emitted < limit) {
              emitted += 1
              nextRow = row
            }
            // rows past k in a run are skipped without any rank bookkeeping
          }
        }

        override def hasNext: Boolean = {
          if (nextRow == null) advance()
          nextRow != null
        }
        override def next(): InternalRow = {
          if (nextRow == null) advance()
          val r = nextRow
          nextRow = null
          r
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKey {
  /** Dataset-API entry: top `k` rows of `df` per `keyCols` group, ranked
    * by `orderCols` (give a unique tiebreaker for determinism). The
    * session must carry [[TopKStrategy]]; without it the node could not
    * be planned, so this fails fast instead. */
  def topK(spark: SparkSession, df: DataFrame, keyCols: Seq[Column],
      orderCols: Seq[Column], k: Int): DataFrame = {
    if (!spark.sessionState.planner.strategies.contains(TopKStrategy))
      throw new IllegalStateException("TopKStrategy is not installed on this " +
        "session: build it with graft.GraftSession.builder() (or set " +
        "spark.sql.extensions=graft.functions.GraftExtensions)")
    val analyzed = df.queryExecution.analyzed
    val keys = keyCols.map(PlanBridge.expression(spark, _))
    val order = orderCols.map { c =>
      PlanBridge.expression(spark, c) match {
        case s: SortOrder => s
        case e => SortOrder(e, Ascending)
      }
    }
    PlanBridge.ofRows(spark, TopKPerKey(keys, order, k, analyzed))
  }
}
