package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSessionExtensions}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

import scala.collection.mutable

/** Per-key top-k as a first-class operator — the whole-operator rung of
  * the extension ladder (custom LogicalPlan + Strategy + SparkPlan via
  * SparkSessionExtensions).
  *
  * The DataFrame route (window row_number + filter) sorts every row of
  * every key before discarding all but k. This operator keeps a bounded
  * heap per key instead: a partial pass caps each partition's output at
  * k rows per key BEFORE the exchange, so the shuffle moves at most
  * (#partitions × k) rows per key no matter how hot the key — the
  * aggregation-style partial/final shape applied to top-k. Order is by
  * `order` descending, ties broken arbitrarily (callers needing total
  * determinism add a tie-break column to `order` via a struct).
  */
case class TopKPerKeyNode(keys: Seq[Expression], order: Expression, k: Int,
    global: Boolean, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Expression, k: Int,
    global: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (global) Seq(ClusteredDistribution(keys)) else Seq(UnspecifiedDistribution)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val orderExpr = order
    val childOutput = child.output
    val kk = k
    // the column's native ordering — a Double coercion would misorder
    // long/decimal values beyond 2^53
    val baseOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(order.dataType)
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ordEval = BindReferences.bindReference(orderExpr, childOutput)
      val anyOrd: Ordering[Any] = new Ordering[Any] { // nulls sort lowest
        def compare(x: Any, y: Any): Int =
          if (x == null && y == null) 0
          else if (x == null) -1
          else if (y == null) 1
          else baseOrd.asInstanceOf[Ordering[Any]].compare(x, y)
      }
      // per-key bounded min-heap of (orderValue, row); evict the smallest
      // so the k largest survive
      implicit val ord: Ordering[(Any, UnsafeRow)] =
        Ordering.by[(Any, UnsafeRow), Any](_._1)(anyOrd).reverse
      val heaps = mutable.Map.empty[UnsafeRow, mutable.PriorityQueue[(Any, UnsafeRow)]]
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      it.foreach { row =>
        // probe with the projection's reused buffer (UnsafeRow equality is
        // content-based); copy the key only when it first enters the map —
        // the hot-key case this operator exists for would otherwise
        // allocate a fresh key row per input row
        val keyRef = keyProj(row)
        val v = ordEval.eval(row)
        val heap = heaps.get(keyRef) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[(Any, UnsafeRow)]
            heaps(keyRef.copy()) = h
            h
        }
        if (heap.size < kk || anyOrd.lt(heap.head._1, v)) {
          if (heap.size >= kk) heap.dequeue()
          // re-evaluate from the copied row: non-primitive order values
          // (UTF8String, binary) returned by eval alias the input row's
          // buffer, which the iterator reuses
          val copied = toUnsafe(row).copy()
          heap.enqueue((ordEval.eval(copied), copied))
        }
      }
      heaps.iterator.flatMap(_._2.iterator.map(_._2))
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, global, child) =>
      TopKPerKeyExec(keys, order, k, global, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {
  /** keys → the k rows with the largest `order` value per key. Two-phase:
    * partition-local top-k, exchange on keys, final top-k. Attributes are
    * resolved here against the child plan (Column placeholders report
    * resolved=true and would slip through analysis inside a custom node).
    */
  def apply(df: DataFrame, keyCols: Seq[String], orderCol: String, k: Int): DataFrame = {
    require(k >= 1, s"top-k needs k >= 1, got $k")
    val spark = df.sparkSession
    val plan = GraftShim.logicalPlan(df)
    // the session's resolver, so name lookup honors spark.sql.caseSensitive
    // exactly as df("col") / SQL references do
    val resolver = spark.sessionState.conf.resolver
    def attr(n: String): Attribute = plan.output.filter(a => resolver(a.name, n)) match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"column '$n' not in ${plan.output.map(_.name).mkString(",")}")
      case many => throw new IllegalArgumentException(
        s"column '$n' is ambiguous: matches ${many.map(_.name).mkString(",")}")
    }
    val keyExprs = keyCols.map(attr)
    val ordExpr = attr(orderCol)
    val partial = TopKPerKeyNode(keyExprs, ordExpr, k, global = false, plan)
    val fin = TopKPerKeyNode(keyExprs, ordExpr, k, global = true, partial)
    GraftShim.ofRows(spark, fin)
  }
}

/** Extensions entry point registering the graft planner/optimizer hooks
  * and the native expressions as SQL functions — `spark.sql` users get
  * the same codegen'd operators the DataFrame layer uses
  * (`spark.sql.extensions=graft.plans.GraftPlannerExtensions`).
  */
class GraftPlannerExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    e.injectOptimizerRule(_ => SemiJoinRewrite)
    e.injectOptimizerRule(_ => TopKRewrite)
    // merge-on-read live view: snapshot relations with outstanding
    // delete sidecars splice in their live read at analysis time
    e.injectResolutionRule(s => new MorDeleteRewrite(s))
    // pre-CBO: must run AFTER the analyzer's RewriteMergeIntoTable has
    // produced the ReplaceData plan but BEFORE early scan pushdown
    // builds the row-level scan (which reads the annotation)
    e.injectPreCBORule(_ => graft.sources.v2.AutoRuntimeGroupFilter)
    graft.functions.SqlFunctions.all.foreach(e.injectFunction)
  }
}
