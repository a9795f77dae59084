package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Top-k-per-group as a WHOLE-OPERATOR extension — the (c) tier of
  * the custom-operator ladder: logical node + planner Strategy +
  * physical exec, showing semantics Spark's built-ins express only
  * as window(row_number) → filter.
  *
  * Why a physical operator: the window formulation must FULLY SORT
  * every group (Exchange → Sort → Window → Filter) to rank rows it
  * then throws away. This operator keeps a bounded k-row heap per
  * group and never sorts: a partial pass runs before the shuffle, so
  * at most k rows PER GROUP PER MAP TASK cross the wire (the
  * aggregation-style partial/final contract, applied to row
  * selection), then a final pass merges heaps after a hash exchange
  * on the group key. At 100 TB with k=3 this is the difference
  * between shuffling the table and shuffling ~k × groups rows.
  *
  * Ties are broken by caller-supplied unique columns, so the
  * selected row SET is deterministic (playbook rule: top-k without a
  * total order is not a well-defined query).
  */
case class TopKPerGroupNode(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    maxPartialGroups: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(
      newChild: LogicalPlan): TopKPerGroupNode = copy(child = newChild)
}

/** Plans the logical node as partial → (exchange via required
  * distribution) → final. */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(g, o, k, cap, child) =>
      val partial =
        TopKPerGroupExec(g, o, k, cap, partial = true, planLater(child))
      TopKPerGroupExec(g, o, k, cap, partial = false, partial) :: Nil
    case _ => Nil
  }
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    maxPartialGroups: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val gExprs = groupExprs
    val ordSpec = order
    val kk = k
    val cap = maxPartialGroups
    val isPartial = partial
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(gExprs, childOutput)
      val ord = RowOrdering.create(ordSpec, childOutput)
      // heap head = the WORST kept row (last in requested order)
      val cmp = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          ord.compare(b, a)
      }
      // Memory bound: the partial pass can see arbitrarily many
      // distinct keys per map task, so when the heap map reaches
      // `maxPartialGroups` it is DRAINED INTO THE OUTPUT and reset —
      // and because this iterator is lazy, those drained rows are
      // written to the shuffle before consumption resumes. Retained
      // state is therefore ≤ cap×k heap rows plus one drained batch
      // at any instant (ADVICE r5: the previous eager loop kept every
      // drained batch on-heap until the partition ended). Correctness
      // is unchanged — a flushed group's rows meet the final pass's
      // heap after the hash exchange; only some shuffle reduction is
      // traded away under extreme group cardinality (the same
      // pressure-valve contract as map-side combine). The FINAL pass
      // never flushes: after the exchange a group's rows are
      // co-located and its working set is groups-per-reduce-
      // partition, the quantity the shuffle exists to bound.
      new Iterator[InternalRow] {
        private val heaps = new java.util.HashMap[
          UnsafeRow, java.util.PriorityQueue[InternalRow]]()
        private var pending: java.util.Iterator[InternalRow] =
          java.util.Collections.emptyIterator()
        private var drainedFinal = false

        private def drainHeaps(): java.util.Iterator[InternalRow] = {
          val out = new java.util.ArrayList[InternalRow]()
          heaps.values.forEach(h => out.addAll(h))
          heaps.clear()
          out.iterator()
        }

        /** Consume input until a flush yields rows or input ends. */
        private def fill(): Unit = {
          while (!pending.hasNext && iter.hasNext) {
            val row = iter.next()
            val key = keyProj(row)
            var q = heaps.get(key)
            if (q == null) {
              if (isPartial && heaps.size >= cap)
                pending = drainHeaps()
              q = new java.util.PriorityQueue[InternalRow](kk + 1, cmp)
              heaps.put(key.copy(), q)
            }
            if (q.size < kk) q.add(row.copy())
            else if (ord.compare(row, q.peek()) < 0) {
              q.poll()
              q.add(row.copy())
            }
          }
          if (!pending.hasNext && !iter.hasNext && !drainedFinal) {
            drainedFinal = true
            pending = drainHeaps()
          }
        }

        override def hasNext: Boolean = { fill(); pending.hasNext }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          pending.next()
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKPerGroupExec = copy(child = newChild)
}

object TopKPerGroup {

  /** Default partial-pass group-map cap before a flush (see
    * doExecute). At k=3 and 64-byte rows this keeps live partial
    * state (cap×k heap rows + one in-flight drained batch) near
    * 100 MB. */
  val DefaultMaxPartialGroups: Int = 500000

  /** Top-k rows per group under (orderCol asc/desc, tieBreakers
    * asc) — tie-breakers must make the order total for the result
    * to be well-defined. The session plans the node only once
    * `graft.functions.GraftFunctions.install` has added
    * [[TopKPerGroupStrategy]] to it. */
  def apply(df: DataFrame, groupCols: Seq[String], orderCol: String,
      descending: Boolean, tieBreakers: Seq[String], k: Int,
      maxPartialGroups: Int = DefaultMaxPartialGroups): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxPartialGroups > 0,
      s"maxPartialGroups must be positive, got $maxPartialGroups")
    val spark = df.sparkSession
    val lp = df.queryExecution.analyzed
    def attr(n: String): Attribute =
      lp.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"no column $n in ${lp.output.map(_.name).mkString(",")}"))
    // Float group keys are rejected: Spark normalizes -0.0/NaN group
    // keys via an optimizer rule this custom node does not receive,
    // so a double key could split one logical group into two heaps.
    groupCols.map(attr).foreach { a =>
      val isFloat = a.dataType == org.apache.spark.sql.types.DoubleType ||
        a.dataType == org.apache.spark.sql.types.FloatType
      require(!isFloat,
        s"TopKPerGroup: group column ${a.name} is ${a.dataType.simpleString}; " +
          "floating-point group keys are not supported (no -0.0/NaN " +
          "normalization on this node) — cast or bucket the key first")
    }
    val dir = if (descending) Descending else Ascending
    val ord = SortOrder(attr(orderCol), dir) +:
      tieBreakers.map(t => SortOrder(attr(t), Ascending))
    org.apache.spark.sql.GraftSqlShims.ofRows(spark,
      TopKPerGroupNode(groupCols.map(attr(_)), ord, k, maxPartialGroups, lp))
  }
}
