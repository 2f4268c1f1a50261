package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension (SURVEY.md §4.2 ladder step (c)): top-k rows
  * per key as a custom LogicalPlan + SparkStrategy + physical operator,
  * registered through `SparkSessionExtensions`
  * ([[GraftExtensions]]).
  *
  * This operator plans as
  *
  *   partial TopKPerKey (per input partition, bounded heaps)
  *     → hash exchange on the keys (inserted by EnsureRequirements from
  *       the final node's required distribution)
  *   final TopKPerKey (exact per-key top-k merge)
  *
  * so at most `partitions · keys · k` rows reach the exchange. Spark
  * 4.1 also cuts the window form `row_number() <= k` below the
  * exchange (`WindowGroupLimit … Partial`), but that partial needs its
  * input SORTED by (keys, order): it pays a full sort of every input
  * partition to keep k rows per key. The operator's edge is the
  * bounded heaps — one pass, O(keys · k) memory, no partition sort.
  * Measured on the sf0.1 embeddings (2000 points, 3.998M scored pairs,
  * k=5, 4 cores, identical results, 6 alternating reps): TopKPerKey
  * 10.7–14.1 s, the window form 14.0–16.1 s.
  *
  * Memory contract — bounded on both sides of the exchange:
  *
  *  - partial: at most `spark.graft.topk.maxPartialKeys` (default 100k)
  *    k-row heaps per task. When a partition carries more distinct keys,
  *    rows of overflow keys stream through unfiltered — the partial stage
  *    only needs to emit a SUPERSET of each key's top-k, so degrading to
  *    pass-through trades shuffle volume for memory, never correctness.
  *  - final: requires child ordering (keys, then order), so
  *    EnsureRequirements plans a SortExec — which spills to disk under
  *    pressure — and the operator itself streams each key group with an
  *    O(1) counter. No per-key state at all on the reduce side.
  */
case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder],
                          k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"top-k per key needs k > 0 (got $k)")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Plans the logical node as partial-then-final physical pair; the
  * exchange between them comes from `requiredChildDistribution`. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      // Post-analysis, so key dataTypes are resolved: reject map-typed
      // keys the same way Spark rejects them as grouping keys — map
      // equality is not byte-comparable (entry order varies), and both
      // stages compare keys as raw UnsafeRow bytes.
      keys.foreach { e =>
        require(!TopKPerKey.hasMap(e.dataType),
          s"top-k per key cannot group by a map-typed key (${e.dataType.sql})")
      }
      // Both stages group (and the exchange hash-partitions) by raw
      // UnsafeRow bytes, and Catalyst's NormalizeFloatingNumbers rule
      // only covers the operators it knows about — so float/double keys
      // are canonicalized here (NaN bit patterns, -0.0) or distinct NaN
      // encodings would split one logical key group into several,
      // emitting up to k rows EACH where the window form emits k total.
      val normKeys = keys.map(org.apache.spark.sql.graft.Shims.normalizeFloats)
      TopKPerKeyExec(normKeys, order, k, partial = false,
        TopKPerKeyExec(normKeys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
                          k: Int, partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil
  // Final is a streaming group-wise limit: it needs rows grouped AND
  // sorted (keys, then ranking order). EnsureRequirements plans a
  // SortExec to satisfy this — Spark's sort spills to disk, so the
  // reduce side has no OOM path regardless of key or group size.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil)
    else Seq(keys.map(SortOrder(_, Ascending)) ++ order)
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
  override def nodeName: String =
    if (partial) "GraftTopKPerKeyPartial" else "GraftTopKPerKeyFinal"

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    if (partial) {
      val maxKeys = conf.getConfString(
        "spark.graft.topk.maxPartialKeys", "100000").toInt
      child.execute().mapPartitions({ iter =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        val ord = RowOrdering.create(sortOrder, childOutput)
        // heap keeps the k FIRST rows in sort order; worst-kept on top
        val worstFirst: java.util.Comparator[InternalRow] = ord.reverse
        val heaps = new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
        val filtered = iter.flatMap { row =>
          val key = keyProj(row)
          var heap = heaps.get(key)
          if (heap == null && heaps.size() < maxKeys) {
            heap = new java.util.PriorityQueue[InternalRow](limit, worstFirst)
            heaps.put(key.copy(), heap)
          }
          if (heap == null) {
            // over the key cap: degrade this key to pass-through (still a
            // superset of its top-k; the final stage trims exactly)
            Iterator.single(row)
          } else {
            if (heap.size < limit) heap.offer(row.copy())
            else if (ord.compare(row, heap.peek()) < 0) {
              heap.poll(); heap.offer(row.copy())
            }
            Iterator.empty
          }
        }
        import scala.jdk.CollectionConverters._
        // ++ is by-name: heaps drain only after the input is exhausted
        filtered ++ heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
      }, preservesPartitioning = true)
    } else {
      child.execute().mapPartitions({ iter =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        var current: UnsafeRow = null
        var seen = 0L // long: a pass-through-degraded hot key can exceed 2^31 rows
        iter.filter { row =>
          val key = keyProj(row)
          if (current == null || key != current) { current = key.copy(); seen = 0L }
          seen += 1
          seen <= limit
        }
      }, preservesPartitioning = true)
    }
  }
}

object TopKPerKey {
  /** DataFrame API over the custom node: top-k rows per key by `order`
    * (ascending unless the Column carries .desc). `order` must totally
    * order rows within a key for deterministic results. */
  private[plans] def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    dt match {
      case _: MapType    => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType  => hasMap(a.elementType)
      case _             => false
    }
  }

  def apply(df: DataFrame, k: Int, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.graft.Shims
    val sortOrders = order.map(c => Shims.expression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    Shims.ofRows(df.sparkSession,
      TopKPerKeyNode(keys.map(Shims.expression), sortOrders, k,
        df.queryExecution.analyzed))
  }
}
