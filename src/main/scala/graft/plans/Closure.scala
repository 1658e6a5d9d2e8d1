package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, BroadcastMode, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Transitive closure of a directed graph as one Catalyst operator:
  * for every row of `sources` (one bigint column, the source id), the
  * rows (doc_id = source, anc, [d]) for every node `anc` reachable
  * from it over one or more `edges` (two bigint columns, child →
  * parent), with `d` the minimum hop count. Reference behavior: the
  * registry's transitive reference resolution (references /
  * referenced-by, registry.go:1039; deletion guard, registry.go:591).
  *
  * The [[TransitiveClosure.Labels]] form reads symmetric `edges` as an
  * undirected graph and emits one row per source instead, (id = source,
  * label = least(source, min reached)): connected-component labels,
  * the duplicate-cluster resolution of [[graft.operators.Pipeline]].
  * On symmetric edges every node a source reaches reaches the same
  * set, so a task memoizes the label of each node it has walked and
  * walks each component at most once.
  *
  * NULL endpoints follow the recursive-CTE definition
  * `anc(c, p) :- edge(c, p); anc(c, p) :- anc(c, m), edge(m, p)`: a
  * NULL source expands over the edges whose child is NULL (nothing
  * ever reaches it, since NULL = NULL is not true), and a NULL parent
  * is emitted as an ancestor but never expanded (nor counted in a
  * label).
  *
  * Physical shape ([[TransitiveClosureExec]]) is that of a broadcast
  * hash join: the edges are collected once into a compact adjacency
  * (CSR arrays in one row) and broadcast, the sources stream in their
  * own partitions, and each task runs a plain BFS per source row. The
  * rounds a fixpoint loop would launch as separate jobs become loop
  * iterations inside one task, so constructing the operator launches
  * no job and executing it runs one broadcast job and one stage. Held
  * state per task is the adjacency plus one source's visited set (and
  * the label memo); the output is streamed. Callers gate it on a bound
  * of the edge count (`edgeBound`, checked against `threshold`), which
  * the plan strings show.
  */
case class TransitiveClosure(
    sources: LogicalPlan,
    edges: LogicalPlan,
    form: TransitiveClosure.Form,
    edgeBound: Long,
    threshold: Long,
    output: Seq[Attribute]) extends BinaryNode {

  require(sources.output.map(_.dataType) == Seq(LongType),
    s"TransitiveClosure sources must be one bigint column: ${sources.schema.catalogString}")
  require(edges.output.map(_.dataType) == Seq(LongType, LongType),
    s"TransitiveClosure edges must be (child, parent) bigint: ${edges.schema.catalogString}")

  override def left: LogicalPlan = sources
  override def right: LogicalPlan = edges

  // The children are read by position, so every column they output is
  // used; without this, column pruning would see no reference to them.
  override def references: AttributeSet = sources.outputSet ++ edges.outputSet
  override def producedAttributes: AttributeSet = AttributeSet(output)

  /** Size estimate for join planning: the edge bound bounds the
    * number of sources that emit anything, and each is charged
    * log2(edgeBound) ancestors — the depth of a reference DAG whose
    * ids halve along every edge — or one label. The default for an
    * unknown binary node (the product of both children's sizes) would
    * push every downstream join to a sort-merge join.
    */
  override def stats: Statistics = {
    val n = edgeBound.max(1L)
    val rows = if (form == TransitiveClosure.Labels) BigInt(n)
      else BigInt(n) * (64 - java.lang.Long.numberOfLeadingZeros(n))
    Statistics(sizeInBytes = rows * EstimationUtils.getSizePerRow(output))
  }

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): TransitiveClosure =
    copy(sources = newLeft, edges = newRight)
}

object TransitiveClosure {
  /** What the operator emits per source: its (doc_id, anc) pairs, the
    * same with the min hop count d, or one (id, label) row.
    */
  sealed trait Form
  case object Pairs extends Form
  case object Depths extends Form
  case object Labels extends Form

  /** The closure operator over two frames, as a DataFrame with
    * columns (doc_id, anc[, d]). Launches no job.
    */
  def of(sources: DataFrame, edges: DataFrame, withDepth: Boolean,
         edgeBound: Long, threshold: Long): DataFrame =
    plan(sources, edges, if (withDepth) Depths else Pairs, edgeBound, threshold)

  /** Connected-component labels over symmetric `edges`: one row
    * (id, label) per row of `sources`, labelled by the least id of its
    * component. Launches no job.
    */
  def components(sources: DataFrame, edges: DataFrame,
                 edgeBound: Long, threshold: Long): DataFrame =
    plan(sources, edges, Labels, edgeBound, threshold)

  private def plan(sources: DataFrame, edges: DataFrame, form: Form,
                   edgeBound: Long, threshold: Long): DataFrame = {
    val s = sources.sparkSession
    TransitiveClosureStrategy.ensureRegistered(s)
    val src = sources.queryExecution.analyzed
    val e = edges.queryExecution.analyzed
    val srcNullable = src.output.head.nullable
    val out = form match {
      case Labels => Seq(AttributeReference("id", LongType, srcNullable)(),
        AttributeReference("label", LongType, srcNullable)())
      case _ => Seq(AttributeReference("doc_id", LongType, srcNullable)(),
        AttributeReference("anc", LongType, e.output(1).nullable)()) ++
        (if (form == Depths) Seq(AttributeReference("d", LongType, nullable = false)()) else Nil)
    }
    org.apache.spark.sql.graftshim.GraftShim.ofRows(s,
      TransitiveClosure(src, e, form, edgeBound, threshold, out))
  }
}

/** Planner rule: TransitiveClosure → TransitiveClosureExec. Injected
  * via [[graft.GraftExtensions]] (injectPlannerStrategy).
  */
object TransitiveClosureStrategy extends GraftStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TransitiveClosure(src, e, form, bound, threshold, out) =>
      TransitiveClosureExec(planLater(src), planLater(e), form, bound, threshold, out) :: Nil
    case _ => Nil
  }
}

case class TransitiveClosureExec(
    sources: SparkPlan,
    edges: SparkPlan,
    form: TransitiveClosure.Form,
    edgeBound: Long,
    threshold: Long,
    output: Seq[Attribute]) extends BinaryExecNode {

  override def left: SparkPlan = sources
  override def right: SparkPlan = edges

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  // The edges are broadcast once as an adjacency; the sources stream.
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(AdjacencyMode) :: Nil

  // Each source row's pairs are emitted in that row's partition, keyed
  // by the source id: a partitioning on the source column carries over
  // to doc_id.
  override def outputPartitioning: Partitioning = {
    val srcAttr = sources.output.head
    sources.outputPartitioning match {
      case p: Expression =>
        p.transform { case a: Attribute if a.semanticEquals(srcAttr) => output.head }
          .asInstanceOf[Partitioning]
      case p => p
    }
  }

  // The gate decision the caller took, shown by explain.
  override protected def stringArgs: Iterator[Any] = Iterator(output,
    s"edgeBound=$edgeBound", s"threshold=$threshold", "branch=broadcast-bfs")

  protected override def doExecute(): RDD[InternalRow] = {
    val adjacency = edges.executeBroadcast[Array[InternalRow]]()
    val numOutputRows = longMetric("numOutputRows")
    val f = form
    sources.execute().mapPartitions { rows =>
      val adj = new Adjacency(adjacency.value.head.asInstanceOf[UnsafeRow])
      val seen = new VisitedSet
      val layerEnds = scala.collection.mutable.ArrayBuffer.empty[Int]
      val writer = new UnsafeRowWriter(if (f == TransitiveClosure.Depths) 3 else 2)
      def start(srcNull: Boolean, src: Long): Unit = {
        writer.reset()
        writer.zeroOutNullBytes()
        if (srcNull) writer.setNullAt(0) else writer.write(0, src)
        numOutputRows += 1
      }
      if (f == TransitiveClosure.Labels) {
        // node -> its component's label, for every node walked so far
        val memo = new scala.collection.mutable.LongMap[Long]
        rows.map { row =>
          val srcNull = row.isNullAt(0)
          val src = if (srcNull) 0L else row.getLong(0)
          start(srcNull, src)
          if (!srcNull && memo.contains(src)) writer.write(1, memo(src))
          else {
            adj.reach(srcNull, src, seen, layerEnds)
            var label = if (srcNull) Long.MaxValue else src
            var i = 0
            while (i < seen.size) { label = math.min(label, seen(i)); i += 1 }
            if (srcNull && seen.size == 0) writer.setNullAt(1) else writer.write(1, label)
            // a NULL source's reach spans every component its edges
            // touch, so only a non-NULL source's walk labels its nodes
            if (!srcNull) { i = 0; while (i < seen.size) { memo(seen(i)) = label; i += 1 } }
          }
          writer.getRow
        }
      } else rows.flatMap { row =>
        val srcNull = row.isNullAt(0)
        val src = if (srcNull) 0L else row.getLong(0)
        val nullDepth = adj.reach(srcNull, src, seen, layerEnds)
        val n = seen.size
        var layer = 0
        Iterator.range(0, if (nullDepth > 0) n + 1 else n).map { i =>
          start(srcNull, src)
          val d = if (i == n) {
            writer.setNullAt(1)
            nullDepth
          } else {
            writer.write(1, seen(i))
            while (layerEnds(layer) <= i) layer += 1
            layer + 1
          }
          if (f == TransitiveClosure.Depths) writer.write(2, d.toLong)
          writer.getRow
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): TransitiveClosureExec =
    copy(sources = newLeft, edges = newRight)
}

/** Broadcasts (child, parent) rows as ONE row of CSR arrays — the
  * compact adjacency the BFS reads without rebuilding it per task:
  *  0. keys: the distinct non-NULL children;
  *  1. offsets: key i's parents are parents[offsets(i) until offsets(i+1)];
  *  2. parents: every edge's parent, grouped by child (NULL elements
  *     for NULL parents);
  *  3. slots: an open-addressing table over keys (key index + 1, 0 = empty);
  *  4. roots: the parents of the edges whose child is NULL.
  * One long per edge plus a few words per distinct child, with no
  * per-row headers.
  */
private[plans] case object AdjacencyMode extends BroadcastMode {
  override def transform(rows: Array[InternalRow]): Array[InternalRow] =
    transform(rows.iterator, None)

  override def transform(rows: Iterator[InternalRow], sizeHint: Option[Long]): Array[InternalRow] = {
    val child, parent, roots = Array.newBuilder[Long]
    val parentNull, rootNull = scala.collection.mutable.BitSet.empty
    var n, nRoots = 0
    rows.foreach { r =>
      val p = if (r.isNullAt(1)) 0L else r.getLong(1)
      if (r.isNullAt(0)) {
        if (r.isNullAt(1)) rootNull += nRoots
        roots += p
        nRoots += 1
      } else {
        if (r.isNullAt(1)) parentNull += n
        child += r.getLong(0)
        parent += p
        n += 1
      }
    }
    require(n < (1 << 29), s"adjacency of $n edges exceeds one broadcast row")
    val cs = child.result()
    val ps = parent.result()
    // distinct children through the slot table; keyOf(i) = edge i's key
    val slots = new Array[Int](Adjacency.capacity(n))
    val keys = new Array[Long](n)
    val keyOf = new Array[Int](n)
    var nKeys = 0
    for (i <- 0 until n) {
      var slot = Adjacency.home(cs(i), slots.length)
      while (slots(slot) != 0 && keys(slots(slot) - 1) != cs(i))
        slot = (slot + 1) & (slots.length - 1)
      if (slots(slot) == 0) { keys(nKeys) = cs(i); nKeys += 1; slots(slot) = nKeys }
      keyOf(i) = slots(slot) - 1
    }
    // counting sort of the parents by key
    val offsets = new Array[Int](nKeys + 1)
    keyOf.foreach(k => offsets(k + 1) += 1)
    for (k <- 1 to nKeys) offsets(k) += offsets(k - 1)
    val cursor = offsets.clone()
    val grouped = new Array[Long](n)
    val groupedNull = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until n) {
      val at = cursor(keyOf(i))
      grouped(at) = ps(i)
      if (parentNull(i)) groupedNull += at
      cursor(keyOf(i)) += 1
    }
    def longs(a: Array[Long], nullAt: Iterable[Int]): UnsafeArrayData = {
      val u = UnsafeArrayData.fromPrimitiveArray(a)
      nullAt.foreach(u.setNullAt)
      u
    }
    val row = new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(keys, nKeys)),
      UnsafeArrayData.fromPrimitiveArray(offsets),
      longs(grouped, groupedNull),
      UnsafeArrayData.fromPrimitiveArray(slots),
      longs(roots.result(), rootNull)))
    Array(UnsafeProjection.create(Adjacency.schema)(row).copy())
  }

  override def canonicalized: BroadcastMode = this
}

/** Executor-side reader of the [[AdjacencyMode]] row, read in place. */
private[plans] final class Adjacency(row: UnsafeRow) {
  private val keys = row.getArray(0)
  private val offsets = row.getArray(1)
  private val parents = row.getArray(2)
  private val slots = row.getArray(3)
  private val roots = row.getArray(4)
  private val mask = slots.numElements() - 1

  /** Index of `key` in keys, or -1 when it has no out-edges. */
  private def find(key: Long): Int = {
    var slot = Adjacency.home(key, mask + 1)
    while (true) {
      val k = slots.getInt(slot) - 1
      if (k < 0) return -1
      if (keys.getLong(k) == key) return k
      slot = (slot + 1) & mask
    }
    -1
  }

  /** BFS from one source, layer by layer. Leaves the distinct non-NULL
    * ancestors in `seen`, in discovery order; `layerEnds(k)` is the
    * number of them found within k + 1 hops, so the layer of ancestor
    * i is its exact minimum hop count. Returns the hop count of a NULL
    * ancestor, 0 when there is none.
    */
  def reach(srcNull: Boolean, src: Long, seen: VisitedSet,
            layerEnds: scala.collection.mutable.ArrayBuffer[Int]): Int = {
    seen.clear()
    layerEnds.clear()
    var nullDepth = 0
    def visit(arr: UnsafeArrayData, from: Int, until: Int, d: Int): Unit = {
      var j = from
      while (j < until) {
        if (arr.isNullAt(j)) { if (nullDepth == 0) nullDepth = d }
        else seen.add(arr.getLong(j))
        j += 1
      }
    }
    def expand(node: Long, d: Int): Unit = {
      val k = find(node)
      if (k >= 0) visit(parents, offsets.getInt(k), offsets.getInt(k + 1), d)
    }
    if (srcNull) visit(roots, 0, roots.numElements(), 1) else expand(src, 1)
    layerEnds += seen.size
    var start = 0
    var d = 1
    while (start < seen.size) {
      val end = seen.size
      d += 1
      while (start < end) { expand(seen(start), d); start += 1 }
      layerEnds += seen.size
    }
    nullDepth
  }
}

private[plans] object Adjacency {
  val schema: Array[DataType] = Array(ArrayType(LongType), ArrayType(IntegerType),
    ArrayType(LongType), ArrayType(IntegerType), ArrayType(LongType))

  /** Power-of-two table size at load factor ≤ 1/2. */
  def capacity(n: Int): Int = Integer.highestOneBit(math.max(n, 1) * 2 - 1) << 1

  /** Slot of `key` in a power-of-two table (Fibonacci hashing, so
    * consecutive ids spread).
    */
  def home(key: Long, size: Int): Int =
    ((key * 0x9E3779B97F4A7C15L) >>> (64 - Integer.numberOfTrailingZeros(size))).toInt
}

/** Insertion-ordered set of longs for one BFS, reused across the
  * sources of a task: `clear` is O(1) (a generation stamp marks the
  * live slots).
  */
private[plans] final class VisitedSet {
  private var table = new Array[Long](64)
  private var stamp = new Array[Int](64)
  private var gen = 1
  private var order = new Array[Long](32)
  private var n = 0

  def size: Int = n
  def apply(i: Int): Long = order(i)

  def clear(): Unit = {
    n = 0
    gen += 1
    if (gen == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); gen = 1 }
  }

  /** Adds `v` unless present. */
  def add(v: Long): Unit = {
    if (2 * (n + 1) > table.length) grow()
    if (insert(v)) {
      if (n == order.length) order = java.util.Arrays.copyOf(order, 2 * n)
      order(n) = v
      n += 1
    }
  }

  private def insert(v: Long): Boolean = {
    val mask = table.length - 1
    var slot = Adjacency.home(v, table.length)
    while (stamp(slot) == gen) {
      if (table(slot) == v) return false
      slot = (slot + 1) & mask
    }
    table(slot) = v
    stamp(slot) = gen
    true
  }

  private def grow(): Unit = {
    table = new Array[Long](table.length * 2)
    stamp = new Array[Int](table.length)
    gen = 1
    var i = 0
    while (i < n) { insert(order(i)); i += 1 }
  }
}
