package graft.plans

import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, BroadcastMode, ClusteredDistribution, Distribution, HashPartitioning, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SQLExecution, ShuffledRowRDD, SparkPlan, UnsafeRowSerializer}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLMetrics, SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel

/** Transitive closure of a directed graph as one Catalyst operator:
  * for every row of `sources` (one bigint column, the source id), the
  * rows (doc_id = source, anc, [d]) for every node `anc` reachable
  * from it over one or more `edges` (two bigint columns, child →
  * parent), with `d` the minimum hop count. Reference behavior: the
  * registry's transitive reference resolution (references /
  * referenced-by, registry.go:1039; deletion guard, registry.go:591).
  *
  * The [[TransitiveClosure.Labels]] form takes only symmetric `edges`,
  * read as an undirected graph, and emits one row (id, label) per
  * node: every distinct child, plus a NULL id where an edge has a NULL
  * child, labelled least(id, min reached). These are connected-
  * component labels, the duplicate-cluster resolution of
  * [[graft.operators.Pipeline]].
  *
  * NULL endpoints follow the recursive-CTE definition
  * `anc(c, p) :- edge(c, p); anc(c, p) :- anc(c, m), edge(m, p)`: a
  * NULL source expands over the edges whose child is NULL (nothing
  * ever reaches it, since NULL = NULL is not true), and a NULL parent
  * is emitted as an ancestor but never expanded (nor counted in a
  * label).
  *
  * The size gate is the operator's own ([[TransitiveClosureExec]]):
  * at execution it reads the exact edge count and runs a broadcast BFS
  * at or under `threshold` edge rows, partitioned RDD rounds above it.
  * `bound` is an optional plan-time bound: on the edge rows in the
  * closure forms, on the node count in the label form. It sizes the
  * estimate below and shows in the plan string.
  */
case class TransitiveClosure(
    children: Seq[LogicalPlan],
    form: TransitiveClosure.Form,
    bound: Option[Long],
    threshold: Long,
    output: Seq[Attribute]) extends LogicalPlan {

  /** (child, parent) edges; `children(1)` is the sources, absent in the label form. */
  def edges: LogicalPlan = children.head

  require(edges.output.map(_.dataType) == Seq(LongType, LongType),
    s"TransitiveClosure edges must be (child, parent) bigint: ${edges.schema.catalogString}")
  require(children.size == (if (form == TransitiveClosure.Labels) 1 else 2) &&
    children.drop(1).forall(_.output.map(_.dataType) == Seq(LongType)),
    s"TransitiveClosure $form takes ${if (form == TransitiveClosure.Labels) "no" else "one bigint"} sources")

  // The children are read by position, so every column they output is
  // used; without this, column pruning would see no reference to them.
  override def references: AttributeSet = AttributeSet(children.flatMap(_.output))
  override def producedAttributes: AttributeSet = AttributeSet(output)

  /** Size estimate for join planning, from `bound` (else the edges'
    * own estimate): the bound caps the sources that emit anything, and
    * each is charged log2(bound) ancestors — the depth of a reference
    * DAG whose ids halve along every edge — or one label. The default
    * for an unknown node (the product of its children's sizes) would
    * push every downstream join to a sort-merge join.
    */
  override def stats: Statistics = {
    val n = bound.map(BigInt(_))
      .getOrElse(edges.stats.sizeInBytes / EstimationUtils.getSizePerRow(edges.output)).max(1)
    val rows = if (form == TransitiveClosure.Labels) n else n * n.bitLength
    Statistics(sizeInBytes = rows * EstimationUtils.getSizePerRow(output))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): TransitiveClosure = copy(children = newChildren)
}

object TransitiveClosure {
  /** What the operator emits: per source, its (doc_id, anc) pairs or
    * the same with the min hop count d; per node, one (id, label) row.
    */
  sealed trait Form
  case object Pairs extends Form
  case object Depths extends Form
  case object Labels extends Form

  /** The closure operator over two frames, as a DataFrame with
    * columns (doc_id, anc[, d]). Launches no job.
    */
  def of(sources: DataFrame, edges: DataFrame, withDepth: Boolean,
         bound: Option[Long], threshold: Long): DataFrame =
    plan(edges, Some(sources), if (withDepth) Depths else Pairs, bound, threshold)

  /** Connected-component labels over symmetric `edges`: one row
    * (id, label) per node, labelled by the least id of its component.
    * `bound` bounds the node count. Launches no job.
    */
  def components(edges: DataFrame, bound: Option[Long], threshold: Long): DataFrame =
    plan(edges, None, Labels, bound, threshold)

  private def plan(edges: DataFrame, sources: Option[DataFrame], form: Form,
                   bound: Option[Long], threshold: Long): DataFrame = {
    val s = edges.sparkSession
    TransitiveClosureStrategy.ensureRegistered(s)
    val e = edges.queryExecution.analyzed
    val src = sources.map(_.queryExecution.analyzed)
    val out = src match {
      case None => Seq(AttributeReference("id", LongType, e.output.head.nullable)(),
        AttributeReference("label", LongType, e.output.head.nullable)())
      case Some(p) => Seq(AttributeReference("doc_id", LongType, p.output.head.nullable)(),
        AttributeReference("anc", LongType, e.output(1).nullable)()) ++
        (if (form == Depths) Seq(AttributeReference("d", LongType, nullable = false)()) else Nil)
    }
    org.apache.spark.sql.graftshim.GraftShim.ofRows(s,
      TransitiveClosure(e +: src.toSeq, form, bound, threshold, out))
  }
}

/** Planner rule: TransitiveClosure → TransitiveClosureExec. Injected
  * via [[graft.GraftExtensions]] (injectPlannerStrategy).
  */
object TransitiveClosureStrategy extends GraftStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TransitiveClosure(children, form, bound, threshold, out) =>
      TransitiveClosureExec(children.map(planLater), form, bound, threshold, out) :: Nil
    case _ => Nil
  }
}

/** The closure operator's one execution path, with its size gate.
  *
  * Edge delivery, chosen at planning:
  *  - closure forms with a plan-time `bound` ≤ `threshold`: one
  *    broadcast adjacency ([[AdjacencyMode]]), the BFS side for sure.
  *    Two instances over the same edges (the mutual-reach self-join of
  *    `reg_ref_cycles`) share the broadcast through exchange reuse.
  *  - other closure forms: one hash exchange on the child column, which
  *    two such instances share the same way.
  *  - the label form (one instance per query): a hash shuffle on the
  *    child column that the exec starts itself, so that the gate's job
  *    also computes and writes the edges. A planner exchange is one
  *    more job under AQE, which materializes each stage as its own job.
  * Paired StageProfile (sf0.1, width 4, two alternating pairs, last
  * of three runs, jobs including construction), forced delivery vs
  * this choice: with the edges through the exchange, reg_refs_closure
  * runs 5 jobs and 9 tasks (0.86, 0.74 s) against 4 and 5 (0.66,
  * 0.52 s) with the broadcast, and reg_ref_cycles 11 jobs and 27
  * tasks against 9 and 19; dedup_semantic_clusters through a planner
  * exchange runs 8 jobs against 7 with its own shuffle.
  *
  * The gate, at execution:
  *  - edge rows ≤ `threshold`: the adjacency holds every edge, and the
  *    sources stream in their own partitions (the label form streams
  *    the distinct children of its clustered edges); each task runs a
  *    plain BFS per source row. Without a broadcast child, one job
  *    counts the clustered edges and ships at most `threshold` of them
  *    to the driver (a second job reads any partitions held back; see
  *    `collectUpTo`), which broadcasts the adjacency.
  *  - above it: [[ClosureRounds]], RDD rounds at the session shuffle
  *    width, run from here to their fixpoint over the clustered edges.
  *    Nothing is collected in full.
  * The edge rows read and the rounds run (0 = the BFS) are SQL
  * metrics, and one INFO line records edgeRows, threshold and branch.
  */
case class TransitiveClosureExec(
    children: Seq[SparkPlan],
    form: TransitiveClosure.Form,
    bound: Option[Long],
    threshold: Long,
    output: Seq[Attribute]) extends SparkPlan {
  import TransitiveClosureExec._

  def edges: SparkPlan = children.head
  def sources: Option[SparkPlan] = children.lift(1)

  private def broadcastEdges: Boolean =
    form != TransitiveClosure.Labels && bound.exists(_ <= threshold)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "edgeRows" -> SQLMetrics.createMetric(sparkContext, "edge rows"),
    "rounds" -> SQLMetrics.createMetric(sparkContext, "rounds (0 = broadcast BFS)"))

  override def requiredChildDistribution: Seq[Distribution] =
    (if (broadcastEdges) BroadcastDistribution(AdjacencyMode)
     else if (sources.isEmpty) UnspecifiedDistribution
     else ClusteredDistribution(edges.output.take(1))) +: sources.map(_ => UnspecifiedDistribution).toSeq

  // With broadcast edges, each source row's pairs are emitted in that
  // row's partition, keyed by the source id: a partitioning on the
  // source column carries over to doc_id. Otherwise the branch, and so
  // the layout, is only known at execution.
  override def outputPartitioning: Partitioning = sources match {
    case Some(src) if broadcastEdges =>
      val srcAttr = src.output.head
      src.outputPartitioning match {
        case p: Expression =>
          p.transform { case a: Attribute if a.semanticEquals(srcAttr) => output.head }
            .asInstanceOf[Partitioning]
        case p => p
      }
    case _ => UnknownPartitioning(0)
  }

  override protected def stringArgs: Iterator[Any] =
    Iterator(output, s"threshold=$threshold") ++ bound.map(b => s"bound=$b")

  protected override def doExecute(): RDD[InternalRow] = {
    val (adjacency, n, clustered) =
      if (broadcastEdges) {
        val b = edges.executeBroadcast[Array[InternalRow]]()
        (Some(b), new Adjacency(b.value.head.asInstanceOf[UnsafeRow]).edgeCount, null)
      } else {
        val clustered = if (sources.isEmpty) clusterOnChild(edges.execute()) else edges.execute()
        val (n, rows, _) = collectUpTo(clustered, threshold)
        // Left to the ContextCleaner, like a planner broadcast: a task
        // retried after the output was first read needs it again.
        (rows.map(r => sparkContext.broadcast(AdjacencyMode.transform(r, None))), n, clustered)
      }
    logInfo(s"closure edgeRows=$n threshold=$threshold " +
      s"branch=${if (adjacency.isDefined) "broadcast-bfs" else "rounds"}")
    val out = adjacency match {
      case Some(adj) => bfs(adj, sources.fold(distinctChildren(clustered))(_.execute()))
      case None =>
        val width = conf.numShufflePartitions
        val edgePairs = clustered.map(r => (node(r, 0), node(r, 1)))
        val depth = form == TransitiveClosure.Depths
        val (rows, rounds) = sources match {
          case None => ClosureRounds.labels(edgePairs, width) match {
            case (l, k) => (emit(l)((w, x) => { put(w, 0, x._1); put(w, 1, x._2) }), k)
          }
          case Some(src) =>
            ClosureRounds.closure(src.execute().map(node(_, 0)), edgePairs, width) match {
              case (p, k) => (emit(p)((w, x) => {
                put(w, 0, x._1); put(w, 1, x._2)
                if (depth) w.write(2, x._3.toLong)
              }), k)
            }
        }
        longMetric("rounds").set(rounds.toLong)
        rows
    }
    longMetric("edgeRows").set(n)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      Seq(longMetric("edgeRows"), longMetric("rounds")))
    out
  }

  /** The label form's edges hash-clustered on the child column by a
    * shuffle the exec starts itself, so the gate's one job also writes
    * them (see the class comment).
    */
  private def clusterOnChild(rdd: RDD[InternalRow]): RDD[InternalRow] =
    new ShuffledRowRDD(ShuffleExchangeExec.prepareShuffleDependency(rdd, edges.output,
        HashPartitioning(edges.output.take(1), conf.numShufflePartitions), new UnsafeRowSerializer(2),
        SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)),
      SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext))

  private def emit[T](rdd: RDD[T])(fill: (UnsafeRowWriter, T) => Unit): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val width = output.size
    rdd.mapPartitions { it =>
      val w = new UnsafeRowWriter(width)
      it.map { t =>
        w.reset()
        w.zeroOutNullBytes()
        fill(w, t)
        numOutputRows += 1
        w.getRow
      }
    }
  }

  /** The broadcast-BFS branch: one BFS per source row over the adjacency. */
  private def bfs(adjacency: Broadcast[Array[InternalRow]], sourceRows: RDD[InternalRow]): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val f = form
    sourceRows.mapPartitions { rows =>
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
        // node -> its component's label, for every node walked so far:
        // on symmetric edges every node a source reaches reaches the
        // same set, so a task walks each component at most once
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
      newChildren: IndexedSeq[SparkPlan]): TransitiveClosureExec = copy(children = newChildren)
}

object TransitiveClosureExec {
  private def node(r: InternalRow, i: Int): java.lang.Long =
    if (r.isNullAt(i)) null else java.lang.Long.valueOf(r.getLong(i))

  private def put(w: UnsafeRowWriter, i: Int, v: java.lang.Long): Unit =
    if (v == null) w.setNullAt(i) else w.write(i, v.longValue)

  /** The exact row count of (child, parent) edge rows, the rows
    * themselves when there are at most `cap`, and how many rows reached
    * the driver, which is never more than `cap`. One job counts every
    * partition, and a task returns its rows (packed as longs) only when
    * it holds at most cap / partitions of them, so the job as a whole
    * ships at most `cap`. When the total fits but some partitions held
    * their rows back, a second job reads just those partitions again:
    * the edges come clustered from a shuffle, whose written output it
    * re-reads rather than recomputes.
    */
  private[graft] def collectUpTo(rdd: RDD[InternalRow], cap: Long)
      : (Long, Option[Iterator[InternalRow]], Long) = {
    val sc = rdd.sparkContext
    val parts = new Array[(Array[Long], java.util.BitSet)](rdd.getNumPartitions)
    var n = 0L
    sc.runJob(rdd, pack(cap / math.max(parts.length, 1)),
      (i: Int, r: (Long, (Array[Long], java.util.BitSet))) => { n += r._1; parts(i) = r._2 })
    if (n > cap) (n, None, parts.iterator.filter(_ != null).map(_._1.length / 2L).sum)
    else {
      val heldBack = parts.indices.filter(parts(_) == null)
      if (heldBack.nonEmpty)
        heldBack.zip(sc.runJob(rdd, pack(cap), heldBack)).foreach { case (i, r) => parts(i) = r._2 }
      (n, Some(parts.iterator.flatMap { case (v, nulls) =>
        Iterator.range(0, v.length, 2).map { j =>
          new GenericInternalRow(Array[Any](if (nulls.get(j)) null else v(j), if (nulls.get(j + 1)) null else v(j + 1)))
        }
      }), n)
    }
  }

  /** A task's row count, and its rows packed as (child, parent) longs
    * with a NULL bitmap when there are at most `limit` (else null).
    */
  private def pack(limit: Long): Iterator[InternalRow] => (Long, (Array[Long], java.util.BitSet)) =
    it => {
      val values = Array.newBuilder[Long]
      val nulls = new java.util.BitSet
      var c = 0L
      it.foreach { r =>
        if (c < limit) for (i <- 0 to 1) {
          if (r.isNullAt(i)) nulls.set(2 * c.toInt + i)
          values += (if (r.isNullAt(i)) 0L else r.getLong(i))
        }
        c += 1
      }
      (c, if (c <= limit) (values.result(), nulls) else null)
    }

  /** The label form's sources: the distinct children of edges
    * clustered on the child column, one row each (NULL included).
    */
  private def distinctChildren(edges: RDD[InternalRow]): RDD[InternalRow] =
    edges.mapPartitions { rows =>
      val seen = new VisitedSet
      var sawNull = false
      rows.foreach(r => if (r.isNullAt(0)) sawNull = true else seen.add(r.getLong(0)))
      val w = new UnsafeRowWriter(1)
      (if (sawNull) Iterator(-1) else Iterator.empty).++(Iterator.range(0, seen.size)).map { i =>
        w.reset()
        w.zeroOutNullBytes()
        if (i < 0) w.setNullAt(0) else w.write(0, seen(i))
        w.getRow
      }
    }
}

/** [[TransitiveClosureExec]]'s branch above its gate: RDD rounds at
  * the session shuffle width, started from the driver and run to their
  * fixpoint. Nodes are boxed longs, null for SQL NULL. Each round is
  * persisted serialized and counted before the next is planned.
  */
private[plans] object ClosureRounds {
  type Node = java.lang.Long

  private val level = StorageLevel.MEMORY_AND_DISK_SER

  /** Connected-component labels by large-star/small-star alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * path lengths contract multiplicatively, so a chain converges in
    * O(log n) alternations whatever its diameter.
    *  - large-star(u): every strictly-larger neighbor of u re-points
    *    to m = min(Γ(u) ∪ u);
    *  - small-star(u): u and every smaller neighbor re-point to the
    *    least smaller neighbor.
    * Each alternation ends in one grouping by node that dedups its
    * edges and tests the fixpoint exactly: the edges form a star
    * forest (every node points at most at one node, and a node
    * pointed at points nowhere), so every node points straight at its
    * component minimum. One job per alternation; the previous one is
    * unpersisted once the next is counted. NULL endpoints never join;
    * the NULL node takes the least label of its non-NULL neighbors.
    * Returns the (id, label) rows and the alternations run.
    */
  def labels(edges: RDD[(Node, Node)], width: Int): (RDD[(Node, Node)], Int) = {
    val part = new HashPartitioner(width)
    def largeStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] =
      e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }.groupByKey(part).flatMap { case (u, ns) =>
        val m = math.min(u, ns.min)
        ns.iterator.filter(_ > u).map(v => (v, m))
      }
    def smallStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] =
      e.map { case (u, v) => if (u > v) (u, v) else (v, u) }.groupByKey(part).flatMap { case (u, ns) =>
        val m = ns.min
        Iterator((u, m)) ++ ns.iterator.filter(_ != m).map(v => (v, m))
      }
    // per node: its distinct targets, and whether any edge targets it
    type Star = RDD[(Long, (Array[Long], Boolean))]
    def edgesOf(s: Star): RDD[(Long, Long)] = s.flatMap { case (u, (ts, _)) => ts.iterator.map(t => (u, t)) }
    var star: Star = null
    var e = edges.flatMap { case (u, v) =>
      if (u == null || v == null || u == v) None else Some((u.longValue, v.longValue)) }
    var rounds = 0
    var open = 1L
    while (open > 0) {
      val next = smallStar(largeStar(e))
      val s: Star = next.cogroup(next.map(_.swap), part)
        .mapValues { case (ts, by) => (ts.toArray.distinct, by.nonEmpty) }
        .persist(level)
      open = s.filter { case (_, (ts, pointed)) => ts.length > 1 || (ts.nonEmpty && pointed) }.count()
      if (star != null) star.unpersist(blocking = false)
      star = s
      e = edgesOf(s)
      rounds += 1
    }
    val targets = edgesOf(star)
    val nodeLabels = edges.flatMap { case (u, _) => if (u == null) None else Some((u.longValue, ())) }
      .reduceByKey(part, (a, _) => a)
      .leftOuterJoin(targets, part)
      .map { case (u, (_, m)) => (u, m.getOrElse(u)) }
    // the NULL node: the least label over the non-NULL parents of its edges
    val roots = edges.flatMap { case (u, p) => if (u == null) Some(p) else None }
    val nullLabel = roots.filter(_ == null).map(_ => ((), Option.empty[Long]))
      .union(roots.filter(_ != null).map(p => (p.longValue, ())).leftOuterJoin(nodeLabels, part)
        .map { case (p, (_, l)) => ((), Some(l.getOrElse(p))) })
      .reduceByKey((a: Option[Long], b: Option[Long]) => (a ++ b).reduceOption((x, y) => math.min(x, y)), 1)
      .map { case (_, l) => (null: Node, l.map(java.lang.Long.valueOf).orNull) }
    (nodeLabels.map { case (u, l) => (java.lang.Long.valueOf(u), java.lang.Long.valueOf(l)) }
      .union(nullLabel), rounds)
  }

  /** The (source, anc, d) rows, once per source row, by a one-hop
    * semi-naive frontier seeded from the distinct sources: round k
    * joins the pairs first found in round k - 1 with the edges and
    * keeps the pairs never seen before, so d = k is the exact minimum
    * hop count (BFS layering). The rounds are the output, so they stay
    * persisted with it; the keyed edges are released after the last
    * round. A NULL source seeds from the edges whose child
    * is NULL; a NULL ancestor is emitted, never expanded. Returns the
    * rows and the rounds run.
    */
  def closure(sources: RDD[Node], edges: RDD[(Node, Node)],
              width: Int): (RDD[(Node, Node, Int)], Int) = {
    val part = new HashPartitioner(width)
    val adj = edges.partitionBy(part).persist(level)
    var frontier = sources.map(s => (s, 1L)).reduceByKey(part, _ + _)
      .join(adj, part).map { case (s, (m, p)) => ((s, p), m) }
      .reduceByKey(part, (m, _) => m)
      .persist(level)
    val found = scala.collection.mutable.ArrayBuffer.empty[RDD[((Node, Node), Long)]]
    var rounds = 1
    var n = frontier.count()
    while (n > 0) {
      found += frontier
      frontier = frontier.flatMap { case ((s, a), m) => if (a == null) None else Some((a, (s, m))) }
        .join(adj, part).map { case (_, ((s, m), p)) => ((s, p), m) }
        .reduceByKey(part, (m, _) => m)
        .subtractByKey(adj.sparkContext.union(found.toSeq), part)
        .persist(level)
      n = frontier.count()
      rounds += 1
    }
    // the found rounds are persisted; a lost block recomputes from the edges
    adj.unpersist(blocking = false)
    frontier.unpersist(blocking = false)
    (adj.sparkContext.union(found.toSeq.zipWithIndex.map { case (r, k) =>
      r.flatMap { case ((s, a), m) => Iterator.fill(m.toInt)((s, a, k + 1)) } }), rounds)
  }
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

  /** The number of edge rows the adjacency was built from. */
  def edgeCount: Long = parents.numElements().toLong + roots.numElements()

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
