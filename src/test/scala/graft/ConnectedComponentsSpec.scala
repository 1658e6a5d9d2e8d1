package graft

import graft.operators.{Dedup, Pipeline}
import graft.plans.TransitiveClosureExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Both sides of the connected-components gate, which the label form
  * of the closure operator takes at execution ([[Pipeline.components]]):
  * the broadcast BFS it takes at the default threshold at every test
  * scale, and the large-star/small-star rounds it runs above the
  * threshold (forced here with threshold 0) must give the same
  * (id, label) rows — on the semantic pair graph (PipelineSpec compares
  * them on the LSH pair graph and a long chain) and on self-loops with
  * duplicate edges. On inputs the pair graphs never contain (no edges,
  * self-loops, duplicate edges, NULL endpoints) both are checked
  * against hand-computed values of the oracle's recursive CTE:
  * `reach(id, lab)` seeded with (src, src) for every distinct src of
  * the symmetric edges, `reach(e.src, r.lab) :- edge(e), reach(r),
  * e.dst = r.id`, and min(lab) per id.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** the (id, label) rows, collected from `df` itself so its metrics are read */
  private def labels(df: DataFrame): Map[Option[Long], Option[Long]] = {
    val rows = df.collect().toSeq.map { r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long]))
    }
    assert(rows.map(_._1).distinct.size == rows.size, "one row per node")
    rows.toMap
  }

  /** the labels at the default threshold (the BFS) and at threshold 0
    * (the rounds, unless there are no edges), which must agree */
  private def exec(pairs: DataFrame): Map[Option[Long], Option[Long]] = {
    val bfs = Pipeline.components(pairs)
    val star = Pipeline.components(pairs, threshold = 0L)
    val l = labels(bfs)
    assert(labels(star) == l, "the two sides of the CC gate must give the same labels")
    assert(closureMetric(bfs, "rounds") == 0)
    assert(closureMetric(star, "rounds") > 0 || pairs.isEmpty)
    l
  }

  private def pairs(ps: (java.lang.Long, java.lang.Long)*): DataFrame =
    ps.toSeq.toDF("src", "dst")

  test("the rounds' labels equal the BFS labels on the semantic pair graph") {
    assert(exec(Dedup.embedLsh(spark, sfDir).select(col("vec_a").as("src"), col("vec_b").as("dst"))).nonEmpty)
  }

  test("a 999-edge chain is one component rooted at 0") {
    val l = exec(spark.range(999).select(col("id").as("src"), (col("id") + 1).as("dst")))
    assert(l == (0L to 999L).map(i => Some(i) -> Some(0L)).toMap)
  }

  test("empty edges give no labels") {
    assert(exec(pairs()).isEmpty)
  }

  test("self-loops and duplicate edges: a self-loop alone is its own component") {
    val l = exec(
      pairs((1L, 1L), (1L, 1L), (2L, 1L), (2L, 1L), (3L, 2L), (5L, 5L), (8L, 7L), (7L, 8L)))
    assert(l == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 7L -> 7L, 8L -> 7L)
      .map { case (k, v) => Some(k) -> Some(v) })
  }

  test("NULL endpoints follow the oracle's recursive CTE") {
    // NULL = x never joins, so no node takes a label through a NULL;
    // the NULL id takes the labels of its neighbors' components and
    // is labelled by their min
    assert(exec(pairs((null, 1L), (1L, 2L), (3L, null), (null, null), (4L, 5L))) == Map(
      Some(1L) -> Some(1L), Some(2L) -> Some(1L), Some(3L) -> Some(3L),
      None -> Some(1L), Some(4L) -> Some(4L), Some(5L) -> Some(4L)))
    // a NULL id with only NULL neighbors keeps its NULL seed label
    assert(exec(pairs((null, null), (6L, 7L))) ==
      Map(None -> None, Some(6L) -> Some(6L), Some(7L) -> Some(6L)))
  }

  test("both cluster queries execute as one adjacency broadcast and show the gate") {
    for (name <- Seq("dedup_clusters", "dedup_semantic_clusters")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(s"threshold=${Tables.BcastRows}, bound=\\d+".r.findFirstIn(plan).nonEmpty, s"$name:\n$plan")
      df.queryExecution.toRdd.count()
      val executed = nodes(df.queryExecution.executedPlan)
      val closures = executed.collect { case c: TransitiveClosureExec => c }
      assert(closures.size == 1, s"$name: ${df.queryExecution.executedPlan}")
      // the exec clusters its edges itself (no planner exchange on the
      // edge column) and takes the BFS side, with no rounds
      val edgeCol = closures.head.edges.output.head
      assert(!nodes(closures.head.edges).exists {
        case x: ShuffleExchangeExec => x.outputPartitioning match {
          case h: HashPartitioning => h.expressions.exists(_.semanticEquals(edgeCol))
          case _ => false
        }
        case _ => false
      }, s"$name: ${closures.head.edges}")
      assert(closureMetric(df, "rounds") == 0 && closureMetric(df, "edgeRows") > 0, name)
      // no checkpoint scan anywhere: shared frames are reused exchanges
      val scans = executed.collect { case r: RDDScanExec => r }
      assert(scans.isEmpty, s"$name: checkpoint scans $scans")
    }
  }
}
