package graft

import graft.operators.Registry
import graft.plans.{TransitiveClosure, TransitiveClosureExec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Both sides of the closure operator's size gate
  * ([[TransitiveClosure]]): the broadcast BFS it takes at the default
  * threshold at every test scale, and the loop of semi-naive frontier
  * rounds it runs above the threshold (forced here with threshold 0)
  * must give the same (doc, ancestor) pairs and the same minimum hop
  * counts — on the registry's own edges and on the inputs those edges
  * never contain: cycles and self-reach, no edges, self-loops with
  * duplicate edges, and NULL endpoints. Each side's branch is read from
  * the operator's `rounds` metric (0 = the BFS).
  */
class ClosureSpec extends SparkSpec {
  import spark.implicits._

  private type Pair = (Option[Long], Option[Long], Long)

  /** the (doc_id, anc, d) rows of a closure, collected from `df` itself so its metrics are read */
  private def rows(df: DataFrame): Seq[Pair] =
    df.collect().toSeq.map { r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2))
    }.sortBy(_.toString)

  /** the closure's rows and the rounds its gate ran (0 = the BFS) */
  private def run(df: DataFrame): (Seq[Pair], Long) = {
    val r = rows(df)
    (r, closureMetric(df, "rounds"))
  }

  /** exec (sources = every distinct child) at the default threshold vs
    * at threshold 0, both with depth; the rounds side runs at least
    * one round unless there are no edges */
  private def compare(edges: DataFrame): Seq[Pair] = {
    val e = edges.select(col("child").cast("bigint"), col("parent").cast("bigint"))
    val sources = e.select(col("child").as("doc_id")).distinct()
    val (bfs, bfsRounds) = run(TransitiveClosure.of(sources, e, withDepth = true, None, Tables.BcastRows))
    val (loop, loopRounds) = run(TransitiveClosure.of(sources, e, withDepth = true, None, threshold = 0L))
    assert(bfsRounds == 0)
    assert(loopRounds > 0 || e.isEmpty, s"threshold 0 took the BFS on ${e.count()} edges")
    assert(bfs == loop)
    assert(bfs.map(p => (p._1, p._2)).distinct.size == bfs.size, "one row per pair")
    bfs
  }

  private def edges(es: (java.lang.Long, java.lang.Long)*): DataFrame =
    es.toSeq.toDF("child", "parent")

  test("exec matches the loop on the registry's reference edges") {
    val pairs = compare(Registry.refEdges(spark, sfDir))
    // doc 10: {5:1, 3:1, 2:2, 1:2, 0:3} (RegistrySpec's hand computation)
    assert(pairs.filter(_._1.contains(10L)).map(p => p._2.get -> p._3).toMap ==
      Map(5L -> 1L, 3L -> 1L, 2L -> 2L, 1L -> 2L, 0L -> 3L))
  }

  test("exec matches the loop on reference edges plus rings: cycles and self-reach") {
    val rings = (25L to 475L by 25L).flatMap(b => Seq((b, b + 1), (b + 1, b + 2), (b + 2, b)))
      .toDF("child", "parent")
    val pairs = compare(Registry.refEdges(spark, sfDir).union(rings))
    // every ring member reaches itself in exactly three hops
    assert(pairs.contains((Some(25L), Some(25L), 3L)))
    assert(pairs.contains((Some(26L), Some(26L), 3L)))
    assert(!pairs.exists(p => p._1.contains(24L) && p._2.contains(24L)))
  }

  test("exec matches the loop on empty edges") {
    assert(compare(edges()).isEmpty)
  }

  test("exec matches the loop on a self-loop with duplicate edges") {
    val pairs = compare(edges((1L, 1L), (1L, 1L), (2L, 1L), (2L, 1L), (3L, 2L)))
    assert(pairs == Seq((Some(1L), Some(1L), 1L), (Some(2L), Some(1L), 1L),
      (Some(3L), Some(1L), 2L), (Some(3L), Some(2L), 1L)).sortBy(_.toString))
  }

  test("exec matches the loop on NULL endpoints, with the recursive-CTE semantics") {
    val pairs = compare(edges((null, 1L), (1L, 2L), (3L, null), (2L, 3L), (null, null)))
    // a NULL child is a source nothing reaches; its pairs are still emitted
    assert(pairs.filter(_._1.isEmpty).toSet ==
      Set((None, Some(1L), 1L), (None, None, 1L), (None, Some(2L), 2L), (None, Some(3L), 3L)))
    // a NULL parent is a terminal ancestor: emitted at its depth, never expanded
    assert(pairs.filter(_._1.contains(1L)).toSet ==
      Set((Some(1L), Some(2L), 1L), (Some(1L), Some(3L), 2L), (Some(1L), None, 3L)))
  }

  test("pair form is the depth form without d, on both branches") {
    val e = Registry.refEdges(spark, sfDir)
    val sources = Tables.documents(spark, sfDir).select(col("doc_id"))
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withD = pairs(TransitiveClosure.of(sources, e, withDepth = true, None, Tables.BcastRows)
      .select("doc_id", "anc"))
    assert(pairs(TransitiveClosure.of(sources, e, withDepth = false, None, Tables.BcastRows)) == withD)
    assert(pairs(TransitiveClosure.of(sources, e, withDepth = false, None, 0L)) == withD)
  }

  test("the closure entry without a footer bound reads its edges through an exchange, then the BFS") {
    // in-memory edges: no parquet footer to bound them, so the edges
    // are hash-clustered, counted at execution and found under the gate
    val e = edges((10L, 5L), (5L, 2L), (2L, 1L), (7L, 3L), (3L, 1L))
    val docs = Seq(10L, 7L, 2L, 2L).toDF("doc_id")
    val viaEntry = Registry.closure(docs, e, withDepth = true)
    val (r, k) = run(viaEntry)
    val exec = nodes(viaEntry.queryExecution.executedPlan).collect { case c: TransitiveClosureExec => c }
    assert(exec.size == 1 && nodes(exec.head.edges).exists(_.isInstanceOf[ShuffleExchangeExec]) &&
      !nodes(exec.head.edges).exists(_.isInstanceOf[BroadcastExchangeExec]))
    assert(k == 0 && exec.head.metrics("edgeRows").value == 5)
    // a source row listed twice emits its pairs twice, on both sides of the gate
    assert(r == rows(TransitiveClosure.of(docs, e, withDepth = true, None, 0L)))
    assert(r.count(_._1.contains(2L)) == 2 && r.map(_._1.get).toSet == Set(10L, 7L, 2L))
  }

  test("the gate is inclusive: edges = threshold runs the BFS, threshold = edges - 1 the rounds") {
    val e = Registry.refEdges(spark, sfDir)
    val n = e.count()
    val sources = Tables.documents(spark, sfDir).select(col("doc_id"))
    val (at, atRounds) = run(TransitiveClosure.of(sources, e, withDepth = true, None, n))
    val (over, overRounds) = run(TransitiveClosure.of(sources, e, withDepth = true, None, n - 1))
    assert(atRounds == 0 && overRounds > 0)
    assert(at == over && at.nonEmpty)
  }

  test("the gate job ships at most threshold edge rows to the driver, however the partitions split") {
    // 8 partitions holding 0, 1, .., 7 edges (28 rows), one with NULL endpoints
    val rdd = spark.sparkContext.parallelize(0 until 8, 8).flatMap { p =>
      (0 until p).map(i => InternalRow(if (p == 5 && i == 0) null else (10L * p + i): java.lang.Long,
        if (p == 6 && i == 1) null else p.toLong: java.lang.Long))
    }
    val all = rdd.map(r => (Option(r.get(0, LongType)), Option(r.get(1, LongType)))).collect().toSeq.sortBy(_.toString)
    for (cap <- Seq(0L, 3L, 6L, 10L, 27L, 28L, 100L)) {
      val (n, kept, received) = TransitiveClosureExec.collectUpTo(rdd, cap)
      assert(n == 28 && received <= cap, s"cap $cap: $n rows, $received received")
      assert(kept.isDefined == (cap >= 28), s"cap $cap")
      kept.foreach { it =>
        assert(it.map(r => (Option(r.get(0, LongType)), Option(r.get(1, LongType)))).toSeq.sortBy(_.toString) == all)
      }
    }
  }

  test("closure family builds and explains with zero jobs; the plan shows the gate") {
    // warm the schema cache: the first load infers it with a job
    Tables.documents(spark, sfDir)
    Tables.embeddings(spark, sfDir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (name <- Seq("reg_refs_closure", "reg_dep_depth", "reg_gc_candidates", "reg_ref_cycles",
          "dedup_clusters", "dedup_cluster_stats", "dedup_survivors", "corpus_funnel", "dedup_semantic_clusters")) {
        jobs.set(0)
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        org.apache.spark.sql.graftshim.GraftShim.flushListeners(spark)
        assert(jobs.get() == 0, s"$name: building and explaining ran ${jobs.get()} job(s)")
        assert(plan.contains("TransitiveClosure") &&
          s"threshold=${Tables.BcastRows}, bound=\\d+".r.findFirstIn(plan).nonEmpty,
          s"$name:\n$plan")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("reg_refs_closure executes with one adjacency broadcast and no checkpoint scan") {
    val df = SparkEntry.queries("reg_refs_closure")(spark, sfDir)
    df.queryExecution.toRdd.count()
    val executed = nodes(df.queryExecution.executedPlan)
    val closures = executed.collect { case c: TransitiveClosureExec => c }
    assert(closures.size == 1, df.queryExecution.executedPlan)
    assert(nodes(closures.head.edges).count(_.isInstanceOf[BroadcastExchangeExec]) == 1)
    assert(!executed.exists(_.isInstanceOf[RDDScanExec]), "checkpoint scan in plan")
  }

  test("reg_ref_cycles' two closure instances read one edge broadcast") {
    val df = SparkEntry.queries("reg_ref_cycles")(spark, sfDir)
    df.queryExecution.toRdd.count()
    val closures = nodes(df.queryExecution.executedPlan).collect { case c: TransitiveClosureExec => c }
    assert(closures.size == 2, df.queryExecution.executedPlan)
    // each instance's edge child: one adjacency broadcast, and its reuse
    val edgeTops = closures.map(_.edges match {
      case stage: QueryStageExec => stage.plan
      case p => p
    })
    assert(edgeTops.count(_.isInstanceOf[BroadcastExchangeExec]) == 1 &&
      edgeTops.count(_.isInstanceOf[ReusedExchangeExec]) == 1, df.queryExecution.executedPlan)
  }
}
