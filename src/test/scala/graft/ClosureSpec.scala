package graft

import graft.operators.Registry
import graft.plans.{TransitiveClosure, TransitiveClosureExec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

/** Both sides of the registry closure gate: the broadcast-BFS operator
  * ([[TransitiveClosure]], taken at every test scale) and the
  * semi-naive loop it falls back to above [[Tables.BcastRows]]
  * ([[Registry.closureLoop]], called directly here) must give the same
  * (doc, ancestor) pairs and the same minimum hop counts — on the
  * registry's own edges and on the inputs those edges never contain:
  * cycles and self-reach, no edges, self-loops with duplicate edges,
  * and NULL endpoints.
  */
class ClosureSpec extends SparkSpec {
  import spark.implicits._

  private type Pair = (Option[Long], Option[Long], Long)

  private def rows(df: DataFrame): Seq[Pair] =
    df.select(col("doc_id"), col("anc"), col("d")).collect().toSeq.map { r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2))
    }.sortBy(_.toString)

  /** exec (sources = every distinct child) vs the loop, both with depth */
  private def compare(edges: DataFrame): Seq[Pair] = {
    val e = edges.select(col("child").cast("bigint"), col("parent").cast("bigint"))
    val sources = e.select(col("child").as("doc_id")).distinct()
    val exec = rows(TransitiveClosure.of(sources, e, withDepth = true, edgeBound = 0L, threshold = 0L))
    val loop = rows(Registry.closureLoop(e, withDepth = true))
    assert(exec == loop)
    assert(exec.map(p => (p._1, p._2)).distinct.size == exec.size, "one row per pair")
    exec
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
    val withD = pairs(TransitiveClosure.of(sources, e, withDepth = true, 0L, 0L).select("doc_id", "anc"))
    assert(pairs(TransitiveClosure.of(sources, e, withDepth = false, 0L, 0L)) == withD)
    assert(pairs(Registry.closureLoop(e, withDepth = false)) == withD)
  }

  test("the closure entry falls back to the loop when the edges have no footer bound") {
    // in-memory edges: no parquet footer to bound them, so the gate
    // takes the loop, restricted to the given documents
    val e = edges((10L, 5L), (5L, 2L), (2L, 1L), (7L, 3L), (3L, 1L))
    val docs = Seq(10L, 7L, 2L).toDF("doc_id")
    val viaEntry = Registry.closure(docs, e, withDepth = true)
    assert(!viaEntry.queryExecution.executedPlan.toString.contains("TransitiveClosure"))
    assert(rows(viaEntry) == rows(TransitiveClosure.of(docs, e, withDepth = true, 0L, 0L)))
    assert(rows(viaEntry).map(_._1.get).toSet == Set(10L, 7L, 2L))
  }

  test("closure family builds and explains with zero jobs; the plan shows the gate") {
    Tables.documents(spark, sfDir) // warm the schema cache: the first load infers it with a job
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (name <- Seq("reg_refs_closure", "reg_dep_depth", "reg_gc_candidates", "reg_ref_cycles")) {
        jobs.set(0)
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        org.apache.spark.sql.graftshim.GraftShim.flushListeners(spark)
        assert(jobs.get() == 0, s"$name: building and explaining ran ${jobs.get()} job(s)")
        assert(plan.contains("TransitiveClosure") &&
          s"edgeBound=\\d+, threshold=${Tables.BcastRows}, branch=broadcast-bfs".r.findFirstIn(plan).nonEmpty,
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
}
