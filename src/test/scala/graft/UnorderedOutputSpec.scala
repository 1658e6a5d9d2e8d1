package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.GraftShim

/** Operators return unordered relations (SURVEY §5): a global sort at
  * a result's root only presents rows, and under AQE it costs a
  * range-partitioner sampling job that runs the stage beneath it a
  * second time, a range shuffle and a sort. Order is part of a result
  * only under a limit (top-k, planned as TakeOrderedAndProject);
  * parity compares sorted multisets. This spec keeps presentation
  * sorts from creeping back: it reads each query's optimized logical
  * plan only, so it executes nothing.
  */
class UnorderedOutputSpec extends SparkSpec {

  /** Queries that may root in a global sort, each with the reason the
    * order is part of its meaning. Never widen this list. */
  private val orderedByMeaning: Map[String, String] = Map.empty

  test("no registered query roots in a global sort (top-k limits excepted)") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val roots = try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // constructing an iterative operator runs its loop; reading the
      // optimized plan must never launch a job
      val df = fn(spark, sfDir)
      GraftShim.flushListeners(spark)
      jobs.set(0)
      val root = Explain.root(df)
      GraftShim.flushListeners(spark)
      assert(jobs.get() == 0, s"$name: reading the optimized plan ran ${jobs.get()} job(s)")
      name -> root
    } finally spark.sparkContext.removeSparkListener(listener)
    val offenders = roots.collect {
      case (n, r) if Explain.isGlobalSort(r) && !orderedByMeaning.contains(n) => n
    }
    assert(offenders.isEmpty, s"presentation sort at the root of: ${offenders.mkString(", ")}")
    // the nine top-k operators keep their ordered limit
    assert(roots.count(r => Explain.isLimit(r._2)) == 9)
  }
}
