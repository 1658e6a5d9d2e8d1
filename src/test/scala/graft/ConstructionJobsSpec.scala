package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Construction must be plan-building, not execution (r11, VERDICT
  * r10 #7): constructing a registered DataFrame — what `Explain`, a
  * gated consumer, or a dry-run driver does — must launch ZERO Spark
  * jobs, so plan inspection never triggers cluster work. An
  * exception would be listed here BY NAME, with the most jobs its
  * construction may launch; none is. The registry closures and the
  * connected-components queries run as one closure operator
  * (graft.plans.TransitiveClosure), which counts its edges and takes
  * its size gate at execution, broadcast BFS or partitioned rounds.
  * Power iteration, k-means assignment, the semantic duplicate rate
  * and the BPE merge rounds build with zero jobs (measured at sf0.001
  * and sf0.1). No frame is checkpointed: frames read by several
  * consumers are shared through reused exchanges, planned with the
  * query, so the nn-descent queries no longer start broadcasts while
  * they are built.
  */
class ConstructionJobsSpec extends SparkSpec {

  /** Operators whose construction legitimately runs jobs, with the
    * measured ceiling (sf0.001) and why. The map and its ceilings may
    * only shrink.
    */
  private val ceilings = Map.empty[String, Int]

  test("constructing every registered query launches zero jobs (iterative ops excepted)") {
    // Warm the per-path schema cache: the FIRST load of a parquet path
    // legitimately runs one footer-inference job; after that, loads
    // pass the cached schema and construction must be job-free.
    Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      Tables.region, Tables.nation, Tables.customer, Tables.supplier,
      Tables.part, Tables.orders, Tables.lineitem, Tables.events,
      Tables.documents, Tables.embeddings
    ).foreach(t => t(spark, sfDir))

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        // drain listener bus so a previous construction's events
        // don't get charged to this one
        org.apache.spark.sql.graftshim.GraftShim.flushListeners(spark)
        jobs.set(0)
        fn(spark, sfDir) // construct only — no action
        org.apache.spark.sql.graftshim.GraftShim.flushListeners(spark)
        val n = jobs.get()
        val ceiling = ceilings.getOrElse(name, 0)
        if (n > ceiling) Some(s"$name ran $n construction job(s), ceiling $ceiling") else None
      }
      assert(offenders.isEmpty, offenders.mkString("\n"))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("iterative allow-list stays tight: every listed op is registered") {
    val unknown = ceilings.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"allow-listed but not registered: $unknown")
  }
}
