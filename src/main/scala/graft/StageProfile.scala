package graft

/** Per-stage breakdown of where a query's wall time goes (guide §1:
  * measure first, map stages back to operators). For each named query:
  * runs it [[iters]] times with Bench's materialization (toRdd.count),
  * prints every run's wall and its construct / plan / exec split
  * (building the DataFrame, which includes any jobs an operator runs
  * while it is built; `executedPlan`; `toRdd.count()`) and, for the
  * LAST run, one line per stage —
  * task count, summed task run/cpu seconds, stage wall
  * (submission→completion), shuffle read/write bytes — plus the job
  * count. Sequential stage walls that sum to the query wall reveal
  * round-serialized loops; 1-task stages with large cpu reveal a
  * serialized scan; task counts far above work reveal dispatch-floor
  * overhead. Paired-conf experiments: SPARK_GRAFT_CONF="k=v;k=v"
  * overrides runtime SQL confs after the session is built. Usage:
  *   runMain graft.StageProfile <sfDir> <iters> <query> [query ...]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val names = args.drop(2).toSeq
    val spark = GraftSession.local()
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val metrics = new StageMetrics(spark)

    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      /** (construct, plan, exec) seconds of one run */
      def once(): Seq[Double] = {
        val t0 = System.nanoTime()
        val qe = fn(spark, sfDir).queryExecution
        val t1 = System.nanoTime()
        qe.executedPlan
        val t2 = System.nanoTime()
        qe.toRdd.count()
        val t3 = System.nanoTime()
        Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9)
      }
      val splits = (1 to iters).map { i =>
        val s = if (i == iters) metrics.record(once()) else once()
        spark.catalog.clearCache()
        s
      }
      val rows = metrics.stages.toSeq.sortBy(_._1)
      println(f"==== $n walls=${splits.map(w => f"${w.sum}%.3f").mkString(" ")} " +
        s"split=${splits.map(_.map(x => f"$x%.3f").mkString("/")).mkString(" ")} " +
        s"jobs=${metrics.jobs} stages=${rows.size}")
      rows.foreach { case (id, s) =>
        println(f"  stage $id%4d tasks=${s.tasks}%4d wall=${s.wallMs / 1e3}%7.3f task=${s.runMs / 1e3}%8.3f cpu=${s.cpuNs / 1e9}%8.3f sr=${s.srBytes}%10d sw=${s.swBytes}%10d  ${s.name}")
      }
      val t = metrics.total
      println(f"  TOTAL tasks=${t.tasks} run=${t.runMs / 1e3}%.3f cpu=${t.cpuNs / 1e9}%.3f")
    }
    spark.stop()
  }
}
