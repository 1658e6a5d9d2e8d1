package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.GraftShim

import scala.collection.concurrent.TrieMap

/** The one session every harness main (Bench, Verify, Explain,
  * StageProfile) runs, with the conf set the benchmark measures.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else 32: both the local core count and the
    * shuffle width. */
  def defaultCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC, and
    * the native functions and strategies injected by
    * [[GraftExtensions]]. `extra` confs are applied last. */
  def local(cpus: Int = defaultCpus, extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Small-shuffle parallelism: AQE's size-driven coalescing
      // otherwise folds MB-scale shuffles into ONE post-shuffle task
      // and serializes the whole mid-query on a 32-core box (measured
      // 5-10x on the window-heavy scans). At cluster scale these are
      // no-ops: partitions are far above the floor.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Per-stage task metrics and the job count of every job since the
  * last [[record]]: task count, summed executor run and CPU time,
  * shuffle read/write bytes, stage wall (submission→completion), and
  * the stage's operator scopes as its name (`Scan parquet >
  * WholeStageCodegen (3) > Exchange`; an AQE stage's call-site name
  * is the same for every stage).
  * StageProfile prints the stages; Bench reads the [[total]] per query.
  */
class StageMetrics(spark: SparkSession) extends SparkListener {
  final class Stage(var tasks: Int = 0, var runMs: Long = 0, var cpuNs: Long = 0,
      var srBytes: Long = 0, var swBytes: Long = 0, var wallMs: Long = -1, var name: String = "")

  val stages = TrieMap.empty[Int, Stage]
  @volatile var jobs = 0
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      val st = stages.getOrElseUpdate(t.stageId, new Stage)
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.srBytes += m.shuffleReadMetrics.totalBytesRead
      st.swBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val st = stages.getOrElseUpdate(i.stageId, new Stage)
    st.wallMs = (for { s <- i.submissionTime; c <- i.completionTime } yield c - s).getOrElse(-1L)
    st.name = GraftShim.stageScopes(i).mkString(" > ")
  }

  /** Runs `body` with the metrics cleared first, and returns once the
    * listener bus has delivered every event of its jobs. */
  def record[T](body: => T): T = {
    GraftShim.flushListeners(spark)
    stages.clear()
    jobs = 0
    try body finally GraftShim.flushListeners(spark)
  }

  /** The recorded stages summed (wall and name left unset). */
  def total: Stage = stages.values.foldLeft(new Stage) { (a, s) =>
    new Stage(a.tasks + s.tasks, a.runMs + s.runMs, a.cpuNs + s.cpuNs,
      a.srBytes + s.srBytes, a.swBytes + s.swBytes)
  }
}
