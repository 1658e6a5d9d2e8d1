package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One span of the traced run. Times are epoch milliseconds with
  * sub-millisecond precision for the harness's own spans; Spark's job
  * and stage events carry whole milliseconds.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Double, end: Double)

/** Listener for traced passes: counts the scheduler's work (jobs,
  * stages, tasks, shuffle, scan) per query and records one span per job
  * and per stage. A job is parented to the harness span that launched
  * it through the [[Trace.SpanKey]] local property, and its work is
  * counted for the query that [[Trace.QueryKey]] names.
  */
final class Trace extends SparkListener {
  import Trace._

  /** Query name -> counter -> value. */
  private val counts = mutable.Map.empty[String, mutable.Map[String, Double]]
  /** Running jobs: span id, parent span id, start, phase. */
  private val jobOpen = mutable.Map.empty[Int, (Long, Long, Double, String)]
  private val stageParent = mutable.Map.empty[Int, Long]
  private val stageQuery = mutable.Map.empty[Int, String]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L << 40

  private def add(query: String, k: String, v: Double): Unit = {
    val c = counts.getOrElseUpdate(query, mutable.Map.empty)
    c(k) = c.getOrElse(k, 0.0) + v
  }
  private def queryOf(stageId: Int): String = stageQuery.getOrElse(stageId, "other")

  /** Counters per query since the last call, then reset. Call after
    * draining the bus.
    */
  def takeCounts(): Map[String, Map[String, Double]] = synchronized {
    val out = counts.map { case (q, c) => q -> c.toMap }.toMap
    counts.clear()
    stageQuery.clear()
    out
  }

  /** Job and stage spans since the last call, then reset. */
  def takeSpans(): Seq[Span] = synchronized {
    val out = spans.toList
    spans.clear()
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(key: String) = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
    val parent = prop(SpanKey).map(_.toLong).getOrElse(0L)
    val phase = prop(PhaseKey).getOrElse("other")
    val query = prop(QueryKey).getOrElse("other")
    nextId += 1
    jobOpen(e.jobId) = (nextId, parent, e.time.toDouble, phase)
    e.stageIds.foreach { s =>
      stageParent(s) = nextId
      stageQuery(s) = query
    }
    add(query, s"jobs.$phase", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (id, parent, start, phase) =>
      spans += Span(id, parent, "job", phase, start, e.time.toDouble)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    i.submissionTime.foreach(t => stageSubmit((i.stageId, i.attemptNumber())) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    add(queryOf(i.stageId), "stages", 1)
    for (s <- i.submissionTime; c <- i.completionTime) {
      nextId += 1
      spans += Span(nextId, stageParent.getOrElse(i.stageId, 0L), "stage",
        s"stage ${i.stageId}", s.toDouble, c.toDouble)
    }
    stageSubmit.remove((i.stageId, i.attemptNumber()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    def add(k: String, v: Double): Unit = this.add(queryOf(e.stageId), k, v)
    add("tasks", 1)
    stageSubmit.get((e.stageId, e.stageAttemptId))
      .foreach(s => add("sched_wait_ms", (e.taskInfo.launchTime - s).max(0L).toDouble))
    val m = e.taskMetrics
    if (m != null) {
      val in = m.inputMetrics
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ns", m.executorCpuTime.toDouble)
      add("scan_bytes", in.bytesRead.toDouble)
      add("scan_rows", in.recordsRead.toDouble)
      add("shuffle_read_bytes", sr.totalBytesRead.toDouble)
      add("shuffle_write_bytes", sw.bytesWritten.toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
      add("fetch_wait_ms", sr.fetchWaitTime.toDouble)
      val recordsIn = in.recordsRead + sr.recordsRead
      val recordsOut = sw.recordsWritten + m.outputMetrics.recordsWritten
      if (recordsIn == 0 && recordsOut == 0) add("empty_tasks", 1)
    }
  }
}

object Trace {
  /** Local property naming the harness span that launches a job. */
  val SpanKey = "perfbench.span"
  /** Local property naming the query phase that launches a job. */
  val PhaseKey = "perfbench.phase"
  /** Local property naming the query that launches a job. */
  val QueryKey = "perfbench.query"
}
