package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.perfbench.BusShim
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes the raw measurements to
  * `<out>/run.json` (and `<out>/spans.json` when traced). `run.py`
  * turns them into the benchmark's metrics.
  *
  * Closed loop, one client: the driver thread issues the next query
  * when the previous one returns, and clears the cache in between.
  * Each query is timed at three public calls: construction
  * (`SparkEntry.queries(name)(spark, dir)`), planning
  * (`queryExecution.executedPlan`) and execution
  * (`queryExecution.toRdd.count()`, which materializes every column).
  *
  * The run is: set-up (session, then warm-up passes), timed passes
  * for `--seconds`, the live heap, a host-speed probe, then one
  * output-check pass whose results `run.py` compares with the DuckDB
  * oracles. A traced run alternates traced and untraced timed passes,
  * so its own untraced passes give the tracing overhead.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --out DIR --cpus N [--members timed|full]
  */
object Harness {
  /** Timed passes at least, so that a median is not one pass's reading. */
  private val MinTimed = 3
  private val Phases = Seq("construct", "plan", "exec")

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond precision. */
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracedRun = opt("trace") == "1"
    val dataDir = opt("data")
    val out = Paths.get(opt("out"))
    val cpus = opt("cpus").toInt
    val names = Workloads.members(workload, opt.getOrElse("members", "timed"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Files.createDirectories(out)

    val spark = session(cpus, out, workload)
    val sc = spark.sparkContext
    val queries = graft.SparkEntry.queries
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")

    val trace = new Trace
    var spanId = 0L
    val spans = mutable.ArrayBuffer.empty[Span]
    val rng = new Random(seed)

    /** One pass over every query, in a seeded order. */
    def pass(kind: String, traced: Boolean): Map[String, Any] = {
      val order = rng.shuffle(names)
      if (traced) sc.addSparkListener(trace)
      val (cpu0, gc0, steal0, jit0) = (Host.processCpuS, Host.gcMs, Host.stealS, Host.jitCpuS)
      val t0 = nowMs
      val execs = order.map { name =>
        val ids = (1 to 4).map(_ => { spanId += 1; spanId })
        def enter(phase: String, id: Long): Unit = if (traced) {
          sc.setLocalProperty(Trace.SpanKey, id.toString)
          sc.setLocalProperty(Trace.PhaseKey, phase)
          sc.setLocalProperty(Trace.QueryKey, if (id == 0L) "other" else name)
        }
        val q0 = nowMs
        var marks = Vector(q0)
        var shape = Map.empty[String, Int]
        val error = try {
          enter(Phases(0), ids(1))
          val df = queries(name)(spark, dataDir)
          marks :+= nowMs
          enter(Phases(1), ids(2))
          val qe = df.queryExecution
          qe.executedPlan
          marks :+= nowMs
          enter(Phases(2), ids(3))
          qe.toRdd.count()
          marks :+= nowMs
          if (traced) shape = PlanShape.count(qe.executedPlan)
          None
        } catch {
          case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
        } finally {
          enter("other", 0L)
          spark.catalog.clearCache()
        }
        val q1 = nowMs
        val phases = marks.zip(marks.tail)
        if (traced) {
          spans += Span(ids(0), 0L, "query", name, q0, q1)
          phases.zipWithIndex.foreach { case ((a, b), i) =>
            spans += Span(ids(i + 1), ids(0), Phases(i), name, a, b)
          }
        }
        val phaseS = phases.map { case (a, b) => (b - a) / 1e3 }
        Map("q" -> name, "ok" -> error.isEmpty, "error" -> error,
          "total_s" -> (q1 - q0) / 1e3,
          "construct_s" -> phaseS.lift(0), "plan_s" -> phaseS.lift(1), "exec_s" -> phaseS.lift(2),
          "shape" -> (if (traced) Some(shape) else None))
      }
      val rec = Map[String, Any]("kind" -> kind, "traced" -> traced,
        "wall_s" -> (nowMs - t0) / 1e3, "cpu_s" -> (Host.processCpuS - cpu0),
        "jit_cpu_s" -> (Host.jitCpuS - jit0), "gc_s" -> (Host.gcMs - gc0) / 1e3,
        "load1" -> Host.load1, "steal_s" -> (Host.stealS - steal0))
      if (traced) {
        BusShim.drain(sc)
        sc.removeSparkListener(trace)
        spans ++= trace.takeSpans()
        val counts = trace.takeCounts()
        rec ++ Map("other_counts" -> counts.getOrElse("other", Map.empty),
          "execs" -> execs.map(e => e + ("counts" -> counts.getOrElse(e("q").toString, Map.empty))))
      } else rec + ("execs" -> execs)
    }

    // Set-up: JVM start to the first timed pass, warm-up included.
    val warmStart = nowMs
    val warm = Seq.fill(Workloads.warmPasses(workload))(pass("warmup", traced = false))
    val setupEnd = nowMs

    // Timed passes. A traced run alternates traced and untraced passes.
    val timed = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (timed.size < MinTimed || nowMs - setupEnd < seconds * 1e3)
      timed += pass("timed", traced = tracedRun && timed.size % 2 == 0)
    val timedEnd = nowMs
    val liveHeapMb = Host.liveHeapMb()
    val probe = Host.probeS()

    // Output check, outside set-up and the timed passes.
    val checkDir = out.resolve("check")
    val checkStart = nowMs
    val check = names.map { name =>
      val error = try {
        queries(name)(spark, dataDir).write.mode("overwrite").parquet(checkDir.resolve(name).toString)
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
      } finally spark.catalog.clearCache()
      Map("q" -> name, "ok" -> error.isEmpty, "error" -> error)
    }
    val oracle = graft.SparkEntry.oracleSql
    write(checkDir.resolve("oracle_sql.json"), Json(names.flatMap(n => oracle.get(n).map(n -> _)).toMap))

    write(out.resolve("run.json"), Json(Map(
      "workload" -> workload, "seed" -> seed, "traced" -> tracedRun, "seconds" -> seconds,
      "cpus" -> cpus, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576L, "data" -> dataDir,
      "queries" -> names,
      "setup_s" -> (setupEnd - jvmStartMs) / 1e3,
      "jvm_to_session_s" -> (warmStart - jvmStartMs) / 1e3,
      "timed_s" -> (timedEnd - setupEnd) / 1e3,
      "live_heap_mb" -> liveHeapMb,
      "probe_s" -> probe,
      "check_s" -> (nowMs - checkStart) / 1e3,
      "warmup" -> warm.map(_ - "execs"),
      "passes" -> timed,
      "check" -> check)))
    if (tracedRun) write(out.resolve("spans.json"), Json(spans.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end))))
    spark.stop()
  }

  /** The session every benchmark JVM uses. */
  def session(cpus: Int, out: Path, name: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
  }
}
