package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE compact JSON line on stdout (the driver
  * keeps only the last ~2000 chars of output, so the line must stay
  * small and must not be wrapped/prefixed by sbt's logger — see
  * build.sbt `run / outputStrategy := StdoutOutput`). Full-precision
  * cold+warm per-query detail is written to bench_detail.json.
  *
  * Self-arbitration against co-tenant load (r10, VERDICT r9 #1): this
  * host shares hardware with co-tenants whose load is invisible to
  * guest CPU/steal counters but inflates real per-instruction cost
  * (r9: the driver's official run read 4.3x the committed median on
  * byte-identical plans, and even summed executor task time inflated
  * 10-34x). Every artifact therefore carries its own host context:
  *   - a fixed CPU+shuffle calibration probe (no IO, deterministic
  *     plan) runs before the suite and after every [[CalEvery]]
  *     queries; probe wall / [[CalQuietSec]] (the probe's median on a
  *     measured-quiet host, loadavg < 0.5 — see BENCH_VARIANCE.md) is
  *     the window's INFLATION FACTOR, recorded per query ("infl" map)
  *     as max(bracketing probes)/ref;
  *   - 1-min loadavg is sampled at every query start ("load" map) and
  *     at every probe;
  *   - queries whose window inflation exceeds [[RequeueAbove]] are
  *     re-run after the main pass (worst-first, budget capped at
  *     SPARK_GRAFT_REQUEUE_MAX) with their own bracketing probes; the
  *     result from the LOWER-inflation window is kept, the swap is
  *     recorded ("cal".requeued), and the pass REPEATS while contended
  *     keeps remain and the previous round resolved at least one (r11)
  *     — whatever still exceeds the threshold is listed in
  *     "cal".unmeasurable rather than presented as a clean number.
  * A contended run is thus mechanically identifiable from the
  * artifact alone (med/max inflation in the compact line's "cal"
  * entry), and scripts/plan_guard.py separates "plan got slower" from
  * "host was busy" without external context.
  */
object Bench {
  /** Probe rows: sized so the probe runs ~0.5s on a quiet host —
    * long enough that per-instruction throughput (the co-tenant
    * signal) dominates the ~0.2s/task dispatch floor, short enough
    * that 13 probes cost ~1% of a full 233-query run.
    */
  private val CalRows = 192000000L
  /** Median probe wall on a measured-quiet host (zero co-tenant graft
    * processes). Re-pinned 0.55 → 0.33 in r12 (VERDICT r11 #2): the
    * r11 official run self-flagged ref_warn with a 0.331s min probe —
    * the host class got faster and the stale ref understated every
    * inflation factor. Override with SPARK_GRAFT_CAL_REF after any
    * host migration; the effective ref is min(ref, run's min probe).
    */
  private val CalQuietSec = 0.33
  /** Probe every 5 queries (r11, VERDICT r10 #3 — was 20): a burst
    * inside one probe window now poisons ≤5 measurements instead of
    * ~25 (the r10 run lost a whole 20-query block to one 2.35x
    * window). ~47 probes x ~0.6s on the full suite ≈ 6% overhead
    * against queries averaging ~1.7s.
    */
  private val CalEvery = 5
  private val RequeueAbove = 2.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val calRef = sys.env.get("SPARK_GRAFT_CAL_REF").flatMap(_.toDoubleOption)
      .getOrElse(CalQuietSec)
    val requeueMax = sys.env.get("SPARK_GRAFT_REQUEUE_MAX").flatMap(_.toIntOption)
      .getOrElse(120)
    val spark = GraftSession.local(cpus)
    // Absorb session/codegen/parquet-footer warmup so the first
    // measured query isn't charged for it.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    def loadavg1: String = scala.util.Try {
      java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ").head
    }.getOrElse("")

    // The calibration probe: 192M xxhash64 evaluations across `cpus`
    // tasks feeding a 997-key shuffle — CPU-bound like the
    // document-scan family where contention shows first and largest,
    // deterministic, zero IO. One warm run at JVM start absorbs its
    // codegen cost so every measured probe is steady-state.
    def calProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, CalRows, 1, cpus)
        .selectExpr("xxhash64(id) AS h", "id % 997 AS k")
        .groupBy("k").agg(org.apache.spark.sql.functions.expr("bit_xor(h)"))
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    // Three unrecorded warmups: one run pays codegen, but C2
    // compilation of the generated hash loop keeps ramping through
    // run 2-3 (measured r10: probe 1 after a single warmup read
    // 1.25s vs 0.58s steady-state on a quiet host).
    (1 to 3).foreach(_ => calProbe())
    // (boundary query index, probe seconds, 1-min loadavg at probe)
    val calSamples = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, String)]
    def probeAt(boundary: Int): Double = {
      val s = calProbe()
      calSamples += ((boundary, s, loadavg1))
      s
    }

    // Summed executor task time per query (r9): wall medians on this
    // host swing ±30% between identical-code runs (BENCH_VARIANCE.md);
    // summed executorRunTime/CpuTime across a query's tasks is immune
    // to scheduler stalls and is the honest cross-round comparator.
    val metrics = new StageMetrics(spark)

    case class Run(wall: Double, plan: String, task: Double, cpu: Double)
    // Returns wall seconds, the post-execution plan string (with AQE
    // the final plan — real joins picked, codegen stages marked
    // "*(n)" — only exists on the QueryExecution AFTER
    // materialization), and the query's summed task run/cpu seconds.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Either[String, Run] =
      // toRdd materializes every output column — count() would let
      // Catalyst prune expensive projections and under-report.
      try {
        val (qe, secs) = metrics.record {
          val t0 = System.nanoTime()
          val qe = fn(spark, sfDir).queryExecution
          qe.toRdd.count()
          (qe, (System.nanoTime() - t0) / 1e9)
        }
        val t = metrics.total
        Right(Run(secs, qe.executedPlan.toString, t.runMs / 1e3, t.cpuNs / 1e9))
      } catch {
        case e: Throwable => Left(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200))
      }

    case class Res(name: String, cold: Either[String, Double],
                   median: Either[String, Double], plan: String,
                   task: Either[String, Double], cpu: Either[String, Double],
                   load: String, infl: Double)
    def med3(a: Double, b: Double, c: Double): Double = Seq(a, b, c).sorted.apply(1)

    // One full measurement of a query: cold + 2 warm, median. The
    // window inflation is filled in by the caller (it needs the
    // bracketing probe that runs AFTER this query's window closes).
    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Res = {
      val startLoad = loadavg1
      // Each query runs three times; the reported number is the
      // MEDIAN. The first (cold) run pays one-off JIT/codegen cost
      // that amortizes to zero on a long-lived cluster, so the median
      // is normally a warm number — and unlike best-of-N it also
      // absorbs a transient GC/host stall hitting one warm run
      // without letting a single lucky run flatter the result
      // (round-over-round comparisons on this host exceeded the
      // assumed ±10% under best-of-two). Raw cold times stay in
      // bench_detail.json.
      val cold = run(fn)
      // No operator caches (they share frames through reused
      // exchanges), but drop
      // any cached table BEFORE the next run all the same: a cache
      // left in the session would let CacheManager swap the warm plan
      // for an InMemoryRelation, and the warm number would measure a
      // cached-table read, not the plan.
      spark.catalog.clearCache()
      val warms = (1 to 2).map { _ =>
        val r = if (cold.isRight) run(fn) else cold
        spark.catalog.clearCache()
        r
      }
      def medOf(f: Run => Double): Either[String, Double] = for {
        c <- cold; w1 <- warms(0); w2 <- warms(1)
      } yield med3(f(c), f(w1), f(w2))
      Res(name, cold.map(_.wall), medOf(_.wall),
        cold.map(_.plan).getOrElse(""), medOf(_.task), medOf(_.cpu),
        startLoad, 0.0)
    }

    // Optional subset run (r9): SPARK_GRAFT_QUERIES=a,b,c benches only
    // the named queries — the sf10 scale-risk suite uses this; the
    // driver's full per-round run leaves it unset.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Evaluation-scale gate (r9, VERDICT r8 #2): the two
    // pairs-complete truth cards are quadratic BY DESIGN (exhaustive
    // ground truth for the sampled scale siblings). Above
    // Dedup.EvalScaleMaxDocs they are skipped with a note instead of
    // keeping a >8x-scaling tail alive in every at-scale suite; their
    // sampled siblings stay in.
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val evalOnly = Set("dedup_lsh_tuning", "dedup_minhash_recall")
    val gated: Set[String] =
      if (nDocs > operators.Dedup.EvalScaleMaxDocs) evalOnly else Set.empty
    val gateNote = s"pairs-complete evaluation card gated above " +
      s"${operators.Dedup.EvalScaleMaxDocs} docs (corpus has $nDocs); " +
      "the sampled scale sibling is the registered 100 TB form"

    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) && !gated(name) }

    probeAt(0)
    val firstPass = suite.zipWithIndex.map { case ((name, fn), i) =>
      val r = measure(name, fn)
      if ((i + 1) % CalEvery == 0 && i + 1 < suite.length) probeAt(i + 1)
      (r, i)
    }
    probeAt(suite.length)

    // Effective quiet reference (r11 ADVICE): a calibrated ref that is
    // HIGHER than what this host actually achieves would UNDERSTATE
    // contention (a 3x-contended window on a 0.32s-quiet host reads as
    // <2x over a stale 0.55s ref and escapes the requeue). The run's
    // own minimum probe is a quiet level provably reachable on this
    // host in this run, so the effective ref is min(calRef, min probe)
    // — self-consistent after any host migration, with the divergence
    // reported via ref_stale/min_probe in the artifact.
    val calRefEff = math.min(calRef,
      calSamples.map(_._2).minOption.getOrElse(calRef))
    // Window inflation for query i: the worse of the probes bracketing
    // its window, over the quiet-host reference. max (not mean) so a
    // burst that started mid-window is charged to every query in it.
    def windowInfl(i: Int): Double = {
      val lo = calSamples.filter(_._1 <= i).map(_._2).lastOption.getOrElse(calRefEff)
      val hi = calSamples.find(_._1 > i).map(_._2).getOrElse(lo)
      math.max(lo, hi) / calRefEff
    }
    var results = firstPass.map { case (r, i) => r.copy(infl = windowInfl(i)) }

    // Requeue passes (r11, VERDICT r10 #3 — was one pass): queries
    // whose kept measurement sits in a contended window are retried
    // worst-first, each retry bracketed by its own probes, keeping
    // whichever ran quieter — and the whole pass REPEATS while (a)
    // contended keeps remain, (b) retry budget remains, and (c) the
    // previous round resolved at least one query below the threshold
    // (so a persistently-contended host stops burning budget instead
    // of looping). Whatever still exceeds the threshold at the end is
    // listed as UNMEASURABLE in the artifact — a kept-but-contended
    // number is never silently presented as a clean measurement.
    val requeued = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, String)]
    val byName = suite.toMap
    var retriesLeft = requeueMax
    var boundary = suite.length
    var roundResolved = true
    while (roundResolved && retriesLeft > 0 &&
           results.exists(r => r.infl > RequeueAbove && r.median.isRight)) {
      roundResolved = false
      val toRetry = results.filter(r => r.infl > RequeueAbove && r.median.isRight)
        .sortBy(-_.infl).take(retriesLeft)
      var before = probeAt({ boundary += 1; boundary })
      toRetry.foreach { old =>
        val retry = measure(old.name, byName(old.name))
        val after = probeAt({ boundary += 1; boundary })
        val retryInfl = math.max(before, after) / calRefEff
        val keepRetry = retry.median.isRight && retryInfl < old.infl
        requeued(old.name) = (old.infl, retryInfl, if (keepRetry) "retry" else "first")
        if (keepRetry) {
          results = results.map(r => if (r.name == old.name) retry.copy(infl = retryInfl) else r)
          if (retryInfl <= RequeueAbove) roundResolved = true
        }
        retriesLeft -= 1
        before = after
      }
    }
    val unmeasurable = results.filter(_.infl > RequeueAbove).map(_.name).sorted

    // minimal-width rendering: 0.50 → "0.5", 1.00 → "1" (valid JSON,
    // saves ~1 char/query against the tail-window budget)
    def fmt(d: Double, dp: Int): String = {
      val bd = BigDecimal(d).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros()
      if (bd.scale() < 0) bd.setScale(0).toPlainString else bd.toPlainString
    }
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("[\\x00-\\x1f]", " ")
    def qmap(dp: Int, pick: Res => Either[String, Double]): String =
      results.map { r => "\"" + r.name + "\":" + pick(r).fold(_ => "-1", fmt(_, dp)) }
        .mkString("{", ",", "}")
    val errs = results.collect { case r if r.median.isLeft =>
      "\"" + r.name + "\":\"" + esc(r.median.left.getOrElse("")) + "\"" }
      .mkString("{", ",", "}")
    // An errored query must not silently improve the headline total.
    val anyErr = results.exists(_.median.isLeft)
    val total = if (anyErr) -1.0 else results.map(_.median.getOrElse(0.0)).sum
    // errors only when non-empty: the compact line must stay inside
    // the driver's 2000-char tail window (see header comment).
    val errsPart = if (anyErr) s""","errors":$errs""" else ""
    // sf as a bare number (parsed from .../sfX.Y) instead of the dir
    // string: 22 chars of headroom for future per-query entries.
    val sfPart = "sf([0-9.]+)$".r.findFirstMatchIn(sfDir)
      .map(m => s""""sf":${m.group(1)}""").getOrElse(s""""sf":"$sfDir"""")
    // Host-contention summary for the compact line: median and max
    // per-query window inflation + requeue count. ~1 means a quiet
    // run; readers of BENCH_r{N}.json no longer need external context
    // to judge whether the total is contended.
    val inflSorted = results.map(_.infl).sorted
    val medInfl = if (inflSorted.isEmpty) 0.0 else inflSorted(inflSorted.length / 2)
    val maxInfl = if (inflSorted.isEmpty) 0.0 else inflSorted.last
    // calRef sanity check (r11 ADVICE): the quiet-host reference is a
    // constant measured on THIS host class; after a host/CPU change
    // every inflation factor silently skews. The run's own MINIMUM
    // probe is the best quiet-window estimate available in-band —
    // when it disagrees with calRef by >30% in either direction the
    // artifact carries a loud ref_warn so a stale reference is
    // visible from the JSON alone (and the right SPARK_GRAFT_CAL_REF
    // to set next time is min_probe itself).
    val minProbe = if (calSamples.isEmpty) calRef else calSamples.map(_._2).min
    val refStale = math.abs(minProbe / calRef - 1.0) > 0.30
    if (refStale)
      System.err.println(f"bench: CAL REF STALE? quiet ref ${calRef}%.3fs vs " +
        f"this run's min probe ${minProbe}%.3fs — inflation factors are " +
        "skewed; set SPARK_GRAFT_CAL_REF to the min probe of a known-quiet run")
    val refWarnPart = if (refStale) s""","ref_warn":${fmt(minProbe, 3)}""" else ""
    val calPart = s""""cal":{"ref":${fmt(calRef, 3)},"med":${fmt(medInfl, 2)},"max":${fmt(maxInfl, 2)},"req":${requeued.size},"unm":${unmeasurable.size}$refWarnPart}"""
    // n_queries (r12, VERDICT r11 #8): the compact line's headline
    // truncation rolls sped-up queries into "other", which diff
    // tooling can misread as drops — the measured-query count lets a
    // reader distinguish "rolled into other" from "gone" without
    // parsing bench_detail.json. Additions-only.
    def line(entries: Seq[String]): String =
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","n_queries":${results.length},"queries":${entries.mkString("{", ",", "}")}$errsPart,$calPart,$sfPart}"""
    // The full per-query map no longer fits the ~1925 chars the tail
    // window leaves after sbt's trailing [success] line. Headline
    // policy: slowest-first at 2dp, as many as fit, the remainder
    // rolled into one "other" entry — the slow queries carry the
    // information; the complete 6dp map is in bench_detail.json.
    // errored queries sort LAST (they're already reported in the errors
    // map) so real slow queries keep the headline slots
    val byTimeDesc = results.sortBy(r => -r.median.getOrElse(0.0))
      .map(r => ("\"" + r.name + "\":" + r.median.fold(_ => "-1", fmt(_, 2)), r.median.getOrElse(0.0)))
    val budget = 1880
    val keep = byTimeDesc.scanLeft(0)(_ + _._1.length + 1).tail
      .lastIndexWhere(_ <= budget - line(Nil).length) + 1
    val entries =
      if (keep >= byTimeDesc.length) byTimeDesc.map(_._1)
      else byTimeDesc.take(keep).map(_._1) :+
        ("\"other\":" + fmt(byTimeDesc.drop(keep).map(_._2).sum, 2))
    val compact = line(entries)
    // Static plan-shape metrics per query (shuffle exchanges,
    // broadcast exchanges, whole-stage-codegen spans): the evidence
    // behind SURVEY §4's claims, recorded next to the timings so a
    // regression in plan shape is visible without re-deriving plans.
    val planMetrics = results.map { r =>
      val name = r.name
      // post-execution AdaptiveSparkPlan prints "== Current Plan ==" +
      // "== Initial Plan ==" — count only the current (final) section
      val p = r.plan.split("== Initial Plan ==").head
      val m = if (p.isEmpty) "null" else {
        val sh = "[+:]- Exchange ".r.findAllIn(p).size
        val bc = "[+:]- BroadcastExchange ".r.findAllIn(p).size
        // simple-string plans mark codegen stages as "*(n) Operator"
        val ws = "\\*\\(\\d+\\)".r.findAllIn(p).toSet.size
        s"""{"sh":$sh,"bc":$bc,"ws":$ws}"""
      }
      "\"" + name + "\":" + m
    }.mkString("{", ",", "}")
    // Methodology note only — round-specific root-cause narratives
    // belong in SURVEY.md/VERDICT.md, not in every future run's
    // artifact (an r4 regression story was baked here and re-emitted
    // verbatim by each subsequent bench).
    val notes = "value = median of three runs per query (cold JIT/codegen " +
      "amortizes to zero on a long-lived cluster; the median also absorbs " +
      "one transient GC/host stall without letting a lucky run flatter " +
      "the number). Raw cold times in 'cold', plan-shape metrics " +
      "(shuffles/broadcasts/codegen spans) in 'plans'. 'task'/'cpu' (r9) " +
      "are the median-of-three per-query summed executor task run/cpu " +
      "seconds across all tasks — scheduler-noise-free, the honest " +
      "cross-round and cross-scale comparator (plan_guard.py reads them). " +
      "Caveat: each task carries a ~0.2s runtime floor on this host, so " +
      "at KB/MB frame sizes task sums measure task count, not work — see " +
      "BENCH_VARIANCE.md (r9 calibration). 'infl' (r10) is the per-query " +
      "window inflation factor: max(bracketing calibration probes)/ref, " +
      "ref = probe median on a measured-quiet host; 'load' is 1-min " +
      "loadavg at query start; 'cal' carries every probe sample and the " +
      "requeue log. infl~1 = quiet window; infl>2 = contended, and the " +
      "query was auto-requeued (worst-first, capped)."
    val skipped = gated.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .map(n => "\"" + n + "\":\"" + esc(gateNote) + "\"")
      .mkString("{", ",", "}")
    val loadMap = results.map { r =>
      "\"" + r.name + "\":" + (if (r.load.isEmpty) "null" else r.load)
    }.mkString("{", ",", "}")
    val inflMap = results.map(r => "\"" + r.name + "\":" + fmt(r.infl, 2))
      .mkString("{", ",", "}")
    val probesJson = calSamples.map { case (b, s, l) =>
      s"""[$b,${fmt(s, 3)},${if (l.isEmpty) "null" else l}]"""
    }.mkString("[", ",", "]")
    val requeuedJson = requeued.map { case (n, (b, a, kept)) =>
      s""""$n":{"infl_first":${fmt(b, 2)},"infl_retry":${fmt(a, 2)},"kept":"$kept"}"""
    }.mkString("{", ",", "}")
    val calDetail =
      s"""{"ref":${fmt(calRef, 3)},"ref_eff":${fmt(calRefEff, 3)},"min_probe":${fmt(minProbe, 3)},"ref_stale":$refStale,"rows":$CalRows,"every":$CalEvery,"med_infl":${fmt(medInfl, 2)},"max_infl":${fmt(maxInfl, 2)},"probes":$probesJson,"requeued":$requeuedJson,"unmeasurable":${unmeasurable.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    val loadavgEnd = scala.util.Try(
      java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ").take(3).mkString(",")
    ).getOrElse("")
    val detail =
      s"""{"metric":"total","value":${fmt(total, 6)},"unit":"sec","queries":${qmap(6, _.median)},"cold":${qmap(6, _.cold)},"task":${qmap(6, _.task)},"cpu":${qmap(6, _.cpu)},"plans":$planMetrics,"infl":$inflMap,"load":$loadMap,"cal":$calDetail,"errors":$errs,"skipped":$skipped,"notes":"${esc(notes)}","sf":"$sfDir","cpus":$cpus,"loadavg":"$loadavgEnd"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
      (detail + "\n").getBytes("UTF-8"))
    spark.stop()
    // Printed after spark.stop() so no shutdown log lines can land
    // between the JSON and the end of output.
    println(compact)
  }
}
