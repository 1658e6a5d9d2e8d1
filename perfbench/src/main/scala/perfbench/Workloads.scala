package perfbench

import graft.operators

/** The benchmark's workloads. Each is a set of operator modules of
  * `graft.SparkEntry.queries` (`full`), of which a run times a few
  * members (`timed`).
  */
object Workloads {
  /** The iterative operators, whose driver-paced loops run jobs while
    * the DataFrame is built: the allow-list of the test suite's
    * ConstructionJobsSpec.
    */
  val iterative: Seq[String] = Seq(
    "reg_refs_closure", "reg_dep_depth", "reg_gc_candidates",
    "reg_ref_cycles", "reg_pagerank", "reg_change_advice",
    "dedup_clusters", "dedup_cluster_stats", "dedup_survivors",
    "dedup_semantic_clusters", "dedup_semantic_rate", "corpus_funnel",
    "ann_nn_descent", "ann_graph_recall", "ann_nn_graph",
    "emb_centroids", "emb_assign", "emb_pca_power",
    "tok_merge_apply")

  /** Every member of each workload's module set. */
  lazy val full: Map[String, Seq[String]] = Map(
    "star" -> operators.Analytics.queries.keys.toSeq,
    "fixpoint" -> iterative,
    "compat" -> (operators.Compat.queries.keys ++ operators.FormatCompat.queries.keys).toSeq,
    "corpus" -> (operators.TextAnalysis.queries.keys ++ operators.Multimodal.queries.keys ++
      operators.Dedup.queries.keys).toSeq.filterNot(iterative.contains)
  ).map { case (w, names) => w -> names.sorted }

  /** The members a benchmark run times. A whole workload takes 20 to
    * 75 s per pass on 4 cores, while a run is kept to about a minute.
    * Each workload's members were chosen so that their layer mix
    * (construct, plan and exec shares of the pass; construction jobs,
    * exec jobs, tasks, scan bytes, task CPU, spread exchanges,
    * checkpoint scans and root range sorts per second) comes close to
    * the whole set's, as a traced pass over `full` measures it
    * (`run.py --members full --trace 1`).
    */
  val timed: Map[String, Seq[String]] = Map(
    "star" -> Seq("q1_pricing_summary", "q17_small_qty", "q20_excess_suppliers", "q_window_rank"),
    // A registry graph fixpoint whose pointer-doubling rounds run as
    // jobs while it is built (reg_refs_closure), k-means, and a registry
    // operator with no construction jobs.
    "fixpoint" -> Seq("reg_refs_closure", "emb_centroids", "reg_change_advice"),
    "compat" -> Seq("compat_proto_scan", "compat_rule_freq"),
    // The minhash and jaccard kernels (dedup_ngram_jaccard), a
    // Multimodal and a TextAnalysis operator, with their Tables.spread
    // round-robin exchanges. An odd count keeps query_p50_s inside one
    // query's times rather than on the gap between two.
    "corpus" -> Seq("dedup_ngram_jaccard", "mm_type_sniff", "text_fingerprint"))

  /** Warm-up passes per run. A fixed count, so that every run starts
    * timing with the JIT compiler equally far along; it does not level
    * off within a run's time (on 4 cores its CPU per pass falls from
    * about half of the process CPU in the second pass to a third by the
    * fourteenth). On fixpoint, pass times from the third pass on stay
    * within 6% of their mean for several passes; on corpus, process CPU
    * per pass still fell by a third from the third pass to the fifth.
    */
  val warmPasses: Map[String, Int] = Map("corpus" -> 4).withDefaultValue(2)

  def members(workload: String, which: String): Seq[String] = which match {
    case "timed" => timed(workload)
    case "full" => full(workload)
    case other => throw new IllegalArgumentException(s"--members must be timed or full, not $other")
  }
}

/** Build-time step, run once per build: `Prepare FILE` writes the
  * oracle SQL of every timed query to FILE as one JSON object, so that
  * the oracle results are computed once.
  */
object Prepare {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val names = Workloads.timed.values.flatten
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      Json(names.flatMap(n => sql.get(n).map(n -> _)).toMap))
  }
}
