package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond pairwise dedup: duplicate-
  * cluster resolution, deterministic stratified sampling, sequence
  * packing, corpus boilerplate detection, and embedding centroids
  * (the IVF training step).
  *
  * Scale notes per operator are on each method. Duplicate-cluster
  * resolution is connected components through one entry,
  * [[components]]: the label form of the
  * [[graft.plans.TransitiveClosure]] operator, which takes its size
  * gate (broadcast BFS, or large-star/small-star rounds) at execution.
  */
object Pipeline {

  /** Duplicate clusters = connected components over the MinHash-LSH
    * near-dup pair graph (the step that turns pairwise candidates
    * into "keep one doc per cluster" at corpus scale), each labelled
    * by its least doc_id — see [[components]].
    * Output: (cluster_id = min doc_id, doc_id, n_docs) per member.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clusters(Dedup.minhashPairs(s, dir), Tables.documents(s, dir), "doc_a", "doc_b", "doc_id", "n_docs")

  /** Member rows (cluster_id, `id`, `size`) of the components of the
    * pair graph (`a`, `b`), whose ids are rows of the table `nodes`.
    * The size is a window over the cluster key, not a groupBy+join
    * whose build side would re-run the member subplan: one exchange,
    * identical rows.
    */
  private def clusters(pairs: DataFrame, nodes: DataFrame, a: String, b: String,
                       id: String, size: String): DataFrame =
    components(pairs.select(col(a).as("src"), col(b).as("dst")), Tables.footerRowBound(nodes))
      .select(col("label").as("cluster_id"), col("id").as(id))
      .withColumn(size, count(lit(1)).over(Window.partitionBy(col("cluster_id"))))

  /** The one connected-components entry: (id, label) for every node of
    * the undirected graph whose edges are the (src, dst) rows of
    * `pairs`, labelled by the least id of its component — the oracle's
    * `reach` CTE over both directions of every pair, with `min(lab)`
    * per node. NULL endpoints follow that CTE (see
    * [[graft.plans.TransitiveClosure]]).
    *
    * The operator takes both directions of every pair as its edges,
    * and decides at execution between its broadcast BFS (at or under
    * `threshold` symmetric edge rows) and large-star/small-star rounds
    * above it; its plan string shows the threshold and `nodeBound`, a
    * plan-time bound on the node count that sizes the estimate
    * downstream joins plan with. Construction launches no job.
    */
  private[graft] def components(pairs: DataFrame, nodeBound: Option[Long] = None,
                                threshold: Long = Tables.BcastRows): DataFrame = {
    val sym = pairs.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    graft.plans.TransitiveClosure.components(sym, nodeBound, threshold)
  }

  /** Deterministic stratified sampling: each (source, lang) stratum
    * keeps documents whose md5(doc_id) falls under the stratum's hex
    * threshold — 25% for the dominant 'en' stratum, 50% elsewhere.
    * Content-addressed sampling (hash, not rand()) is reproducible
    * across runs/engines and needs no state: the at-scale property
    * that makes pipeline re-runs and A/B slices line up. One scan +
    * one partial-aggregated groupBy; skew-free (strata are the
    * group keys). Lexicographic compare of md5 hex is a uniform
    * [0,1) draw in 1/16 steps ('4' = 4/16, '8' = 8/16).
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), col("lang"),
        (md5(col("doc_id").cast("string")) <
          when(col("lang") === "en", "4").otherwise("8")).cast("int").as("kept"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_sampled"))
      .withColumn("rate", expr("floor(n_sampled / cast(n_total AS double) * 10000 + 0.5) / cast(10000 AS double)"))

  /** Deterministic train/valid/test holdout split — the partition
    * every training corpus is cut into before anything else touches
    * it. Content-addressed exactly like [[sampleStratified]]:
    * md5(doc_id) under lexicographic hex thresholds ('fa' ≈ 250/256
    * train, 'fd' valid, rest test), so membership is a pure function
    * of the document — re-runs, engines, and incremental ingests all
    * agree, and no split-assignment table needs to exist. The output
    * is the split data card: per (split, source) doc/token volumes
    * and each cell's share of the corpus. One scan + one
    * vocabulary-sized partial-agg groupBy; the corpus total is a
    * 1-row broadcast.
    */
  def sampleSplit(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("bigint").as("tok"),
        when(md5(col("doc_id").cast("string")) < "fa", "train")
          .when(md5(col("doc_id").cast("string")) < "fd", "valid")
          .otherwise("test").as("split"))
    // corpus total via a window-sum over the cell rollup: every doc
    // lands in exactly one (split, source) cell, so the sums are
    // equal — the former broadcast aggregate re-ran the doc scan
    // (r12, guide §2.4)
    d.groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
      .withColumn("n_corpus", sum(col("n_docs")).over(Window.partitionBy()))
      .withColumn("doc_share",
        expr("floor(n_docs / cast(n_corpus AS double) * 10000 + 0.5) / cast(10000 AS double)"))
      .drop("n_corpus")
  }

  /** Concat-then-chunk sequence packing (GPT-style pretraining): per
    * source, documents are concatenated in doc_id order and cut into
    * 2048-token chunks; each document reports the chunk containing
    * its first token. chunk_id = (running token count before the doc)
    * div 2048 — one window cumsum per source partition, no shuffle
    * beyond the partitionBy. At 100 TB the source partitions pack
    * independently (the window key IS the parallelism unit), and the
    * chunk summary is a partial-aggregated groupBy.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("tok"))
      .withColumn("chunk_id", expr("(sum(tok) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - tok) div 2048"))
      .groupBy(col("source"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))

  /** Fixed-size chunking WITH OVERLAP — the RAG/embedding corpus-prep
    * step (every retrieval corpus splits documents into ~C-token
    * windows overlapping by O so no answer span straddles a cut),
    * distinct from [[packSequences]]' concat-then-chunk training
    * packing. Chunk i of a doc covers tokens [i·(C−O), min(i·(C−O)+C,
    * n)); a doc yields ceil((n−C)/(C−O))+1 chunks (min 1). C/O are
    * 32/8 — corpus-scaled; the production shape is 512/64 and changes
    * nothing structurally. Entirely row-local: the per-doc fan-out
    * is a bounded sequence() explode (expansion factor ≈ C/(C−O)),
    * then ONE partial-agg groupBy on source. The summary reports the
    * overlap duplication cost (total chunk tokens − corpus tokens) —
    * the storage price a corpus build pays for overlap.
    */
  def chunkOverlap(s: SparkSession, dir: String): DataFrame = chunkOverlapAt(s, dir, 32, 8)

  /** [[chunkOverlap]] with C = `c` and O = `overlap`. */
  private[graft] def chunkOverlapAt(s: SparkSession, dir: String, c: Int, overlap: Int): DataFrame = {
    val stride = c - overlap
    require(stride > 0, "chunk overlap must be smaller than chunk size")
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_tok"))
      .withColumn("n_chunks",
        when(col("n_tok") <= c, lit(1L))
          .otherwise(ceil((col("n_tok") - c).cast("double") / stride).cast("bigint") + 1L))
      .select(col("source"), col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("i"))
      .select(col("source"), col("doc_id"), col("n_tok"),
        (col("i") * stride).as("start_tok"),
        least(col("i") * stride + c, col("n_tok")).as("end_tok"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("end_tok") - col("start_tok")).as("total_chunk_tokens"),
        sum(when(col("end_tok") - col("start_tok") < c, 1L).otherwise(0L)).as("n_tail_chunks"),
        (sum(col("end_tok") - col("start_tok")) -
          sum(when(col("start_tok") === 0, col("n_tok")).otherwise(0L))).as("overlap_tokens"))
  }

  /** Corpus boilerplate detection (the C4-style "drop spans that
    * repeat across many documents" signal): word 5-grams that occur
    * in >= 3 distinct documents, with their document frequency.
    * Shingling is row-local (per-doc distinct before the explode, so
    * a span repeated inside one doc counts once); the only shuffle is
    * the partial-aggregated groupBy on the 5-gram — the exact shape
    * of a corpus-wide counting job at 100 TB.
    */
  def textBoilerplate(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id", "split(text, ' ') AS ts")
      .where("size(ts) >= 5")
      // explode_outer: the size guard makes the gram set non-empty;
      // see [[Dedup.winnow]] on InferFiltersFromGenerate
      .selectExpr("explode_outer(array_distinct(graft_shingles(ts, 5))) AS ngram")
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= 3)
  }

  /** Per-label embedding centroids, one row per (label, dimension) —
    * the k-means/IVF training step ([[Similarity]]'s IVF quantizer
    * consumes exactly these). posexplode fans each vector into 64
    * (dim, value) rows that partial-aggregate map-side before the
    * label×dim shuffle (640 groups), so the shuffle volume is
    * O(partitions × labels × dims), independent of corpus size.
    */
  def embCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.embeddings(s, dir))
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), (col("pos") + 1).cast("bigint").as("dim"), col("v").cast("double").as("v"))
      .groupBy(col("label"), col("dim"))
      // + 0.0 normalizes IEEE -0.0 → +0.0 (a centroid rounding to
      // zero from below otherwise hash-mismatches the oracle's -0.0)
      .agg((round(avg(col("v")), 4) + lit(0.0)).as("centroid"))

  /** Test-set decontamination: flag corpus documents sharing any word
    * 8-gram with the held-out eval slice (doc_id % 7 == 0 stands in
    * for the benchmark set). The eval side reduces to a DISTINCT
    * 8-gram set — tiny next to the corpus — and is broadcast, so the
    * corpus side never shuffles: scan, row-local shingle, broadcast
    * probe, partial-aggregated per-doc rollup. This is the shape that
    * decontaminates 100 TB against a benchmark suite in one pass.
    * Output: flagged doc, its gram counts, contamination rate.
    */
  def textDecontaminate(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val grams = Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id", "split(text, ' ') AS ts")
      .where("size(ts) >= 8")
      .selectExpr("doc_id",
        // explode_outer: non-empty under the size guard; avoids the
        // InferFiltersFromGenerate re-derivation below the spread
        "explode_outer(array_distinct(graft_shingles(ts, 8))) AS g")
    val evalSet = grams.where(col("doc_id") % lit(7) === 0)
      .select(col("g")).distinct()
    grams.where(col("doc_id") % lit(7) =!= 0)
      .join(broadcast(evalSet.withColumn("hit", lit(1))), Seq("g"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).as("n_shared"))
      .where(col("n_shared") > 0)
      // floor(x*1e4+0.5)/1e4 instead of round(): the rate is a
      // small-denominator rational where engine rounding diverges
      .withColumn("rate",
        floor(col("n_shared") / col("n_grams").cast("double") * 10000 + 0.5) / 10000.0)
  }

  /** Unigram log-probability quality scoring (the CCNet-style "score
    * each document under a corpus language model" filter). Pass 1
    * builds the unigram table (partial-aggregated token counts — the
    * only corpus shuffle, output is vocab-sized); the top-1000 vocab
    * and the 1-row total both broadcast back, so pass 2 scores every
    * document map-side: explode, broadcast-probe, per-doc rollup.
    * Out-of-vocab tokens get a 0.5-count floor (simple smoothing).
    * At 100 TB the vocab cap is what bounds the broadcast — the same
    * two-pass broadcast shape as [[textDecontaminate]].
    */
  def textLogprob(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    // vocab-sized (not corpus-sized): vocab and total read the one
    // token-counting exchange, reused within the query
    val counts = tok.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val vocab = counts.orderBy(col("cnt").desc, col("t")).limit(1000)
    val total = counts.agg(sum(col("cnt")).as("n"))
    tok.join(broadcast(vocab), Seq("t"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), log(coalesce(col("cnt"), lit(0.5)) / col("n")).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (floor(avg(col("lp")) * 10000 + 0.5) / lit(10000.0)).as("avg_logp"))
  }

  /** Interpolated bigram language-model scoring — the model-based
    * upgrade of [[textLogprob]]'s unigram scorer (CCNet-style corpora
    * rank documents by LM perplexity; a bigram LM with unigram
    * interpolation is the smallest model that sees word ORDER, so
    * shuffled-word spam scores badly while fluent text scores well):
    * per-bigram logprob ln(0.8·c12/c1 + 0.2·c2/N) from corpus-trained
    * counts, averaged per document weighted by occurrence.
    *
    * Scale shape: the corpus collapses to per-doc DISTINCT bigrams
    * with occurrence counts first (one shuffle, map-side combined,
    * whose exchange the bigram-count training rollup and the scoring
    * join both read); bigram counts then ride a
    * (w1, w2)-keyed shuffle join — bigram vocabulary is Zipf-bounded,
    * not corpus-bounded, and the join key is uniform enough that no
    * salting is needed. Unigram counts and the 1-row total are
    * vocabulary-sized broadcasts.
    */
  def textBigramLm(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id", "split(text, ' ') AS ts")
      .where("size(ts) >= 2")
    val dbg = toks.selectExpr("doc_id",
        "explode(transform(sequence(1, size(ts) - 1), i -> struct(ts[i - 1] AS w1, ts[i] AS w2))) AS bg")
      .groupBy(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("k"))
    val c12 = dbg.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("c12"))
    val uni = toks.selectExpr("doc_id", "explode(ts) AS w")
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val n = uni.agg(sum(col("cw")).as("n"))
    dbg.join(c12, Seq("w1", "w2"))
      .join(broadcast(uni.selectExpr("w AS w1", "cw AS c1")), "w1")
      .join(broadcast(uni.selectExpr("w AS w2", "cw AS c2")), "w2")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("k"),
        log(lit(0.8) * col("c12") / col("c1") + lit(0.2) * col("c2") / col("n")).as("lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        (floor(sum(col("k") * col("lp")) / sum(col("k")) * 10000 + 0.5) / lit(10000.0)).as("avg_logp"))
  }

  /** Weighted reservoir sampling (Efraimidis–Spirakis A-ES): every
    * document draws a deterministic uniform u from md5(doc_id) (48
    * hex bits, +1 so u ∈ (0, 1]) and competes with key ln(u)/w, w =
    * token count — the top-k keys per source stratum are EXACTLY a
    * weighted-without-replacement sample, the standard way to cut a
    * token-budgeted subcorpus where long documents should win
    * proportionally. One pass, no global sort: the key is row-local
    * with the scan and only the per-stratum top-10 window shuffles —
    * at 100 TB a per-partition top-k pre-prune (partial aggregate)
    * bounds the exchange to k rows per task per stratum.
    */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("key").desc, col("doc_id"))
    Tables.spread(Tables.documents(s, dir))
      .selectExpr("source", "doc_id",
        "cast(size(split(text, ' ')) AS bigint) AS n_tokens",
        "(cast(conv(substring(md5(cast(doc_id AS string)), 1, 12), 16, 10) AS bigint) + 1) / cast(281474976710656 AS double) AS u")
      .withColumn("key", log(col("u")) / col("n_tokens"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 10)
      .selectExpr("source", "rnk", "doc_id", "n_tokens",
        "floor(key * 1000000 + 0.5) / cast(1000000 AS double) AS priority")
  }

  /** Temperature-based language mixing (multilingual pretraining's
    * p_i ∝ n_i^α with α = 0.7, flattening the head language): one
    * partial-aggregated pass to per-language token counts (5 rows),
    * a 1-row total broadcast back, weights and integer sampling
    * targets (per 10k budget) computed row-local. The whole operator
    * shuffles only `langs` rows regardless of corpus size.
    */
  def sampleTemp(s: SparkSession, dir: String): DataFrame = {
    val strata = Tables.documents(s, dir)
      .select(col("lang"), size(split(col("text"), " ")).cast("bigint").as("tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
      .withColumn("raw", pow(col("n_tokens").cast("double"), 0.7))
    // denominator via window-sum over the per-lang rollup (langs
    // partition the corpus) — the broadcast aggregate re-ran the
    // tokenizing scan (r12, guide §2.4)
    strata.withColumn("tot_raw", sum(col("raw")).over(Window.partitionBy()))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        (floor(col("raw") / col("tot_raw") * 1e6 + 0.5) / 1e6).as("weight"),
        floor(col("raw") / col("tot_raw") * 10000 + 0.5).cast("bigint").as("n_target"))
  }

  /** Distribution-drift card between corpus slices — the delivery QA
    * every recurring ingest runs ("does source X's length profile
    * still look like the corpus?"): per (source, length-bucket), the
    * observed doc count against the expectation under the corpus-wide
    * bucket mix, with the χ² contribution (obs − exp)²/exp and the
    * per-source total. A source whose χ² total spikes between
    * deliveries changed its content mix — the trigger for a manual
    * look before the data enters training.
    *
    * All counts are exact integers from two bounded rollups
    * (buckets × sources and buckets); expectation and χ² are single
    * double expressions of those integers — no accumulation-order
    * risk. Scan-bound at any corpus size.
    */
  def corpusDrift(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.documents(s, dir)
      .select(col("source"), expr("n_chars div 100").as("bucket"))
    // every doc lands in exactly one (source, bucket) cell, so the
    // bucket/source/corpus totals are all window-sums over the one
    // cell rollup — the former four independent rollups re-scanned
    // the corpus four times and broadcast three of them (r12, guide
    // §2.4); identical integers, one scan.
    b.groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("obs"))
      .withColumn("bucket_total", sum(col("obs")).over(Window.partitionBy(col("bucket"))))
      .withColumn("source_total", sum(col("obs")).over(Window.partitionBy(col("source"))))
      .withColumn("n_docs", sum(col("obs")).over(Window.partitionBy()))
      .withColumn("exp_docs",
        (floor(col("bucket_total") * col("source_total") / col("n_docs").cast("double") * 10000 + 0.5)
          / lit(10000.0)))
      .withColumn("chi2_part",
        (floor((col("obs") - col("exp_docs")) * (col("obs") - col("exp_docs"))
          / col("exp_docs") * 10000 + 0.5) / lit(10000.0)))
      .select(col("source"), col("bucket"), col("obs"), col("bucket_total"),
        col("source_total"), col("exp_docs"), col("chi2_part"))
  }

  /** Duplicate-cluster size distribution — the dedup impact report
    * read before committing a survivor policy: how many clusters of
    * each size exist (singletons = docs with no near-dup included,
    * labeled by themselves — a label that cannot collide with a real
    * cluster's min-doc_id label, since that min is itself a paired
    * doc). n_docs per size row recounts the corpus exactly; the
    * aggregate dedup rate falls out as 1 − n_clusters/n_docs.
    *
    * Scale: composes [[dedupClusters]] (LSH pairs + connected
    * components); the stats are two vocabulary-sized rollups (cluster
    * ids, then sizes) after one left join keyed by uniform doc_id. The
    * cluster side is broadcast, as in [[corpusFunnel]]: it holds only
    * the documents with a near duplicate, but its plan-time estimate
    * is the whole documents table's footer count (see [[components]]),
    * which passes the broadcast threshold near 400k documents.
    */
  def clusterStats(s: SparkSession, dir: String): DataFrame = {
    val cl = dedupClusters(s, dir).select(col("doc_id"), col("cluster_id"))
    val labeled = Tables.documents(s, dir).select(col("doc_id"))
      .join(broadcast(cl), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("size") * col("n_clusters"))
  }

  /** The composed Gopher quality gate (Rae et al. 2021 §A1.1) — not
    * another signal but the FILTER actually applied: five rules over
    * the engine's own quality signals ([[TextAnalysis.repetition]],
    * [[TextAnalysis.entropy]], [[TextAnalysis.dupCoverage]]), each
    * reported with its individual kill count plus the combined gate —
    * the ablation card a pipeline owner reads before flipping a rule
    * on. Thresholds are expressed in INTEGER cross-multiplied form
    * (100·dups > 65·n, never dups/n > 0.65), so rule verdicts carry
    * no float boundary risk; the one float input is the 4dp-rounded
    * entropy both engines already agree on bit-for-bit.
    *
    * Scale (r10, VERDICT r9 #6): the r9 composition called the three
    * registered signal operators directly, so the documents table was
    * scanned and tokenized THREE times (the suite's largest committed
    * task sum, 61.7s at sf0.1). The gate now tokenizes ONCE into one
    * (doc_id, words) frame and derives all
    * three signals from it with the signal operators' OWN expression
    * trees ([[TextAnalysis.runLen]] for the repetition fields, the
    * same token-count chain for entropy, the same span-window chain
    * for dup coverage) — outputs are byte-identical to the
    * composition (PipelineSpec pins it) because the expressions are
    * identical, only the scan is shared. The three signal operators
    * stay registered individually.
    */
  def gopherGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.Native.register(s)
    val docs = Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id", "split(text, ' ') AS ws")
    val rep = docs
      .selectExpr("doc_id", "ws", "graft_shingles(ws, 2) AS gs")
      .selectExpr("doc_id", "size(ws) AS n_words",
        s"${TextAnalysis.runLen("ws")}.runs AS n_distinct_words",
        s"${TextAnalysis.runLen("gs")}.best AS top_bigram_count",
        "size(gs) AS n_bigrams")
    val ent = docs.select(col("doc_id"), explode(col("ws")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), sum(col("c") * log(col("c"))).as("clc"))
      .select(col("doc_id"),
        (floor((log(col("n_tokens")) - col("clc") / col("n_tokens")) * 10000 + 0.5) / lit(10000.0))
          .as("entropy"))
    val cov = docs
      .where("size(ws) >= 3")
      .selectExpr("doc_id",
        "graft_shingle_md5(ws, 3) AS ghs")
      .select(col("doc_id"), posexplode_outer(col("ghs")).as(Seq("p0", "gh")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gh"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("doc_id"), col("gh"))))
      .filter(col("cnt") >= 2)
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + 2)).as("wpos"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("wpos")).as("n_words_covered"))
    rep.join(ent, "doc_id").join(cov, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "CASE WHEN n_words < 20 OR n_words > 90 THEN 1 ELSE 0 END AS f1",
        "CASE WHEN 100 * (n_words - n_distinct_words) > 65 * n_words THEN 1 ELSE 0 END AS f2",
        "CASE WHEN n_bigrams > 0 AND 100 * top_bigram_count > 8 * n_bigrams THEN 1 ELSE 0 END AS f3",
        "CASE WHEN entropy < 2.4 THEN 1 ELSE 0 END AS f4",
        "CASE WHEN coalesce(n_words_covered, 0) * 20 > n_words THEN 1 ELSE 0 END AS f5")
      // one global aggregate, then the six rule rows: an empty corpus
      // still reports every rule, with n_checked 0 and NULL sums
      .selectExpr("count(*) AS n_checked", "sum(f1) AS s1", "sum(f2) AS s2",
        "sum(f3) AS s3", "sum(f4) AS s4", "sum(f5) AS s5",
        "sum(CASE WHEN f1 + f2 + f3 + f4 + f5 > 0 THEN 1 ELSE 0 END) AS s6")
      .selectExpr("n_checked",
        """stack(6,
          |  'r1_word_count', s1, 'r2_dup_ratio', s2, 'r3_top_bigram', s3,
          |  'r4_entropy', s4, 'r5_dup_3gram', s5, 'r6_all_rules', s6)
          |AS (rule, n_fail)""".stripMargin)
      .select(col("rule"), col("n_checked"), col("n_fail"),
        (col("n_checked") - col("n_fail")).as("n_pass"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): rank each
    * language's documents by the unigram-LM score ([[textLogprob]],
    * the engine's stand-in for the paper's KenLM perplexity) and cut
    * into head / middle / tail tertiles — the quality strata CCNet
    * keeps, samples, and drops respectively. Rank-based `ntile`, not
    * interpolated percentile thresholds: both engines implement the
    * same SQL ntile distribution, so bucket boundaries are exactly
    * reproducible (an interpolated threshold would hang parity on
    * libm-level arithmetic-order differences).
    *
    * Scale (r10): the per-doc score is one (vocab-broadcast) scan;
    * the tertile assignment rides [[ScaleNtile.bucketed]] — exact
    * rank-ntile while a language's stream fits one sort task (the
    * oracle-parity branch), per-language `approx_percentile`
    * cutpoints above (no corpus-sized window sort at any scale; the
    * registered plan before r10 always ran the rank form, the §2
    * "weak" the verdict flagged). Branch choice runs one count job at
    * construction (the [[Dedup]] eager-branch idiom).
    */
  def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    val lp = textLogprob(s, dir)
    val langs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    ScaleNtile.bucketed(lp.join(langs, "doc_id"),
        partCol = "lang", orderCol = "avg_logp", tieCol = "doc_id",
        buckets = 3, desc = true,
        decisionCounts = Tables.documents(s, dir).select(col("lang")))
      .groupBy(col("lang"), col("bucket_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("avg_logp")).as("lo_logp"),
        max(col("avg_logp")).as("hi_logp"),
        (floor(avg(col("avg_logp")) * 10000 + 0.5) / lit(10000.0)).as("mean_logp"))
      .selectExpr("lang", "bucket_id",
        "CASE bucket_id WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket",
        "n_docs", "total_tokens", "lo_logp", "hi_logp", "mean_logp")
  }

  /** End-to-end corpus selection funnel — the composition a pipeline
    * user actually runs: language filter → length filter → duplicate
    * removal (non-canonical cluster members drop) → deterministic 50%
    * sample, reported as per-stage surviving counts. One scan with
    * cumulative stage flags + a single global aggregate (stack'd into
    * rows); the duplicate list comes from [[dedupClusters]] and is
    * broadcast. Stages are cumulative: each count filters within the
    * previous stage's survivors.
    */
  def corpusFunnel(s: SparkSession, dir: String): DataFrame = {
    val dupes = dedupClusters(s, dir)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(1).as("is_dupe"))
    Tables.documents(s, dir)
      .join(broadcast(dupes), Seq("doc_id"), "left_outer")
      .select(
        (col("lang") === "en").as("f1"),
        col("n_chars").between(150, 500).as("f2"),
        col("is_dupe").isNull.as("f3"),
        (md5(col("doc_id").cast("string")) < "8").as("f4"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(col("f1").cast("long")).as("n1"),
        sum((col("f1") && col("f2")).cast("long")).as("n2"),
        sum((col("f1") && col("f2") && col("f3")).cast("long")).as("n3"),
        sum((col("f1") && col("f2") && col("f3") && col("f4")).cast("long")).as("n4"))
      .selectExpr(
        """stack(5, 's0_total', n_total, 's1_lang_en', n1, 's2_length', n2,
          |  's3_dedup', n3, 's4_sample', n4) AS (stage, n_docs)""".stripMargin)
  }

  /** Corpus data card: per-(source, lang) document counts, char
    * volumes, and exact length percentiles — the summary table every
    * dataset release ships. One partial-aggregated groupBy; exact
    * percentile holds the stratum's values (fine at per-stratum
    * scale; `approx_percentile` is the same API shape when strata
    * grow unbounded).
    */
  def corpusStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        round(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
        round(expr("percentile(n_chars, 0.95)"), 4).as("p95_chars"))

  /** The 100 TB form of [[corpusStats]]: `approx_percentile` at the
    * same strata, for corpora whose (source, lang) groups grow
    * unbounded. Spec-checked against the exact operator with a 5%
    * tolerance (ScalePathSpec) — SURVEY §4's claim, executable.
    */
  def corpusStatsApprox(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        expr("approx_percentile(n_chars, 0.5, 10000)").as("p50_chars"),
        expr("approx_percentile(n_chars, 0.95, 10000)").as("p95_chars"))

  /** Duplicate-survivor selection — the decision step after
    * clustering: per near-dup cluster keep exactly one document,
    * preferring the lexicographically best source (stand-in for a
    * curated-source priority list) with doc_id as the deterministic
    * tiebreak. One row_number window over the cluster key (state
    * bounded by cluster size) + the same-keyed rollup; the
    * documents join broadcasts the cluster side (see [[clusterStats]]).
    */
  def dedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(s, dir).select(col("cluster_id"), col("doc_id"))
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("source"), col("doc_id"))
    broadcast(clusters).join(docs, "doc_id")
      .withColumn("rk", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(min(when(col("rk") === 1, col("doc_id"))).as("survivor_doc_id"),
        min(when(col("rk") === 1, col("source"))).as("survivor_source"),
        (count(lit(1)) - lit(1)).as("n_dropped"))
  }

  /** Token-balanced output-shard planning: assign documents (in
    * deterministic doc_id order) to shards of ~4096 tokens — the
    * step that sizes training-data files. A global ordered cumsum is
    * the naive formulation, and a single global window is the 100 TB
    * trap (one task sorts everything). Distributed prefix sum
    * instead: contiguous doc_id ranges form buckets; per-bucket token
    * totals (one partial-agg shuffle over ~n/1000 rows) get a running
    * offset via a window over the TINY rollup only, broadcast back,
    * and each row's global cumsum is offset + its within-bucket
    * cumsum (a bucket-keyed window). No global sort ever touches the
    * corpus. Oracle states the naive global-window formulation —
    * parity proves the decomposition.
    */
  def tokShardPlan(s: SparkSession, dir: String): DataFrame = {
    val budget = 4096.0
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint").as("tok"))
      .withColumn("bucket", floor(col("doc_id") / 1000).cast("bigint"))
    val wBuckets = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy(col("bucket")).agg(sum(col("tok")).as("btok"))
      .withColumn("offset", coalesce(sum(col("btok")).over(wBuckets), lit(0L)))
      .select(col("bucket").as("ob"), col("offset"))
    val wInBucket = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("incum", sum(col("tok")).over(wInBucket))
      .join(broadcast(offsets), col("bucket") === col("ob"))
      .withColumn("shard_id",
        floor((col("offset") + col("incum") - col("tok")) / budget).cast("bigint"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
  }

  /** k-means assignment step (the E-step that follows
    * [[embCentroids]]' M-step, and the recall-evaluation face of the
    * IVF quantizer): every vector scores against the 10 broadcast
    * label centroids (bounded 10× row expansion — the scale path for
    * 10⁹ vectors routes through the IVF inverted lists instead), and
    * the per-vector argmax rolls up into a label↔assigned confusion
    * matrix. Cosine runs in the codegen'd graft_cosine expression;
    * the oracle mirrors its exact index-order summation, so argmax
    * ranks are bit-stable across engines.
    */
  def embAssign(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val cArr = embCentroids(s, dir)
      .groupBy(col("label").as("c_label"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, centroid))), x -> x.centroid)")
        .as("c_vec"))
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("c_label"))
    vecs.crossJoin(broadcast(cArr))
      .withColumn("cos", expr("graft_cosine(v, c_vec)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("label"), col("c_label").as("assigned"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** Data-mixture planning — the reconciliation step between corpus
    * stats and sampling that every pretraining run does: TARGET
    * mixture shares (config; here a deterministic per-source weight
    * so both over- and under-subscribed branches occur in data) are
    * applied to a global token budget (half the available corpus —
    * scale-invariant) and reconciled against what each source
    * actually HAS. Under-subscribed sources get a < 1 sampling rate;
    * over-subscribed sources report the epoch count (repeat factor)
    * and the single-epoch shortfall — the "code is 5% of the corpus
    * but the mixture wants 20%" accounting. One groupBy over the
    * corpus + a 1-row budget broadcast + a vocabulary-sized weight
    * dim: the plan output is O(sources) no matter the corpus size.
    */
  def corpusMixPlan(s: SparkSession, dir: String): DataFrame = {
    val avail = Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("bigint").as("tok"))
      .groupBy(col("source"))
      .agg(sum(col("tok")).as("avail_tokens"))
      // deterministic skewed target weight: last digit of the source
      // name spread over 1..4 — decoupled from availability so some
      // sources land over- and some under-subscribed
      .withColumn("w", (ascii(expr("right(source, 1)")) % 4 + 1).cast("double"))
    // totals via window-sums over the per-source rollup (sources
    // partition the corpus) — the broadcast aggregate re-ran the
    // tokenizing scan (r12, guide §2.4)
    val wAll = Window.partitionBy()
    avail
      .withColumn("w_tot", sum(col("w")).over(wAll))
      .withColumn("budget", (sum(col("avail_tokens")).over(wAll) / 2).cast("double"))
      .withColumn("target_share", floor(col("w") / col("w_tot") * 1e6 + 0.5) / 1e6)
      .withColumn("target_tokens",
        floor(col("w") / col("w_tot") * col("budget")).cast("bigint"))
      .withColumn("sample_rate",
        floor(least(lit(1.0), col("target_tokens") / col("avail_tokens")) * 1e6 + 0.5) / 1e6)
      .withColumn("n_epochs",
        ceil(col("target_tokens") / col("avail_tokens")).cast("bigint"))
      .withColumn("shortfall_single_epoch",
        greatest(lit(0L), col("target_tokens") - col("avail_tokens")))
      .select(col("source"), col("avail_tokens"), col("target_share"),
        col("target_tokens"), col("sample_rate"), col("n_epochs"),
        col("shortfall_single_epoch"))
  }

  /** One BPE merge-scan iteration (Sennrich et al. 2016 shape — the
    * inner loop of tokenizer training): count every adjacent
    * character pair across all word occurrences, rank the top-20
    * merge candidates. Row-local double fan-out (words, then pairs —
    * expansion bounded by text length), ONE pair-keyed partial-agg
    * shuffle whose key space is at most alphabet², and a bounded
    * top-k (TakeOrderedAndProject, no global sort). At 100 TB the
    * full merge loop re-runs this scan per vocabulary step with
    * learned merges applied — each step stays this same one-shuffle
    * shape.
    */
  def tokPairCounts(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      // explode_OUTER: equivalent under the length guard (≥1 pair),
      // and it keeps InferFiltersFromGenerate from re-deriving the
      // whole pair array inside a filter below the spread repartition
      .select(explode_outer(expr(
        "transform(sequence(1, length(w) - 1), i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1)))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(20)

  /** One full BPE training step (Sennrich et al. 2016): take
    * [[tokPairCounts]]' winning pair, APPLY the merge to every word's
    * symbol sequence (leftmost non-overlapping, the BPE contract —
    * both engines' `replace` scans left and never re-matches inside a
    * replacement), and recount adjacent pairs over the merged
    * sequences — the state the next merge iteration ranks. The merge
    * winner is a 1-row broadcast; symbolization and replacement are
    * row-local; the recount is the same one alphabet²-bounded
    * pair-keyed shuffle as the first scan. At 100 TB the whole merge
    * loop is V repetitions of exactly this plan with the growing
    * merge list applied in the same row-local pass.
    */
  def tokMergeApply(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val words = Tables.spread(Tables.documents(s, dir))
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
    val top = words.select(explode_outer(expr(
        "transform(sequence(1, length(w) - 1), i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1)))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(1)
      .select(col("pair").as("merge"))
    words
      .selectExpr("array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), ' ') AS sym")
      .crossJoin(broadcast(top))
      .selectExpr("merge", "split(replace(sym, merge, replace(merge, ' ', '')), ' ') AS l")
      // a word equal to the merge itself collapses to ONE symbol — it
      // has no adjacent pairs left. The guard is load-bearing: the
      // explode_outer of its empty pair list would emit a NULL pair
      .where("size(l) >= 2")
      .selectExpr("merge", "explode_outer(graft_shingles(l, 2)) AS pair")
      .groupBy(col("merge"), col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(20)
  }

  /** Tokenizer-fit data card: per-source OOV rate against the top-20
    * corpus vocabulary — the "will this tokenizer cover that source"
    * report run before committing a vocab. ONE token-keyed shuffle
    * builds the vocab (key space = distinct words), the vocab rides
    * back as a broadcast, coverage is a per-source partial agg; the
    * corpus is never shuffled on a wide key. At 100 TB the vocab
    * build is the same word-count scan BPE training already runs.
    */
  def tokVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.spread(Tables.documents(s, dir))
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(20)
      .select(col("w"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("w"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, lit(1))).as("n_oov"),
        countDistinct(when(col("in_vocab").isNull, col("w"))).as("n_oov_types"))
      .selectExpr("source", "n_tokens", "n_oov",
        "round(n_oov / cast(n_tokens AS double), 4) AS oov_rate", "n_oov_types")
  }

  /** Semantic duplicate clusters: connected components over the
    * SRP-bucketed embedding near-dup pairs ([[Dedup.embedLsh]]) —
    * the embedding-space twin of [[dedupClusters]] (which clusters
    * lexical MinHash pairs). Paraphrases and translations that share
    * no n-grams still land in one semantic cluster; the survivor
    * policy then keeps one rendition per meaning. The embedding graph
    * chains through hub vectors, so its components have a larger
    * diameter than the LSH cliques; [[components]] is indifferent to
    * that below its gate (one BFS per component) and above it (the
    * O(log n) large-star/small-star alternations).
    * Output: (cluster_id = min vec_id, vec_id, n_vecs) per member.
    */
  def semanticClusters(s: SparkSession, dir: String): DataFrame =
    clusters(Dedup.embedLsh(s, dir), Tables.embeddings(s, dir), "vec_a", "vec_b", "vec_id", "n_vecs")

  /** Per-source semantic-duplication rate: the fraction of each
    * source's vectors that participate in at least one SRP-bucketed
    * embedding near-dup pair ([[Dedup.embedLsh]]) — the roll-up a
    * mix planner reads next to [[sourceOverlap]] (lexical overlap
    * BETWEEN sources) to see which source is internally redundant in
    * meaning-space. vec_id is the embedding of document doc_id, so
    * the source dimension joins straight on the id.
    *
    * Scale: the pair frame explodes row-locally to its member ids
    * and dedupes (bounded by the corpus); the flag join is id-keyed;
    * the rollup is vocabulary-sized on the bounded source key.
    */
  def semanticRate(s: SparkSession, dir: String): DataFrame = {
    val dupIds = Dedup.embedLsh(s, dir)
      .selectExpr("explode(array(vec_a, vec_b)) AS vec_id")
      .distinct()
      .withColumn("is_dup", lit(1L))
    Tables.documents(s, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
      .join(dupIds, Seq("vec_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_vecs"),
        coalesce(sum(col("is_dup")), lit(0L)).as("n_sem_dups"))
      .selectExpr("source", "n_vecs", "n_sem_dups",
        "floor(n_sem_dups / cast(n_vecs AS double) * 10000 + 0.5) / cast(10000 AS double) AS dup_rate")
  }

  /** Token-mass concentration per source (Gini coefficient): ranks
    * each source's documents by token count and applies the exact
    * rank-sum identity G = 2·Σ(rank·tok)/(n·Σtok) − (n+1)/n. A
    * source where a handful of giant documents carry most of the
    * token mass (G → 1) samples very differently from a uniform one
    * (G → 0) — the mix planner reads this next to
    * [[corpusMixPlan]]'s epoch counts when setting per-source
    * sampling temperature. All sums stay integer until the final
    * division (engine-portable, no float accumulation order issues).
    *
    * Scale: one narrow scan computes per-doc token counts, the rank
    * window and both rollups run partitioned by source; with a
    * skewed source the window input is still only (doc_id, tok)
    * pairs — bytes-per-doc constant, never corpus text.
    */
  def corpusGini(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.spread(Tables.documents(s, dir))
      .selectExpr("source", "doc_id", "cast(size(split(text, ' ')) AS bigint) AS tok")
    val w = Window.partitionBy(col("source")).orderBy(col("tok"), col("doc_id"))
    toks.withColumn("rank", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        sum(col("rank") * col("tok")).as("rank_mass"))
      .selectExpr("source", "n_docs", "total_tokens",
        """floor((2.0 * rank_mass / (n_docs * cast(total_tokens AS double))
          |  - (n_docs + 1) / cast(n_docs AS double)) * 10000 + 0.5) / cast(10000 AS double) AS gini""".stripMargin)
  }

  /** Cross-source n-gram overlap matrix: for every source pair that
    * shares at least one distinct trigram, the shared-gram count plus
    * containment (|A∩B|/min) and Jaccard — the mix planner's "are
    * these two ingest sources secretly the same crawl" card, read
    * before corpus_mix_plan weights them as independent. Zero-overlap
    * pairs are absent by construction (inner join on the gram hash).
    *
    * Scale: grams travel as md5 hashes and dedupe to DISTINCT
    * (source, gram) rows first, so the self-join input is vocabulary-
    * sized, keyed by a uniform hash, and each gram contributes at
    * most sources² pair rows (sources is a small bounded set — the
    * per-key fan-out cap that makes the join safe at 100 TB). Totals
    * broadcast back onto the pair rollup; the totals and both
    * self-join sides read the distinct grams' one exchange.
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val sg = Tables.spread(Tables.documents(s, dir))
      .selectExpr("source", "split(text, ' ') AS ts")
      .where("size(ts) >= 3")
      .selectExpr("source",
        "explode(array_distinct(graft_shingle_md5(ts, 3))) AS gh")
      // never NULL (md5 is not); stated here, the self-join's inferred
      // filter is already known, so the totals read the same frame
      .where(col("gh").isNotNull)
      .distinct()
    val tot = sg.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    sg.selectExpr("source AS source_a", "gh")
      .join(sg.selectExpr("source AS source_b", "gh"), "gh")
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(tot.selectExpr("source AS source_a", "n_grams AS n_a")), "source_a")
      .join(broadcast(tot.selectExpr("source AS source_b", "n_grams AS n_b")), "source_b")
      .selectExpr("source_a", "source_b", "n_common", "n_a", "n_b",
        "floor(n_common / cast(least(n_a, n_b) AS double) * 10000 + 0.5) / cast(10000 AS double) AS containment",
        "floor(n_common / cast(n_a + n_b - n_common AS double) * 10000 + 0.5) / cast(10000 AS double) AS jaccard")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_semantic_clusters" -> semanticClusters,
    "dedup_semantic_rate" -> semanticRate,
    "corpus_gini" -> corpusGini,
    "corpus_source_overlap" -> sourceOverlap,
    "tok_vocab_coverage" -> tokVocabCoverage,
    "tok_pair_counts" -> tokPairCounts,
    "tok_merge_apply" -> tokMergeApply,
    "sample_split" -> sampleSplit,
    "corpus_mix_plan" -> corpusMixPlan,
    "emb_assign" -> embAssign,
    "tok_shard_plan" -> tokShardPlan,
    "corpus_stats" -> corpusStats,
    "dedup_survivors" -> dedupSurvivors,
    "corpus_drift" -> corpusDrift,
    "dedup_cluster_stats" -> clusterStats,
    "corpus_gopher_gate" -> gopherGate,
    "corpus_ppl_buckets" -> pplBuckets,
    "text_logprob" -> textLogprob,
    "text_bigram_lm" -> textBigramLm,
    "sample_weighted" -> sampleWeighted,
    "sample_temp" -> sampleTemp,
    "text_decontaminate" -> textDecontaminate,
    "corpus_funnel" -> corpusFunnel,
    "dedup_clusters" -> dedupClusters,
    "sample_stratified" -> sampleStratified,
    "pack_sequences" -> packSequences,
    "text_chunks" -> chunkOverlap,
    "text_boilerplate" -> textBoilerplate,
    "emb_centroids" -> embCentroids)

  /** The unigram-LM per-doc log-prob derivation as a DuckDB CTE chain
    * ending in `lp(doc_id, n_tokens, avg_logp)` — shared by the
    * text_logprob oracle and the perplexity-bucket oracle.
    */
  private val logprobCte: String =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |counts AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
      |vocab AS (SELECT t, cnt FROM counts ORDER BY cnt DESC, t LIMIT 1000),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM counts),
      |sc AS (
      |  SELECT tok.doc_id, ln(coalesce(vocab.cnt, 0.5) / (SELECT n FROM tot)) AS lp
      |  FROM tok LEFT JOIN vocab ON tok.t = vocab.t),
      |lp AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |    floor(avg(lp) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS avg_logp
      |  FROM sc GROUP BY doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "corpus_source_overlap" ->
      """WITH t AS (
        |  SELECT source, string_split(text, ' ') AS ts FROM documents),
        |g AS (
        |  SELECT DISTINCT source,
        |    unnest(list_distinct([md5(array_to_string(ts[i:i+2], ' ')) for i in range(1, len(ts) - 1)])) AS gh
        |  FROM t WHERE len(ts) >= 3),
        |tot AS (SELECT source, count(*) AS n_grams FROM g GROUP BY 1),
        |p AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
        |  FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_common, ta.n_grams AS n_a, tb.n_grams AS n_b,
        |  floor(n_common / CAST(least(ta.n_grams, tb.n_grams) AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS containment,
        |  floor(n_common / CAST(ta.n_grams + tb.n_grams - n_common AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS jaccard
        |FROM p JOIN tot ta ON p.source_a = ta.source JOIN tot tb ON p.source_b = tb.source
        |ORDER BY source_a, source_b""".stripMargin,
    "corpus_gini" ->
      """WITH t AS (
        |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |r AS (
        |  SELECT source, tok,
        |    row_number() OVER (PARTITION BY source ORDER BY tok, doc_id) AS rank
        |  FROM t),
        |g AS (
        |  SELECT source, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS total_tokens,
        |    CAST(sum(rank * tok) AS BIGINT) AS rank_mass
        |  FROM r GROUP BY 1)
        |SELECT source, n_docs, total_tokens,
        |  floor((2.0 * rank_mass / (n_docs * CAST(total_tokens AS DOUBLE))
        |    - (n_docs + 1) / CAST(n_docs AS DOUBLE)) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS gini
        |FROM g ORDER BY source""".stripMargin,
    "corpus_drift" ->
      """WITH b AS (
        |  SELECT source, n_chars // 100 AS bucket FROM documents),
        |obs AS (SELECT source, bucket, count(*) AS obs FROM b GROUP BY 1, 2),
        |corpus AS (SELECT bucket, count(*) AS bucket_total FROM b GROUP BY 1),
        |totals AS (SELECT source, count(*) AS source_total FROM b GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM b),
        |j AS (
        |  SELECT o.source, o.bucket, o.obs, c.bucket_total, t.source_total,
        |    floor(c.bucket_total * t.source_total / CAST(n_docs AS DOUBLE) * 10000 + 0.5)
        |      / CAST(10000 AS DOUBLE) AS exp_docs
        |  FROM obs o JOIN corpus c USING (bucket) JOIN totals t USING (source), n)
        |SELECT source, bucket, obs, bucket_total, source_total, exp_docs,
        |  floor((obs - exp_docs) * (obs - exp_docs) / exp_docs * 10000 + 0.5)
        |    / CAST(10000 AS DOUBLE) AS chi2_part
        |FROM j ORDER BY source, bucket""".stripMargin,
    "corpus_gopher_gate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |base AS (SELECT doc_id, len(ws) AS n, len(list_distinct(ws)) AS d, ws FROM t),
        |big AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) >= 2 THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
        |         ELSE [] END AS gs
        |  FROM t),
        |tb AS (
        |  SELECT doc_id,
        |    coalesce(list_max(list_transform(list_distinct(gs), q -> len(list_filter(gs, x -> x = q)))), 0) AS tbc,
        |    len(gs) AS ng
        |  FROM big),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
        |tc AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY 1, 2),
        |ent AS (
        |  SELECT doc_id, floor((ln(sum(c)) - sum(c * ln(c)) / sum(c)) * 10000 + 0.5)
        |    / CAST(10000 AS DOUBLE) AS ent
        |  FROM tc GROUP BY 1),
        |occ AS (
        |  SELECT doc_id,
        |    unnest([i for i in range(1, len(ws) - 1)]) AS pos,
        |    unnest([md5(array_to_string(ws[i:i+2], ' ')) for i in range(1, len(ws) - 1)]) AS gh
        |  FROM t WHERE len(ws) >= 3),
        |dup AS (
        |  SELECT * FROM (
        |    SELECT doc_id, pos, gh, count(*) OVER (PARTITION BY doc_id, gh) AS cnt FROM occ) x
        |  WHERE cnt >= 2),
        |cov AS (
        |  SELECT doc_id, count(DISTINCT wpos) AS nc
        |  FROM (SELECT doc_id, unnest(range(pos, pos + 3)) AS wpos FROM dup) x GROUP BY 1),
        |f AS (
        |  SELECT b.doc_id,
        |    CASE WHEN b.n < 20 OR b.n > 90 THEN 1 ELSE 0 END AS f1,
        |    CASE WHEN 100 * (b.n - b.d) > 65 * b.n THEN 1 ELSE 0 END AS f2,
        |    CASE WHEN tb.ng > 0 AND 100 * tb.tbc > 8 * tb.ng THEN 1 ELSE 0 END AS f3,
        |    CASE WHEN ent.ent < 2.4 THEN 1 ELSE 0 END AS f4,
        |    CASE WHEN coalesce(cov.nc, 0) * 20 > b.n THEN 1 ELSE 0 END AS f5
        |  FROM base b JOIN tb USING (doc_id) JOIN ent USING (doc_id) LEFT JOIN cov USING (doc_id))
        |SELECT rule, n_checked, n_fail, n_checked - n_fail AS n_pass FROM (
        |  SELECT 'r1_word_count' AS rule, count(*) AS n_checked, CAST(sum(f1) AS BIGINT) AS n_fail FROM f
        |  UNION ALL SELECT 'r2_dup_ratio', count(*), CAST(sum(f2) AS BIGINT) FROM f
        |  UNION ALL SELECT 'r3_top_bigram', count(*), CAST(sum(f3) AS BIGINT) FROM f
        |  UNION ALL SELECT 'r4_entropy', count(*), CAST(sum(f4) AS BIGINT) FROM f
        |  UNION ALL SELECT 'r5_dup_3gram', count(*), CAST(sum(f5) AS BIGINT) FROM f
        |  UNION ALL SELECT 'r6_all_rules', count(*),
        |    CAST(sum(CASE WHEN f1 + f2 + f3 + f4 + f5 > 0 THEN 1 ELSE 0 END) AS BIGINT) FROM f) u
        |ORDER BY rule""".stripMargin,
    "tok_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |v AS (
        |  SELECT w, 1 AS in_vocab FROM (
        |    SELECT w, count(*) AS cnt FROM tok GROUP BY w
        |    ORDER BY cnt DESC, w LIMIT 20) c)
        |SELECT source, count(*) AS n_tokens,
        |  count(CASE WHEN v.in_vocab IS NULL THEN 1 END) AS n_oov,
        |  round(count(CASE WHEN v.in_vocab IS NULL THEN 1 END) / CAST(count(*) AS DOUBLE), 4) AS oov_rate,
        |  count(DISTINCT CASE WHEN v.in_vocab IS NULL THEN tok.w END) AS n_oov_types
        |FROM tok LEFT JOIN v ON tok.w = v.w
        |GROUP BY source ORDER BY source""".stripMargin,
    "sample_split" ->
      """WITH d AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'fa' THEN 'train'
        |         WHEN md5(CAST(doc_id AS VARCHAR)) < 'fd' THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, source, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens,
        |  floor(count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE) * 10000 + 0.5)
        |    / CAST(10000 AS DOUBLE) AS doc_share
        |FROM d GROUP BY split, source ORDER BY split, source""".stripMargin,
    "tok_merge_apply" ->
      """WITH wds AS (
        |  SELECT w FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE len(w) >= 2),
        |top AS (
        |  SELECT pair AS merge FROM (
        |    SELECT unnest([substr(w, i, 1) || ' ' || substr(w, i + 1, 1)
        |                   for i in range(1, len(w))]) AS pair
        |    FROM wds) p
        |  GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 1),
        |sym AS (
        |  SELECT array_to_string([substr(w, i, 1) for i in range(1, len(w) + 1)], ' ') AS sym
        |  FROM wds),
        |m AS (
        |  SELECT string_split(replace(sym, (SELECT merge FROM top),
        |    replace((SELECT merge FROM top), ' ', '')), ' ') AS l
        |  FROM sym),
        |p2 AS (SELECT unnest([l[i] || ' ' || l[i + 1] for i in range(1, len(l))]) AS pair FROM m)
        |SELECT (SELECT merge FROM top) AS merge, pair, count(*) AS n
        |FROM p2 GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "tok_pair_counts" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (
        |  SELECT unnest([substr(w, i, 1) || ' ' || substr(w, i + 1, 1)
        |                 for i in range(1, len(w))]) AS pair
        |  FROM w WHERE len(w) >= 2)
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "corpus_mix_plan" ->
      """WITH a AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens,
        |    CAST(ascii(right(source, 1)) % 4 + 1 AS DOUBLE) AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(w) AS w_tot, CAST(sum(avail_tokens) / 2 AS DOUBLE) AS budget FROM a),
        |p AS (
        |  SELECT source, avail_tokens,
        |    floor(w / w_tot * 1e6 + 0.5) / 1e6 AS target_share,
        |    CAST(floor(w / w_tot * budget) AS BIGINT) AS target_tokens
        |  FROM a CROSS JOIN t)
        |SELECT source, avail_tokens, target_share, target_tokens,
        |  floor(least(1.0, target_tokens / CAST(avail_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS sample_rate,
        |  CAST(ceil(target_tokens / CAST(avail_tokens AS DOUBLE)) AS BIGINT) AS n_epochs,
        |  greatest(0, target_tokens - avail_tokens) AS shortfall_single_epoch
        |FROM p ORDER BY source""".stripMargin,
    "text_logprob" ->
      s"""WITH $logprobCte
        |SELECT doc_id, n_tokens, avg_logp FROM lp ORDER BY doc_id""".stripMargin,
    "text_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |dbg AS (
        |  SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2, count(*) AS k FROM (
        |    SELECT doc_id, unnest([{'w1': ts[i], 'w2': ts[i + 1]} for i in range(1, len(ts))]) AS bg
        |    FROM t)
        |  GROUP BY 1, 2, 3),
        |c12 AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12 FROM dbg GROUP BY 1, 2),
        |uni AS (SELECT w, count(*) AS cw FROM (SELECT unnest(ts) AS w FROM t) GROUP BY 1),
        |nn AS (SELECT CAST(sum(cw) AS BIGINT) AS n FROM uni)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |  floor(sum(k * ln(0.8 * c12 / c1 + 0.2 * c2 / n)) / sum(k) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS avg_logp
        |FROM (
        |  SELECT d.doc_id, d.k, c.c12, u1.cw AS c1, u2.cw AS c2, nn.n
        |  FROM dbg d
        |  JOIN c12 c ON d.w1 = c.w1 AND d.w2 = c.w2
        |  JOIN uni u1 ON d.w1 = u1.w
        |  JOIN uni u2 ON d.w2 = u2.w
        |  CROSS JOIN nn) j
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "sample_weighted" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 1) / CAST(281474976710656 AS DOUBLE) AS u
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, n_tokens, ln(u) / n_tokens AS key,
        |    row_number() OVER (PARTITION BY source ORDER BY ln(u) / n_tokens DESC, doc_id) AS rnk
        |  FROM d)
        |SELECT source, rnk, doc_id, n_tokens,
        |  floor(key * 1000000 + 0.5) / CAST(1000000 AS DOUBLE) AS priority
        |FROM r WHERE rnk <= 10 ORDER BY source, rnk""".stripMargin,
    "corpus_ppl_buckets" ->
      s"""WITH $logprobCte,
        |j AS (
        |  SELECT d.lang, lp.doc_id, lp.n_tokens, lp.avg_logp
        |  FROM lp JOIN documents d ON lp.doc_id = d.doc_id),
        |b AS (
        |  SELECT *, ntile(3) OVER (PARTITION BY lang ORDER BY avg_logp DESC, doc_id) AS bucket_id
        |  FROM j)
        |SELECT lang, bucket_id,
        |  CASE bucket_id WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(avg_logp) AS lo_logp, max(avg_logp) AS hi_logp,
        |  floor(avg(avg_logp) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS mean_logp
        |FROM b GROUP BY 1, 2, 3 ORDER BY lang, bucket_id""".stripMargin,
    "sample_temp" ->
      """WITH s AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_docs, n_tokens, pow(n_tokens, 0.7) AS raw FROM s)
        |SELECT lang, n_docs, n_tokens,
        |  floor(raw / (SELECT sum(raw) FROM w) * 1e6 + 0.5) / 1e6 AS weight,
        |  CAST(floor(raw / (SELECT sum(raw) FROM w) * 10000 + 0.5) AS BIGINT) AS n_target
        |FROM w ORDER BY lang""".stripMargin,
    "text_decontaminate" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
        |     ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7]
        |     for i in range(1, len(ts) - 6)])) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t
        |  WHERE len(ts) >= 8),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
        |co AS (
        |  SELECT g.doc_id, CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM g LEFT JOIN ev ON g.g = ev.g
        |  WHERE g.doc_id % 7 <> 0),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_grams, CAST(sum(hit) AS BIGINT) AS n_shared
        |  FROM co GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_shared,
        |  floor(n_shared / CAST(n_grams AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS rate
        |FROM agg WHERE n_shared > 0 ORDER BY doc_id""".stripMargin,
    "corpus_funnel" ->
      s"""WITH RECURSIVE ${Dedup.minhashPairsCte},
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id),
        |dupes AS (
        |  SELECT id AS doc_id FROM (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
        |  WHERE id <> cluster_id),
        |f AS (
        |  SELECT lang = 'en' AS f1,
        |    n_chars BETWEEN 150 AND 500 AS f2,
        |    dp.doc_id IS NULL AS f3,
        |    md5(CAST(d.doc_id AS VARCHAR)) < '8' AS f4
        |  FROM documents d LEFT JOIN dupes dp ON d.doc_id = dp.doc_id)
        |SELECT stage, n_docs FROM (
        |  SELECT 's0_total' AS stage, count(*) AS n_docs FROM f
        |  UNION ALL SELECT 's1_lang_en', CAST(sum(CAST(f1 AS INT)) AS BIGINT) FROM f
        |  UNION ALL SELECT 's2_length', CAST(sum(CAST(f1 AND f2 AS INT)) AS BIGINT) FROM f
        |  UNION ALL SELECT 's3_dedup', CAST(sum(CAST(f1 AND f2 AND f3 AS INT)) AS BIGINT) FROM f
        |  UNION ALL SELECT 's4_sample', CAST(sum(CAST(f1 AND f2 AND f3 AND f4 AS INT)) AS BIGINT) FROM f) u
        |ORDER BY stage""".stripMargin,
    "emb_assign" ->
      """WITH cent AS (
        |  SELECT label AS c_label, CAST(i AS BIGINT) AS dim,
        |    round(avg(CAST(embedding[i] AS DOUBLE)), 4) + 0.0 AS centroid
        |  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
        |  GROUP BY label, dim),
        |carr AS (SELECT c_label, list(centroid ORDER BY dim) AS c_vec FROM cent GROUP BY c_label),
        |v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings),
        |sc AS (
        |  SELECT v.vec_id, v.label, c.c_label,
        |    list_sum([v.v[i] * c.c_vec[i] for i in range(1, len(v.v) + 1)]) /
        |    (sqrt(list_sum([x * x for x in v.v])) * sqrt(list_sum([x * x for x in c.c_vec]))) AS cos
        |  FROM v, carr c),
        |r AS (SELECT vec_id, label, c_label,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label) AS rn
        |      FROM sc)
        |SELECT label, c_label AS assigned, count(*) AS n_vecs
        |FROM r WHERE rn = 1
        |GROUP BY label, assigned ORDER BY label, assigned""".stripMargin,
    "tok_shard_plan" ->
      """SELECT shard_id, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens FROM (
        |  SELECT doc_id, tok,
        |    CAST(floor((CAST(sum(tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - tok)
        |      / 4096.0) AS BIGINT) AS shard_id
        |  FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |        FROM documents) t) p
        |GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "corpus_stats" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
        |  round(quantile_cont(n_chars, 0.95), 4) AS p95_chars
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    "dedup_survivors" ->
      s"""WITH RECURSIVE ${Dedup.minhashPairsCte},
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id),
        |members AS (
        |  SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id),
        |ranked AS (
        |  SELECT m.cluster_id, m.doc_id, d.source,
        |    row_number() OVER (PARTITION BY m.cluster_id ORDER BY d.source, m.doc_id) AS rk
        |  FROM members m JOIN documents d USING (doc_id))
        |SELECT cluster_id,
        |  min(CASE WHEN rk = 1 THEN doc_id END) AS survivor_doc_id,
        |  min(CASE WHEN rk = 1 THEN source END) AS survivor_source,
        |  CAST(count(*) - 1 AS BIGINT) AS n_dropped
        |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE ${Dedup.minhashPairsCte},
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id),
        |members AS (
        |  SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id),
        |labeled AS (
        |  SELECT d.doc_id, coalesce(m.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN members m ON d.doc_id = m.doc_id),
        |sizes AS (SELECT cluster_id, count(*) AS size FROM labeled GROUP BY 1)
        |SELECT size, count(*) AS n_clusters, size * count(*) AS n_docs
        |FROM sizes GROUP BY size ORDER BY size""".stripMargin,
    "dedup_semantic_rate" ->
      s"""WITH ${Dedup.embedPairsCte},
        |ids AS (
        |  SELECT vec_a AS vec_id FROM epairs
        |  UNION
        |  SELECT vec_b FROM epairs)
        |SELECT d.source, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_dups,
        |  floor(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS dup_rate
        |FROM documents d LEFT JOIN ids i ON d.doc_id = i.vec_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "dedup_semantic_clusters" ->
      s"""WITH RECURSIVE ${Dedup.embedPairsCte},
        |edges AS (
        |  SELECT vec_a AS src, vec_b AS dst FROM epairs
        |  UNION ALL SELECT vec_b, vec_a FROM epairs),
        |reach(id, lab) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id),
        |members AS (
        |  SELECT id AS vec_id, min(lab) AS cluster_id FROM reach GROUP BY id)
        |SELECT cluster_id, vec_id, n_vecs
        |FROM members JOIN (SELECT cluster_id, count(*) AS n_vecs FROM members GROUP BY 1) c
        |  USING (cluster_id)
        |ORDER BY cluster_id, vec_id""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE ${Dedup.minhashPairsCte},
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id),
        |members AS (
        |  SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id)
        |SELECT cluster_id, doc_id, n_docs
        |FROM members JOIN (SELECT cluster_id, count(*) AS n_docs FROM members GROUP BY 1) c
        |  USING (cluster_id)
        |ORDER BY cluster_id, doc_id""".stripMargin,
    "sample_stratified" ->
      """SELECT source, lang, n_total, n_sampled,
        |  floor(n_sampled / CAST(n_total AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS rate
        |FROM (
        |  SELECT source, lang, count(*) AS n_total,
        |    CAST(sum(CAST(md5(CAST(doc_id AS VARCHAR)) < (CASE WHEN lang = 'en' THEN '4' ELSE '8' END) AS INT)) AS BIGINT) AS n_sampled
        |  FROM documents GROUP BY source, lang) t
        |ORDER BY source, lang""".stripMargin,
    "pack_sequences" ->
      """SELECT source, chunk_id, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens FROM (
        |  SELECT source, doc_id, tok,
        |    (CAST(sum(tok) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - tok) // 2048 AS chunk_id
        |  FROM (SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents) t) p
        |GROUP BY source, chunk_id ORDER BY source, chunk_id""".stripMargin,
    "text_chunks" ->
      """WITH d AS (
        |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |nc AS (
        |  SELECT *, CASE WHEN n_tok <= 32 THEN 1
        |    ELSE CAST(ceil((n_tok - 32) / 24.0) AS BIGINT) + 1 END AS n_chunks FROM d),
        |ch AS (
        |  SELECT source, doc_id, n_tok,
        |    i * 24 AS start_tok, least(i * 24 + 32, n_tok) AS end_tok
        |  FROM nc, LATERAL (SELECT unnest(range(0, n_chunks)) AS i) t)
        |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
        |  CAST(sum(end_tok - start_tok) AS BIGINT) AS total_chunk_tokens,
        |  CAST(sum(CASE WHEN end_tok - start_tok < 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_tail_chunks,
        |  CAST(sum(end_tok - start_tok) - sum(CASE WHEN start_tok = 0 THEN n_tok ELSE 0 END) AS BIGINT) AS overlap_tokens
        |FROM ch GROUP BY source ORDER BY source""".stripMargin,
    "text_boilerplate" ->
      """SELECT ngram, df FROM (
        |  SELECT ngram, count(*) AS df FROM (
        |    SELECT doc_id, unnest(list_distinct(
        |      [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]
        |       for i in range(1, len(ts) - 3)])) AS ngram
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t
        |    WHERE len(ts) >= 5) g
        |  GROUP BY ngram) d
        |WHERE df >= 3 ORDER BY df DESC, ngram""".stripMargin,
    "emb_centroids" ->
      """SELECT label, CAST(i AS BIGINT) AS dim, round(avg(CAST(embedding[i] AS DOUBLE)), 4) + 0.0 AS centroid
        |FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin)
}
