package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for pipeline curation: language ID,
  * quality scoring, token counting, and winnowing-style document
  * fingerprinting — single-pass narrow scans over `documents` behind
  * a [[Tables.spread]], so throughput is scan-bound at any scale.
  * Word n-grams come from the native `graft_shingles` /
  * `graft_shingle_md5` kernels and sorts from the compiled
  * `sort_array`; the remaining per-row higher-order functions are
  * short filters and folds.
  */
object TextAnalysis {

  /** N-gram/stopword-profile language ID: per-language marker-word
    * hit counts, argmax with deterministic tie-break order. On this
    * synthetic corpus it demonstrates the operator shape; real
    * profiles drop in as literal arrays the same way.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val markers = Map(
      "en" -> Seq("the", "fast", "join", "query"),
      "de" -> Seq("table", "row", "group"),
      "es" -> Seq("data", "line", "part"),
      "fr" -> Seq("sort", "merge", "filter"),
      "zh" -> Seq("spark", "hash", "scan"))
    val scoreCols = markers.toSeq.sortBy(_._1).map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"size(filter(ts, t -> t IN ($inList))) AS s_$l"
    }
    val langs = markers.keys.toSeq.sorted
    val maxExpr = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val caseExpr = langs.map(l => s"WHEN s_$l = mx THEN '$l'").mkString(
      "CASE ", " ", " END")
    Tables.spread(Tables.documents(s, dir))
      .selectExpr(Seq("doc_id", "lang", "split(text, ' ') AS ts") ++ scoreCols: _*)
      .withColumn("mx", expr(maxExpr))
      .selectExpr("doc_id", "lang AS labeled_lang", s"$caseExpr AS predicted_lang", "mx AS score")
      .withColumn("agrees", col("labeled_lang") === col("predicted_lang"))
  }

  /** Classifier evaluation at corpus scale: the language-ID
    * heuristic's confusion matrix against the labeled lang column —
    * the accuracy report every production classifier ships with.
    * Composes [[langId]] with one vocab-sized rollup; the expensive
    * scoring pass is shared, the extra shuffle carries ≤ langs²
    * rows.
    */
  def langIdEval(s: SparkSession, dir: String): DataFrame =
    langId(s, dir)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** Quality scoring: token stats, stopword/duplication ratios and a
    * composite [0,1] quality signal (documents with heavy repetition
    * or extreme length score low) — the curation-filter shape.
    */
  def quality(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id", "n_chars", "split(text, ' ') AS ts")
      .selectExpr("doc_id", "n_chars",
        "size(ts) AS n_tokens",
        "n_chars / cast(size(ts) AS double) AS atl_raw",
        "size(filter(ts, t -> t IN ('the', 'a'))) / cast(size(ts) AS double) AS swr_raw",
        "1.0 - size(array_distinct(ts)) / cast(size(ts) AS double) AS dr_raw")
      // These ratios are small-denominator rationals that regularly
      // land on 4dp rounding boundaries, where Spark (decimal-string
      // HALF_UP) and DuckDB (binary) round() disagree. floor-based
      // rounding is identical double arithmetic in both engines.
      .selectExpr("doc_id", "n_chars", "n_tokens",
        "floor(atl_raw * 10000 + 0.5) / cast(10000 AS double) AS avg_token_len",
        "floor(swr_raw * 10000 + 0.5) / cast(10000 AS double) AS stopword_ratio",
        "floor(dr_raw * 10000 + 0.5) / cast(10000 AS double) AS dup_ratio",
        """floor((CASE WHEN n_tokens < 5 THEN 0.1 ELSE 1.0 END *
          |      (1.0 - dr_raw) * (1.0 - least(swr_raw * 2, cast(0.5 AS double)))) * 10000 + 0.5) / cast(10000 AS double) AS quality""".stripMargin)

  /** Token counting: whitespace tokens and a BPE-ish subword count
    * (alpha runs, digit runs, and isolated symbols).
    */
  def tokens(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id",
        "size(split(text, ' ')) AS n_ws_tokens",
        """size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS n_bpe_tokens""",
        "length(text) AS n_chars_measured")

  /** Winnowing-style fingerprint: md5 over the 4 lexicographically
    * smallest word-4-gram hashes — stable under small edits, the
    * copy-detection primitive (Schleimer et al. MOSS shape).
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id", "split(text, ' ') AS ts")
      .where("size(ts) >= 4")
      .selectExpr("doc_id",
        "sort_array(graft_shingle_md5(ts, 4)) AS h")
      .selectExpr("doc_id",
        "md5(concat_ws('', slice(h, 1, 4))) AS fingerprint",
        "size(h) AS n_shingles")
  }

  /** Blocklist-term redaction — the PII-scrubbing shape (emails,
    * phone numbers, ids) with a term blocklist standing in for PII
    * patterns, since the synthetic corpus contains no digits or
    * addresses. The plumbing is the real thing: a single codegen'd
    * regexp pass per document (count + global replace), row-local so
    * it parallelizes with the scan; the redacted text is content-
    * hashed rather than materialized in the result. Swapping the
    * pattern for an email/phone alternation changes nothing else.
    */
  def redact(s: SparkSession, dir: String): DataFrame = {
    val pat = "\\b(customer|value|table)\\b"
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("bigint").as("n_hits"),
        md5(regexp_replace(col("text"), pat, "[MASK]")).as("redacted_md5"))
  }

  /** Per-document unigram Shannon entropy — the Gopher-style "low
    * entropy = repetitive junk" signal. H = ln N − (Σ c·ln c)/N over
    * the doc's token counts; two partial-aggregated shuffles, both
    * keyed by doc_id (the second piggybacks on the first's
    * partitioning — no extra exchange in the plan).
    */
  def entropy(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum(col("c") * log(col("c"))).as("clc"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (floor((log(col("n_tokens")) - col("clc") / col("n_tokens")) * 10000 + 0.5) / lit(10000.0))
          .as("entropy"))

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1): the
    * most-frequent word's count and the most-frequent bigram's count
    * against the doc's totals — the "top-ngram coverage" filters that
    * catch boilerplate [[quality]]'s set-based dup_ratio misses (a
    * doc repeating one phrase has low distinct-ratio loss but huge
    * top-bigram coverage). All counts stay integers: the ratio
    * thresholds belong to the consumer, and integer outputs dodge
    * the decimal-rounding-boundary parity trap entirely. Row-local —
    * no explode, no shuffle — and O(n log n) per document: sort the
    * grams, then ONE run-length scan finds the longest run (= the top
    * gram's count), its gram, and the run count (= distinct grams).
    * The r4 form counted each distinct gram against the whole array —
    * O(distinct × len) ≈ O(len²) per doc, twice, plus a third re-scan
    * for the argmax word; on a web corpus a single 100k-token outlier
    * made one row a 10¹⁰-op straggler. Scanning ascending and keeping
    * the first strictly-greater run reproduces the old tie-break
    * (lexicographically smallest among equally-frequent grams)
    * exactly.
    */
  private[operators] def runLen(arr: String): String =
    s"""aggregate(sort_array($arr),
       |  named_struct('prev', cast(null as string), 'cur', 0, 'best', 0,
       |               'bw', cast(null as string), 'runs', 0),
       |  (a, x) -> named_struct(
       |    'prev', x,
       |    'cur', IF(a.prev <=> x, a.cur + 1, 1),
       |    'best', IF(IF(a.prev <=> x, a.cur + 1, 1) > a.best,
       |               IF(a.prev <=> x, a.cur + 1, 1), a.best),
       |    'bw', IF(IF(a.prev <=> x, a.cur + 1, 1) > a.best, x, a.bw),
       |    'runs', a.runs + IF(a.prev <=> x, 0, 1)),
       |  a -> named_struct('best', a.best, 'bw', a.bw, 'runs', a.runs))""".stripMargin

  def repetition(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      // a one-word doc has no bigrams: graft_shingles yields []
      .selectExpr("doc_id", "ws", "graft_shingles(ws, 2) AS gs")
      .selectExpr("doc_id", "ws", "gs",
        s"${runLen("ws")} AS wtop", s"${runLen("gs")} AS gtop")
      .selectExpr("doc_id",
        "size(ws) AS n_words",
        "wtop.runs AS n_distinct_words",
        "wtop.best AS top_word_count",
        "wtop.bw AS top_word",
        "size(gs) AS n_bigrams",
        "gtop.runs AS n_distinct_bigrams",
        "gtop.best AS top_bigram_count")
  }

  /** Duplicate-3-gram coverage (the other half of Gopher's repetition
    * battery, Rae et al. 2021 §A1.1 — the "fraction of characters in
    * duplicate n-grams" filters): [[repetition]] reports the TOP
    * n-gram's coverage; this reports how much of the document is
    * covered by ALL word-3-grams occurring more than once in it —
    * counting each word position once even when overlapping duplicate
    * grams cover it twice (the paper's "fraction of characters in
    * duplicated n-grams", in word units so every output stays an
    * exact integer). A high covered fraction with a low top-gram
    * count is the "many different repeated phrases" boilerplate shape
    * the top-gram filter misses.
    *
    * Scale design: deliberately NOT a row-local O(len²) HOF (the
    * exact shape the r5 text_repetition rewrite removed) — gram
    * occurrences explode to (doc_id, gh) rows, the dup test is one
    * window count over that key, and coverage is a distinct-count of
    * exploded span positions keyed by doc_id. Both shuffle keys are
    * uniform; a 100k-token outlier doc costs O(len log len) spread
    * over the cluster, never len² on one core.
    */
  def dupCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.Native.register(s)
    val docs = Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id", "split(text, ' ') AS ts")
      .where("size(ts) >= 3")
      .selectExpr("doc_id", "cast(size(ts) AS bigint) AS n_words",
        "graft_shingle_md5(ts, 3) AS ghs")
    val base = docs.select(col("doc_id"), col("n_words"))
    val occ = docs
      .select(col("doc_id"), posexplode_outer(col("ghs")).as(Seq("p0", "gh")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gh"))
    val dup = occ
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("doc_id"), col("gh"))))
      .filter(col("cnt") >= 2)
    // Single consumer of the window tree (r6 shipped two: a stats
    // groupBy AND a coverage groupBy, so the exploded-gram projection
    // and the (doc_id, gh) count window each evaluated twice — sh:8).
    // Every statistic reads off ONE span-exploded frame: each dup
    // occurrence contributes exactly 3 (gh, wpos) span rows, so
    // occurrences = rows/3, dup grams = distinct gh, coverage =
    // distinct wpos — one window, one aggregate, half the work.
    val agg = dup
      .select(col("doc_id"), col("gh"),
        explode(sequence(col("pos"), col("pos") + 2)).as("wpos"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gh")).as("n_dup_grams"),
        (count(lit(1)) / 3).cast("long").as("n_dup_occurrences"),
        countDistinct(col("wpos")).as("n_words_covered"))
    base.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_dup_occurrences"), lit(0L)).as("n_dup_occurrences"),
        coalesce(col("n_words_covered"), lit(0L)).as("n_words_covered"))
  }

  /** Per-document character-class profile — the C4-style page
    * preconditions (Raffel et al. 2020 filter pages on punctuation /
    * alphabetic-character ratios before any model-based scoring):
    * counts of alphabetic, digit, whitespace, punctuation and other
    * characters, all exact integers from one codegen'd
    * regexp_extract_all pass per class, row-local with the scan.
    * Ratio thresholds belong to the consumer.
    */
  def charClasses(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id",
        "length(text) AS n_chars_total",
        "size(regexp_extract_all(text, '[a-zA-Z]', 0)) AS n_alpha",
        "size(regexp_extract_all(text, '[0-9]', 0)) AS n_digit",
        "size(regexp_extract_all(text, ' ', 0)) AS n_space",
        "size(regexp_extract_all(text, '[.,;:!?]', 0)) AS n_punct")
      .selectExpr("doc_id", "n_chars_total", "n_alpha", "n_digit", "n_space", "n_punct",
        "n_chars_total - n_alpha - n_digit - n_space - n_punct AS n_other")

  /** Tokenizer fertility per corpus stratum — chars-per-token and
    * subwords-per-word for the BPE-ish tokenization of [[tokens]],
    * the efficiency card that decides tokenizer/vocab fit per
    * language and source (fertility regressions are how bad
    * segmentation of a new language shows up in practice). One
    * partial-aggregated rollup on the bounded (source, lang) key.
    */
  def fertility(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .selectExpr("source", "lang", "length(text) AS nc",
        "size(split(text, ' ')) AS nw",
        "size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS nt")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("nw")).as("n_words"),
        sum(col("nt")).as("n_tokens"))
      .withColumn("chars_per_token",
        floor(col("n_chars") / col("n_tokens").cast("double") * 10000 + 0.5) / lit(10000.0))
      .withColumn("tokens_per_word",
        floor(col("n_tokens") / col("n_words").cast("double") * 10000 + 0.5) / lit(10000.0))

  /** Per-document TF-IDF keywords — the retrieval/data-card shape
    * ("what is this document about"): term frequency per (doc, word),
    * document frequency over the corpus, score = tf · ln(N/df)
    * rounded to 4 dp BEFORE ranking (so the rank comparison is on
    * values both engines agree on bit-for-bit), top-3 per doc with a
    * word tie-break.
    *
    * Scale: one (doc_id, word) shuffle for tf; df and the 1-row doc
    * count are vocabulary-sized rollups broadcast back; the top-k
    * window partitions by doc_id. No corpus-sized global sort or
    * cartesian anywhere.
    */
  def keywords(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.spread(Tables.documents(s, dir))
    // tf feeds BOTH the document-frequency rollup and the scoring
    // join; both read its (doc, word) exchange, reused within the
    // query, so the explode + groupBy evaluate once (r6 plan: sh 9).
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(broadcast(df), Seq("word"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        floor(col("tf") * log(col("n_docs").cast("double") / col("df")) * 10000 + 0.5) / lit(10000.0))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("word"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("word"), col("tf"), col("df"), col("score"))
  }

  /** Zipf rank-frequency fit per source: word frequencies ranked
    * (freq desc, word asc), then an OLS slope/intercept of
    * ln(freq) ~ ln(rank). A natural corpus follows slope ≈ -1;
    * machine-generated or template-heavy sources flatten (slope near
    * 0) or cliff (steeper than -1.3) — the standard corpus-health
    * fingerprint a data-quality dashboard tracks per ingest source.
    * Cites the reference's per-source statistics rollup shape
    * (mcp/tools_analysis.go statistics cards); the Zipf fit itself is
    * the LLM-pipeline extension mandate.
    *
    * Scale: one (source, word) shuffle for the frequency table, then
    * the rank window and the regression both run on the
    * vocabulary-sized frame partitioned by source — the corpus-sized
    * explode never re-shuffles. `regr_slope`/`regr_intercept` are
    * built-in declarative aggregates (partial-aggregated, codegen'd);
    * no driver-side math.
    */
  def zipf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.spread(Tables.documents(s, dir))
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("source")).orderBy(col("freq").desc, col("word"))
    freq.withColumn("rank", row_number().over(w))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_vocab"),
        sum(col("freq")).as("n_tokens"),
        (floor(expr("regr_slope(ln(freq), ln(rank))") * 10000 + 0.5) / 10000.0).as("zipf_slope"),
        (floor(expr("regr_intercept(ln(freq), ln(rank))") * 10000 + 0.5) / 10000.0).as("zipf_intercept"))
  }

  /** N-gram novelty curve: for each document (in doc_id ingest
    * order), the fraction of its distinct trigrams never seen in any
    * earlier document. The classic diminishing-returns measurement
    * for corpus growth — when marginal novelty flattens, more data
    * from that source stops adding information. Trigrams travel as
    * md5 hashes (16 bytes, not the raw strings) so the shuffle width
    * is bounded.
    *
    * Scale: one gram-keyed groupBy computes each gram's first
    * document (min doc_id — partial-aggregated map-side), one join
    * back to the exploded grams, one doc-keyed rollup. All keys are
    * uniformly distributed hashes; nothing is corpus-quadratic.
    */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val grams = Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id", "split(text, ' ') AS ts")
      .where("size(ts) >= 3")
      .selectExpr("doc_id",
        "explode(array_distinct(graft_shingle_md5(ts, 3))) AS gh")
      // feeds both the first-occurrence rollup and the join-back:
      // spread on the gram, the rollup needs no exchange of its own
      // and the join-back reuses this one, so the explode runs once
      .transform(Tables.spread(_, col("gh")))
    val first = grams.groupBy(col("gh")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "gh")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", floor(col("n_novel") / col("n_grams").cast("double") * 10000 + 0.5) / 10000.0)
  }

  /** Flesch–Kincaid readability grade per document — the classic
    * surface-statistics quality score (words per sentence, syllables
    * per word) a corpus pipeline computes before any model-based
    * scorer runs. Sentences are [.!?]+ runs (min 1 so headline-only
    * docs don't divide by zero); syllables are approximated by vowel
    * groups over the lowercased text — the standard cheap estimator,
    * applied at document level so it is one codegen regexp pass, not
    * a per-word loop. The banding thresholds are the usual
    * grade-school cut points.
    *
    * Scale: entirely row-local with the scan (three regexp/split
    * passes per document, integer outputs); its only exchange is the
    * [[Tables.spread]] fan-out. The grade formula runs on integers in
    * identical textual order in both engines, so the 4dp floor agrees
    * exactly.
    */
  def readability(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id",
        "size(split(text, ' ')) AS n_words",
        "greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1) AS n_sentences",
        "size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS n_syllables")
      .where("n_words >= 1")
      .selectExpr("doc_id",
        "cast(n_words AS bigint) AS n_words",
        "cast(n_sentences AS bigint) AS n_sentences",
        "cast(n_syllables AS bigint) AS n_syllables",
        """floor((0.39 * n_words / cast(n_sentences AS double)
          |  + 11.8 * n_syllables / cast(n_words AS double) - 15.59) * 10000 + 0.5)
          |  / cast(10000 AS double) AS fk_grade""".stripMargin)
      .selectExpr("doc_id", "n_words", "n_sentences", "n_syllables", "fk_grade",
        """CASE WHEN fk_grade < 8 THEN 'accessible'
          |     WHEN fk_grade < 12 THEN 'standard'
          |     ELSE 'advanced' END AS band""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_readability" -> readability,
    "text_zipf" -> zipf,
    "text_ngram_novelty" -> ngramNovelty,
    "text_keywords" -> keywords,
    "text_repetition" -> repetition,
    "text_langid" -> langId,
    "text_langid_eval" -> langIdEval,
    "text_quality" -> quality,
    "text_tokens" -> tokens,
    "text_redact" -> redact,
    "text_entropy" -> entropy,
    "text_fingerprint" -> fingerprint,
    "text_dup_coverage" -> dupCoverage,
    "text_char_classes" -> charClasses,
    "tok_fertility" -> fertility)

  val oracleSql: Map[String, String] = Map(
    "text_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_words,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |    CAST(n_sentences AS BIGINT) AS n_sentences,
        |    CAST(n_syllables AS BIGINT) AS n_syllables,
        |    floor((0.39 * n_words / CAST(n_sentences AS DOUBLE)
        |      + 11.8 * n_syllables / CAST(n_words AS DOUBLE) - 15.59) * 10000 + 0.5)
        |      / CAST(10000 AS DOUBLE) AS fk_grade
        |  FROM c WHERE n_words >= 1)
        |SELECT doc_id, n_words, n_sentences, n_syllables, fk_grade,
        |  CASE WHEN fk_grade < 8 THEN 'accessible'
        |       WHEN fk_grade < 12 THEN 'standard'
        |       ELSE 'advanced' END AS band
        |FROM g ORDER BY doc_id""".stripMargin,
    "text_zipf" ->
      """WITH w AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |f AS (SELECT source, word, count(*) AS freq FROM w GROUP BY 1, 2),
        |r AS (
        |  SELECT source, freq,
        |    row_number() OVER (PARTITION BY source ORDER BY freq DESC, word) AS rank
        |  FROM f)
        |SELECT source, count(*) AS n_vocab, CAST(sum(freq) AS BIGINT) AS n_tokens,
        |  floor(regr_slope(ln(freq), ln(rank)) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS zipf_slope,
        |  floor(regr_intercept(ln(freq), ln(rank)) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS zipf_intercept
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "text_ngram_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([md5(array_to_string(ts[i:i+2], ' ')) for i in range(1, len(ts) - 1)])) AS gh
        |  FROM t WHERE len(ts) >= 3),
        |fst AS (SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY 1)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN fst.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  floor(sum(CASE WHEN fst.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS novelty
        |FROM g JOIN fst USING (gh) GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "text_char_classes" ->
      """SELECT doc_id, strlen(text) AS n_chars_total,
        |  len(regexp_extract_all(text, '[a-zA-Z]')) AS n_alpha,
        |  len(regexp_extract_all(text, '[0-9]')) AS n_digit,
        |  len(regexp_extract_all(text, ' ')) AS n_space,
        |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
        |  strlen(text) - len(regexp_extract_all(text, '[a-zA-Z]'))
        |    - len(regexp_extract_all(text, '[0-9]')) - len(regexp_extract_all(text, ' '))
        |    - len(regexp_extract_all(text, '[.,;:!?]')) AS n_other
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tok_fertility" ->
      """WITH t AS (
        |  SELECT source, lang, strlen(text) AS nc,
        |    len(string_split(text, ' ')) AS nw,
        |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS nt
        |  FROM documents)
        |SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS n_chars,
        |  CAST(sum(nw) AS BIGINT) AS n_words,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  floor(sum(nc) / CAST(sum(nt) AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS chars_per_token,
        |  floor(sum(nt) / CAST(sum(nw) AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS tokens_per_word
        |FROM t GROUP BY 1, 2 ORDER BY source, lang""".stripMargin,
    "text_dup_coverage" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |d AS (SELECT doc_id, len(ts) AS n_words, ts FROM t WHERE len(ts) >= 3),
        |occ AS (
        |  SELECT doc_id,
        |    unnest([i for i in range(1, len(ts) - 1)]) AS pos,
        |    unnest([md5(array_to_string(ts[i:i+2], ' ')) for i in range(1, len(ts) - 1)]) AS gh
        |  FROM d),
        |dup AS (
        |  SELECT * FROM (
        |    SELECT doc_id, pos, gh, count(*) OVER (PARTITION BY doc_id, gh) AS cnt FROM occ) x
        |  WHERE cnt >= 2),
        |stats AS (
        |  SELECT doc_id, count(DISTINCT gh) AS n_dup_grams, count(*) AS n_dup_occurrences
        |  FROM dup GROUP BY 1),
        |cov AS (
        |  SELECT doc_id, count(DISTINCT wpos) AS n_words_covered
        |  FROM (SELECT doc_id, unnest(range(pos, pos + 3)) AS wpos FROM dup) x
        |  GROUP BY 1)
        |SELECT d.doc_id, d.n_words,
        |  coalesce(stats.n_dup_grams, 0) AS n_dup_grams,
        |  coalesce(stats.n_dup_occurrences, 0) AS n_dup_occurrences,
        |  coalesce(cov.n_words_covered, 0) AS n_words_covered
        |FROM d LEFT JOIN stats USING (doc_id) LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "text_keywords" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, word, tf, df,
        |    floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS score
        |  FROM tf JOIN df USING (word) CROSS JOIN n),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, word, tf, df, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, ws,
        |    CASE WHEN len(ws) >= 2
        |      THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
        |      ELSE [] END AS gs
        |  FROM t),
        |d AS (SELECT doc_id, ws, gs, list_distinct(ws) AS dw, list_distinct(gs) AS dg FROM g),
        |m AS (
        |  SELECT doc_id, ws, gs, dw, dg,
        |    list_max(list_transform(dw, w -> len(list_filter(ws, x -> x = w)))) AS top_word_count,
        |    list_max(list_transform(dg, q -> len(list_filter(gs, x -> x = q)))) AS tbc
        |  FROM d)
        |SELECT doc_id, len(ws) AS n_words, len(dw) AS n_distinct_words,
        |  top_word_count,
        |  list_min(list_filter(dw, w -> len(list_filter(ws, x -> x = w)) = top_word_count)) AS top_word,
        |  len(gs) AS n_bigrams, len(dg) AS n_distinct_bigrams,
        |  coalesce(tbc, 0) AS top_bigram_count
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_entropy" ->
      """WITH tc AS (
        |  SELECT doc_id, t, count(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) x
        |  GROUP BY doc_id, t)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
        |  floor((ln(sum(c)) - sum(c * ln(c)) / sum(c)) * 10000 + 0.5)
        |    / CAST(10000 AS DOUBLE) AS entropy
        |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(customer|value|table)\b')) AS BIGINT) AS n_hits,
        |  md5(regexp_replace(text, '\b(customer|value|table)\b', '[MASK]', 'g')) AS redacted_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_langid_eval" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(ts, t -> t IN ('the','fast','join','query'))) AS s_en,
        |    len(list_filter(ts, t -> t IN ('table','row','group'))) AS s_de,
        |    len(list_filter(ts, t -> t IN ('data','line','part'))) AS s_es,
        |    len(list_filter(ts, t -> t IN ('sort','merge','filter'))) AS s_fr,
        |    len(list_filter(ts, t -> t IN ('spark','hash','scan'))) AS s_zh
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents) t),
        |p AS (
        |  SELECT lang AS labeled_lang,
        |    CASE WHEN s_de = mx THEN 'de' WHEN s_en = mx THEN 'en' WHEN s_es = mx THEN 'es'
        |         WHEN s_fr = mx THEN 'fr' WHEN s_zh = mx THEN 'zh' END AS predicted_lang
        |  FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM sc) t)
        |SELECT labeled_lang, predicted_lang, count(*) AS n_docs
        |FROM p GROUP BY labeled_lang, predicted_lang
        |ORDER BY labeled_lang, predicted_lang""".stripMargin,
    "text_langid" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(ts, t -> t IN ('the','fast','join','query'))) AS s_en,
        |    len(list_filter(ts, t -> t IN ('table','row','group'))) AS s_de,
        |    len(list_filter(ts, t -> t IN ('data','line','part'))) AS s_es,
        |    len(list_filter(ts, t -> t IN ('sort','merge','filter'))) AS s_fr,
        |    len(list_filter(ts, t -> t IN ('spark','hash','scan'))) AS s_zh
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents) t)
        |SELECT doc_id, lang AS labeled_lang,
        |  CASE WHEN s_de = mx THEN 'de' WHEN s_en = mx THEN 'en' WHEN s_es = mx THEN 'es'
        |       WHEN s_fr = mx THEN 'fr' WHEN s_zh = mx THEN 'zh' END AS predicted_lang,
        |  mx AS score,
        |  lang = (CASE WHEN s_de = mx THEN 'de' WHEN s_en = mx THEN 'en' WHEN s_es = mx THEN 'es'
        |       WHEN s_fr = mx THEN 'fr' WHEN s_zh = mx THEN 'zh' END) AS agrees
        |FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM sc) t
        |ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH q AS (
        |  SELECT doc_id, n_chars, string_split(text, ' ') AS ts FROM documents),
        |m AS (
        |  SELECT doc_id, n_chars, len(ts) AS n_tokens,
        |    n_chars / CAST(len(ts) AS DOUBLE) AS atl,
        |    len(list_filter(ts, t -> t IN ('the', 'a'))) / CAST(len(ts) AS DOUBLE) AS swr,
        |    1.0 - len(list_distinct(ts)) / CAST(len(ts) AS DOUBLE) AS dr
        |  FROM q)
        |SELECT doc_id, n_chars, n_tokens,
        |  floor(atl * 10000 + 0.5) / cast(10000 AS double) AS avg_token_len,
        |  floor(swr * 10000 + 0.5) / cast(10000 AS double) AS stopword_ratio,
        |  floor(dr * 10000 + 0.5) / cast(10000 AS double) AS dup_ratio,
        |  floor((CASE WHEN n_tokens < 5 THEN 0.1 ELSE 1.0 END *
        |        (1.0 - dr) * (1.0 - least(swr * 2, 0.5))) * 10000 + 0.5) / cast(10000 AS double) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
        |  length(text) AS n_chars_measured
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_sort([md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])
        |               for i in range(1, len(ts) - 2)]) AS h
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t
        |  WHERE len(ts) >= 4)
        |SELECT doc_id,
        |  md5(array_to_string(h[1:4], '')) AS fingerprint,
        |  len(h) AS n_shingles
        |FROM h ORDER BY doc_id""".stripMargin)
}
