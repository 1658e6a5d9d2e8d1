package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Schema-analysis capabilities (reference internal/analysis/):
  * fuzzy matching, name normalization, field extraction from JSON
  * payloads, and multi-category quality scoring.
  *
  * Scale notes: all four are single-pass narrow scans (no join, no
  * shuffle except the final order): fuzzy scoring is a codegen'd
  * levenshtein over a pruned 2-column projection; quality scoring is
  * a CASE/higher-order-function pipeline that never leaves the row.
  */
object Analysis {

  /** FuzzyScore (analysis/fuzzy.go:41): 1 - lev(q,t)/max(len) on
    * lowercased strings, thresholded like MatchFuzzy (fuzzy.go:121).
    */
  def fuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val query = lit("small widget")
    Tables.spread(Tables.part(s, dir))
      .select(col("p_partkey"), col("p_name"))
      .withColumn("score",
        round(lit(1.0) - levenshtein(lower(query), lower(col("p_name"))).cast("double") /
          greatest(length(query), length(col("p_name"))), 4))
      .filter(col("score") >= 0.5)
  }

  /** NormalizeFieldName (analysis/fields.go:245): any-case →
    * snake_case. camelCase boundaries get an underscore, then
    * [-. ] → _ and lowercase — same order as the reference walk.
    */
  def nameNormalize(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.part(s, dir))
      .select(col("p_partkey"), col("p_name"),
        lower(regexp_replace(
          regexp_replace(col("p_name"), "([a-z0-9])([A-Z])", "$1_$2"),
          "[-. ]", "_")).as("norm_name"))

  /** ExtractFields (analysis/fields.go:28) over JSON payloads:
    * pull `$.k` out of the props document and aggregate per type —
    * the JSON path never leaves the scan projection.
    */
  def fieldExtract(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.events(s, dir))
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(round(avg(col("k")), 4).as("avg_k"),
        max(col("k")).as("max_k"),
        count(lit(1)).as("n"))

  /** ScoreSchemaQuality (analysis/quality.go:25): four 25-point
    * categories + A–F grade, re-expressed over document tokens.
    * Category shapes mirror the reference: fraction-of-good-items
    * with integer floor division (naming quality.go:42, type safety
    * quality.go:80), content-presence bonuses 10+8+7 (evolution
    * quality.go:88-113), percentage grading (quality.go:123).
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nToks = size(toks)
    val good = size(filter(toks, t => t.rlike("^[a-z_]+$")))
    val specific = size(filter(toks, t => !t.isin("the", "a", "data", "value")))
    val naming = floor(lit(25) * good / nToks).cast("int")
    val typeSafety = floor(lit(25) * specific / nToks).cast("int")
    val docScore = when(col("text").contains("data"), 25).otherwise(0)
    val evo = (when(col("text").contains("key"), 10).otherwise(0) +
      when(col("text").contains("table"), 8).otherwise(0) +
      when(col("text").contains("value"), 7).otherwise(0))
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        naming.as("naming_score"),
        docScore.as("doc_score"),
        typeSafety.as("type_score"),
        evo.as("evolution_score"))
      .withColumn("overall", col("naming_score") + col("doc_score") + col("type_score") + col("evolution_score"))
      .withColumn("grade",
        when(col("overall") >= 90, "A")
          .when(col("overall") >= 80, "B")
          .when(col("overall") >= 70, "C")
          .when(col("overall") >= 60, "D")
          .otherwise("F"))
  }

  /** Nested field-path flattening (fields.go:51 walkAvroSchema /
    * fields.go:158 walkJSONSchemaProperties): flatten every JSON
    * payload into (dotted path, type) rows and aggregate field
    * frequencies across the corpus — the registry's "which fields
    * exist at which paths with which types" analysis. The walk is a
    * codegen'd native expression ([[graft.functions.JsonPathsExpr]]);
    * a nested payload is assembled per event (metadata envelope +
    * parsed props subtree) so depth-2 recursion is actually
    * exercised. Row-local until the tiny (path,type) aggregation.
    */
  def fieldPaths(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    Tables.spread(Tables.events(s, dir))
      .select(to_json(struct(
        struct(col("event_type").as("etype"),
          when(col("value") > 10, col("value")).as("sev")).as("meta"),
        from_json(col("props"), "k BIGINT", Map.empty[String, String]).as("props"),
        when(col("user_id") % lit(3) =!= 0, col("user_id")).as("usr"))).as("payload"))
      // explode_outer: the payload struct always carries meta.etype so
      // the path array is never empty; outer stops
      // InferFiltersFromGenerate from re-running the whole recursive
      // parse in a filter below the spread repartition (see
      // [[Dedup.winnow]])
      .select(explode_outer(expr("graft_json_paths(payload)")).as("f"))
      .select(col("f.path").as("path"), col("f.jtype").as("jtype"))
      .groupBy(col("path"), col("jtype"))
      .agg(count(lit(1)).as("n"))
  }

  /** Protobuf text-payload field extraction (fields.go:222
    * extractProtobufFields — the third walker next to the Avro/JSON
    * ones [[fieldPaths]] covers): a `.proto`-shaped payload is
    * regex-walked line-by-line with the reference's exact pattern
    * `^\s*(?:(optional|required|repeated)\s+)?(\w+)\s+(\w+)\s*=\s*\d+\s*;`
    * into (modifier, type, name) field rows; `required` is true iff
    * the modifier literal is `required` (fields.go:233). The payload
    * is synthesized per document from its leading tokens — six field
    * lines cycling through all modifier×type combinations plus the
    * non-field lines the walker must skip (comment, `message …{`,
    * `reserved 99;`, closing brace) — so every regex branch is
    * exercised data-driven, then parsed back with the reference
    * semantics. Construction and parse are row-local with the scan;
    * the only shuffle is the bounded (modifier, type) rollup.
    */
  def protoFields(s: SparkSession, dir: String): DataFrame = {
    val pat = """(?m)^\s*(?:(optional|required|repeated)\s+)?(\w+)\s+(\w+)\s*=\s*\d+\s*;"""
    val ts = split(col("text"), " ")
    val modArr = array(lit("optional "), lit("required "), lit("repeated "), lit(""))
    val typArr = array(lit("string"), lit("int64"), lit("bool"))
    val lines = transform(sequence(lit(1), lit(6)), i =>
      concat(lit("  "),
        element_at(modArr, ((i - 1) % 4 + 1).cast("int")),
        element_at(typArr, ((i - 1) % 3 + 1).cast("int")),
        lit(" "), element_at(ts, i), lit(" = "), i.cast("string"), lit(";")))
    Tables.spread(Tables.documents(s, dir))
      .where(size(ts) >= 6)
      .select(concat(
        lit("// synthesized proto for doc "), col("doc_id").cast("string"), lit("\n"),
        lit("message Doc {\n"), array_join(lines, "\n"),
        lit("\n  reserved 99;\n}")).as("payload"))
      .select(explode(arrays_zip(
        regexp_extract_all(col("payload"), lit(pat), lit(1)),
        regexp_extract_all(col("payload"), lit(pat), lit(2)),
        regexp_extract_all(col("payload"), lit(pat), lit(3)))).as("f"))
      .select(col("f.0").as("modifier"), col("f.1").as("ftype"), col("f.2").as("fname"))
      .groupBy(col("modifier"), col("ftype"), (col("modifier") === "required").as("required"))
      .agg(count(lit(1)).as("n_fields"), countDistinct(col("fname")).as("n_names"))
  }

  /** MatchFuzzy against a candidate set with naming variants
    * (fuzzy.go:121 query×candidates scoring; fuzzy.go:60
    * NamingVariants camel/snake/kebab/space). Queries are the
    * camelCase renderings of the distinct candidate names (the
    * cross-convention lookup the reference serves); each query
    * expands to its 4 variants and is scored against candidates.
    *
    * Scale shape: candidates are reduced to DISTINCT names first
    * (the field-name universe is tiny next to the corpus), the
    * query×variant×bucket side is broadcast, and the join is an
    * EQUI-join on a length bucket — no cartesian product. The bucket
    * width is derived from the threshold and the observed max name
    * length: score >= t forces lev <= (1-t)*maxLen, and
    * |len(a)-len(b)| <= lev, so width = ceil((1-t)*maxLen) makes the
    * ±1-bucket window complete at any corpus length (not just the
    * <=12-char names in the test data). The oracle applies the
    * identical blocking.
    */
  def fuzzyCandidates(s: SparkSession, dir: String): DataFrame = {
    val threshold = 0.75
    val cand = Tables.part(s, dir).select(col("p_name")).distinct()
    val bw = cand.agg(greatest(
      ceil(max(length(lower(col("p_name")))) * lit(1.0 - threshold)), lit(1L))
      .cast("bigint").as("bw"))
    val candB = cand.crossJoin(broadcast(bw))
      .withColumn("c_norm", lower(col("p_name")))
      .withColumn("bucket", floor(length(col("c_norm")) / col("bw")))
      .drop("bw")
    val toks = split(col("p_name"), " ")
    val queries = cand.select(concat(
      element_at(toks, 1),
      upper(substring(element_at(toks, 2), 1, 1)),
      substring(element_at(toks, 2), 2, 1000)).as("query"))
    val snake = lower(regexp_replace(col("query"), "([a-z0-9])([A-Z])", "$1_$2"))
    val variants = queries.select(col("query"), explode(array(
        col("query"), snake,
        regexp_replace(snake, "_", "-"),
        regexp_replace(snake, "_", " "))).as("variant"))
      .crossJoin(broadcast(bw))
      .select(col("query"), lower(col("variant")).as("v_norm"),
        floor(length(col("variant")) / col("bw")).as("vb"))
    val expanded = variants.select(col("query"), col("v_norm"),
      explode(array(col("vb") - 1, col("vb"), col("vb") + 1)).as("bucket"))
    val score = lit(1.0) -
      levenshtein(col("v_norm"), col("c_norm")).cast("double") /
        greatest(length(col("v_norm")), length(col("c_norm")))
    broadcast(expanded).join(candB, "bucket")
      .withColumn("s", score)
      .filter(col("s") >= threshold)
      .groupBy(col("query"), col("p_name"))
      // floor(x*1e4+0.5)/1e4, not round(): scores are small-denominator
      // rationals (1 - k/m, m <= 12) where round() half-up on the shortest
      // decimal string diverges from DuckDB's binary rounding.
      .agg((floor(max(col("s")) * 10000 + 0.5) / 10000.0).as("best_score"))
  }

  /** Quality TREND over the registration history — ScoreSchemaQuality
    * (quality.go:25) applied per VERSION instead of per latest, with
    * the per-subject regression report an operator like
    * SuggestSchemaEvolution would gate on ("did quality degrade when
    * version N landed"). Each registration event scores its payload
    * content (token-shape naming/type ratios + content/doc heuristics
    * + an event-class evolution component, all integer-valued); one
    * subject-keyed window hands each version its predecessor's score;
    * the rollup counts regressions and the worst drop. One window
    * shuffle + one vocabulary-sized partial agg — the same
    * versions-stream shape as every registry scan.
    */
  def qualityTrend(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("subject")).orderBy(col("ts"), col("event_id"))
    val toks = split(col("content"), " ")
    val naming = floor(lit(25) * size(filter(toks, t => t.rlike("^[a-z_]+$"))) / size(toks)).cast("int")
    val typed = floor(lit(25) * size(filter(toks, t => t.rlike("[0-9]"))) / size(toks)).cast("int")
    val doc = (when(col("content").contains("\"k\""), 15).otherwise(0) +
      when(length(col("content")) > 18, 10).otherwise(0)).cast("int")
    val evo = when(col("event_type").isin("signup", "purchase"), 25)
      .when(col("event_type").isin("view", "click"), 15).otherwise(lit(0)).cast("int")
    Tables.events(s, dir)
      .select(col("user_id").as("subject"), col("ts"), col("event_id"),
        col("event_type"),
        concat(col("event_type"), lit(" "), col("props")).as("content"))
      .withColumn("score", naming + typed + doc + evo)
      .withColumn("prev", lag(col("score"), 1).over(w))
      .groupBy(col("subject"))
      .agg(count(lit(1)).as("n_versions"),
        sum(when(col("prev").isNotNull && col("score") < col("prev"), 1L)
          .otherwise(0L)).as("n_regressions"),
        min(when(col("prev").isNotNull, col("score") - col("prev"))).as("worst_delta"),
        max_by(col("score"), struct(col("ts"), col("event_id"))).as("last_score"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "an_quality_trend" -> qualityTrend,
    "an_fuzzy_match" -> fuzzyMatch,
    "an_fuzzy_candidates" -> fuzzyCandidates,
    "an_name_normalize" -> nameNormalize,
    "an_field_extract" -> fieldExtract,
    "an_field_paths" -> fieldPaths,
    "an_proto_fields" -> protoFields,
    "an_quality_score" -> qualityScore)

  val oracleSql: Map[String, String] = Map(
    "an_quality_trend" ->
      """WITH e AS (
        |  SELECT user_id AS subject, ts, event_id, event_type,
        |    event_type || ' ' || props AS content
        |  FROM events),
        |sc AS (
        |  SELECT subject, ts, event_id,
        |    CAST(floor(25 * len(list_filter(string_split(content, ' '),
        |        t -> regexp_matches(t, '^[a-z_]+$'))) / len(string_split(content, ' '))) AS INT)
        |    + CAST(floor(25 * len(list_filter(string_split(content, ' '),
        |        t -> regexp_matches(t, '[0-9]'))) / len(string_split(content, ' '))) AS INT)
        |    + CAST(CASE WHEN content LIKE '%"k"%' THEN 15 ELSE 0 END
        |        + CASE WHEN length(content) > 18 THEN 10 ELSE 0 END AS INT)
        |    + CAST(CASE WHEN event_type IN ('signup', 'purchase') THEN 25
        |           WHEN event_type IN ('view', 'click') THEN 15 ELSE 0 END AS INT) AS score
        |  FROM e),
        |d AS (
        |  SELECT subject, ts, event_id, score,
        |    lag(score) OVER (PARTITION BY subject ORDER BY ts, event_id) AS prev
        |  FROM sc),
        |last AS (
        |  SELECT subject, score AS last_score FROM (
        |    SELECT subject, score,
        |      row_number() OVER (PARTITION BY subject ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM sc) t WHERE rn = 1)
        |SELECT d.subject, count(*) AS n_versions,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND score < prev THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_regressions,
        |  min(CASE WHEN prev IS NOT NULL THEN score - prev END) AS worst_delta,
        |  any_value(last_score) AS last_score
        |FROM d JOIN last ON d.subject = last.subject
        |GROUP BY d.subject ORDER BY d.subject""".stripMargin,
    "an_fuzzy_match" ->
      """SELECT p_partkey, p_name,
        |  round(1.0 - levenshtein(lower('small widget'), lower(p_name)) /
        |    greatest(length('small widget'), length(p_name)), 4) AS score
        |FROM part
        |WHERE 1.0 - levenshtein(lower('small widget'), lower(p_name)) /
        |    greatest(length('small widget'), length(p_name)) >= 0.5
        |ORDER BY score DESC, p_partkey""".stripMargin,
    "an_name_normalize" ->
      """SELECT p_partkey, p_name,
        |  lower(regexp_replace(regexp_replace(p_name, '([a-z0-9])([A-Z])', '\1_\2', 'g'), '[-. ]', '_', 'g')) AS norm_name
        |FROM part ORDER BY p_partkey""".stripMargin,
    // The walk is deterministic given the payload shape assembled by
    // fieldPaths (meta{etype, sev?}, props{k}, usr?), so the oracle
    // enumerates the same paths with the same presence conditions.
    "an_field_paths" ->
      """SELECT path, jtype, n FROM (
        |  SELECT 'meta' AS path, 'object' AS jtype, count(*) AS n FROM events
        |  UNION ALL SELECT 'meta.etype', 'string', count(*) FROM events
        |  UNION ALL SELECT 'meta.sev', 'number', count(*) FROM events WHERE value > 10
        |  UNION ALL SELECT 'props', 'object', count(*) FROM events
        |  UNION ALL SELECT 'props.k', 'number', count(*) FROM events
        |    WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
        |  UNION ALL SELECT 'usr', 'number', count(*) FROM events WHERE user_id % 3 <> 0
        |) WHERE n > 0 ORDER BY path, jtype""".stripMargin,
    // Same payload synthesis, same reference regex; DuckDB returns
    // NULL for a non-participating optional group where Spark returns
    // '' — hence the coalesce. The three regexp_extract_all lists zip
    // positionally through parallel unnests.
    "an_proto_fields" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    '// synthesized proto for doc ' || doc_id || chr(10) ||
        |    'message Doc {' || chr(10) ||
        |    array_to_string(list_transform(range(1, 7), i ->
        |      '  ' || ['optional ', 'required ', 'repeated ', ''][CAST((i-1) % 4 AS INT) + 1]
        |      || ['string', 'int64', 'bool'][CAST((i-1) % 3 AS INT) + 1]
        |      || ' ' || string_split(text, ' ')[CAST(i AS INT)] || ' = ' || i || ';'), chr(10))
        |    || chr(10) || '  reserved 99;' || chr(10) || '}' AS payload
        |  FROM documents WHERE len(string_split(text, ' ')) >= 6),
        |f AS (
        |  SELECT
        |    coalesce(unnest(regexp_extract_all(payload,
        |      '(?m)^\s*(?:(optional|required|repeated)\s+)?(\w+)\s+(\w+)\s*=\s*\d+\s*;', 1)), '') AS modifier,
        |    unnest(regexp_extract_all(payload,
        |      '(?m)^\s*(?:(optional|required|repeated)\s+)?(\w+)\s+(\w+)\s*=\s*\d+\s*;', 2)) AS ftype,
        |    unnest(regexp_extract_all(payload,
        |      '(?m)^\s*(?:(optional|required|repeated)\s+)?(\w+)\s+(\w+)\s*=\s*\d+\s*;', 3)) AS fname
        |  FROM p)
        |SELECT modifier, ftype, modifier = 'required' AS required,
        |  count(*) AS n_fields, count(DISTINCT fname) AS n_names
        |FROM f GROUP BY 1, 2, 3 ORDER BY modifier, ftype""".stripMargin,
    "an_fuzzy_candidates" ->
      """WITH cand AS (SELECT DISTINCT p_name FROM part),
        |bw AS (SELECT GREATEST(CAST(ceil(MAX(length(lower(p_name))) * 0.25) AS BIGINT), 1) AS bw FROM cand),
        |candb AS (SELECT p_name, lower(p_name) AS c_norm,
        |                 CAST(floor(length(lower(p_name)) / bw) AS BIGINT) AS bucket FROM cand, bw),
        |queries AS (
        |  SELECT string_split(p_name, ' ')[1] ||
        |         upper(substring(string_split(p_name, ' ')[2], 1, 1)) ||
        |         substring(string_split(p_name, ' ')[2], 2) AS query
        |  FROM cand),
        |variants AS (
        |  SELECT query, lower(variant) AS v_norm,
        |         CAST(floor(length(variant) / bw) AS BIGINT) AS vb
        |  FROM (
        |    SELECT query, unnest([query,
        |      lower(regexp_replace(query, '([a-z0-9])([A-Z])', '\1_\2', 'g')),
        |      replace(lower(regexp_replace(query, '([a-z0-9])([A-Z])', '\1_\2', 'g')), '_', '-'),
        |      replace(lower(regexp_replace(query, '([a-z0-9])([A-Z])', '\1_\2', 'g')), '_', ' ')]) AS variant
        |    FROM queries), bw),
        |expanded AS (
        |  SELECT query, v_norm, unnest([vb - 1, vb, vb + 1]) AS bucket FROM variants),
        |joined AS (
        |  SELECT e.query, c.p_name,
        |    1.0 - levenshtein(e.v_norm, c.c_norm) / greatest(length(e.v_norm), length(c.c_norm)) AS s
        |  FROM expanded e JOIN candb c USING (bucket))
        |SELECT query, p_name,
        |  floor(max(s) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS best_score
        |FROM joined WHERE s >= 0.75
        |GROUP BY query, p_name
        |ORDER BY query, best_score DESC, p_name""".stripMargin,
    "an_field_extract" ->
      """SELECT event_type,
        |  round(avg(k), 4) AS avg_k, max(k) AS max_k, count(*) AS n
        |FROM (SELECT event_type, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "an_quality_score" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(floor(25.0 * len(list_filter(string_split(text, ' '), t -> regexp_full_match(t, '[a-z_]+'))) / len(string_split(text, ' '))) AS INT) AS naming_score,
        |    CASE WHEN contains(text, 'data') THEN 25 ELSE 0 END AS doc_score,
        |    CAST(floor(25.0 * len(list_filter(string_split(text, ' '), t -> t NOT IN ('the','a','data','value'))) / len(string_split(text, ' '))) AS INT) AS type_score,
        |    (CASE WHEN contains(text, 'key') THEN 10 ELSE 0 END +
        |     CASE WHEN contains(text, 'table') THEN 8 ELSE 0 END +
        |     CASE WHEN contains(text, 'value') THEN 7 ELSE 0 END) AS evolution_score
        |  FROM documents)
        |SELECT doc_id, naming_score, doc_score, type_score, evolution_score,
        |  naming_score + doc_score + type_score + evolution_score AS overall,
        |  CASE WHEN naming_score + doc_score + type_score + evolution_score >= 90 THEN 'A'
        |       WHEN naming_score + doc_score + type_score + evolution_score >= 80 THEN 'B'
        |       WHEN naming_score + doc_score + type_score + evolution_score >= 70 THEN 'C'
        |       WHEN naming_score + doc_score + type_score + evolution_score >= 60 THEN 'D'
        |       ELSE 'F' END AS grade
        |FROM scored ORDER BY doc_id""".stripMargin)
}
