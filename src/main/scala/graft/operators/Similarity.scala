package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding corpus:
  * brute-force cosine top-k as the exactness baseline, and a
  * sign-random-projection (SRP) LSH-bucketed variant as the scale
  * path.
  *
  * Scale design: probes are a bounded set (broadcast); the corpus is
  * scanned once and never self-joined. Brute force scores
  * |probes| × |corpus| rows and ranks per probe. The SRP variant
  * hashes every vector to one of 256 buckets with a *literal* ±1
  * hyperplane matrix (md5-parity-derived, embedded in the plan so
  * codegen folds it — no per-row hashing), then scores only
  * same-bucket candidates: at 1000 executors the bucket join
  * shuffles on an 8-bit key and each task scores a 1/256 slice.
  */
object Similarity {

  private val NTables = 2
  private val Dims = 64
  private val K = 5

  /** Adaptive-SRP knobs for [[nnGraph]]: expected bucket occupancy is
    * held at ~[[TargetBucket]] rows by choosing the plane count from
    * the corpus size (see [[planesFor]]); [[MaxPlanesPerTable]] caps
    * the literal matrix. At 32 planes/table (r9; was 20) the cap
    * covers 2^32 buckets ≈ 68 BILLION vectors at occupancy 16 —
    * comfortably past any 100 TB corpus — and bucket codes ride as
    * BIGINT (a shift by up to 31 outgrows the int sign bit; both
    * engines shift a 64-bit one, never into bit 63).
    */
  private[graft] val TargetBucket = 16
  private[graft] val MaxPlanesPerTable = 32

  /** Planes-per-table for a corpus of n vectors: the smallest p with
    * 2^p * TargetBucket >= n (floored at 4, capped at the matrix).
    * Integer-safe in both engines as
    * `least(cap, greatest(4, length(bin((n + B-1) div B - 1))))` —
    * no libm log2, no FP boundary flips at exact powers of two.
    */
  private[graft] def planesFor(n: Long): Int = {
    val cells = (n + TargetBucket - 1) / TargetBucket
    val p = java.lang.Long.toBinaryString(math.max(0L, cells - 1)).length
    math.min(MaxPlanesPerTable, math.max(4, p))
  }

  /** Deterministic ±1 hyperplane weights: parity of the first hex
    * digit of md5("p:d") — reproducible in any engine with md5.
    */
  private[graft] def weight(p: Int, d: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val v = Integer.parseInt(hex.substring(0, 1), 16)
    if ((v & 1) == 1) 1 else -1
  }

  /** The ±1 hyperplane family for the adaptive bucketer as a Spark
    * SQL array literal: table t owns the contiguous stripe
    * [t*MaxPlanesPerTable, (t+1)*MaxPlanesPerTable) so the chosen
    * plane count can grow with the corpus without re-deriving earlier
    * planes. md5-parity generator ([[weight]]); shared by every SRP
    * consumer (lshTopK, nnGraph family, [[Dedup.embedLsh]]) so they
    * provably hash with the same deterministic projections.
    */
  private[operators] lazy val weightMatrixSqlBig: String = {
    val rows = (0 until NTables * MaxPlanesPerTable).map { p =>
      (0 until Dims).map(d => weight(p, d)).mkString("array(", ", ", ")")
    }
    rows.mkString("array(", ", ", ")")
  }

  private def scored(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val e = Tables.embeddings(s, dir)
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS e")
    val probes = broadcast(e.where("vec_id < 10")
      .selectExpr("vec_id AS probe_id", "e AS pe"))
    probes.join(e, col("probe_id") =!= col("vec_id"))
      .selectExpr("probe_id", "vec_id", "graft_cosine(pe, e) AS cos")
  }

  /** Brute-force exact top-k: every probe against the full corpus. */
  def bruteTopK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    scored(s, dir)
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= K)
      .selectExpr("probe_id", "vec_id", "round(cos, 4) AS cos", "rnk")
  }

  /** Multi-table SRP-LSH bucketed ANN: 2 hash tables of
    * corpus-size-adaptive sign-random-projection buckets; a corpus
    * vector is a candidate if it shares a bucket with the probe in
    * *either* table (standard L-table LSH recall boost). The bucket
    * join key is (table, bucket) — a plain hash join, never an
    * OR-join — so each task scores one bucket slice.
    *
    * Scale (r9): the plane count follows the corpus size
    * ([[planesFor]], the same adaptive bucketer as [[nnGraph]] and
    * [[Dedup.embedLsh]]), so expected bucket occupancy — and with it
    * the candidate list each probe scores — is a CONSTANT ~16×tables
    * rows at any corpus size. The r8 fixed 4-plane form's candidate
    * lists grew ∝ N/16 (measured 35× task time at sf1→sf10); tables
    * remain the recall knob.
    */
  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    val e = srpBucketsAdaptive(s, dir).transform(graft.Tables.pin)
    val tbl = e.selectExpr("vec_id", "explode(sequence(0, " + (NTables - 1) + ")) AS t", "buckets")
      .selectExpr("vec_id", "t", "element_at(buckets, t + 1) AS bucket")
    val probeTbl = broadcast(tbl.where("vec_id < 10")
      .selectExpr("vec_id AS probe_id", "t", "bucket"))
    val cand = probeTbl.join(tbl, Seq("t", "bucket"))
      .where(col("probe_id") =!= col("vec_id"))
      .select("probe_id", "vec_id").distinct()
    val vecs = e.selectExpr("vec_id", "e")
    val probes = broadcast(vecs.where("vec_id < 10")
      .selectExpr("vec_id AS probe_id", "e AS pe"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    cand.join(probes, "probe_id").join(vecs, "vec_id")
      .selectExpr("probe_id", "vec_id", "graft_cosine(pe, e) AS cos")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= K)
      .selectExpr("probe_id", "vec_id", "round(cos, 4) AS cos", "rnk")
  }

  /** Approximate k-NN GRAPH build: top-3 same-bucket neighbors for
    * EVERY corpus vector (not just probes — the structural difference
    * from [[lshTopK]]). The k-NN graph is the substrate for
    * NN-descent refinement, HNSW base-layer seeding, and
    * graph-connected semantic dedup clustering. Candidates are pairs
    * sharing an SRP bucket in either hash table; exact cosine ranks
    * them per source node.
    *
    * Scale: the only pair generator is the (table, bucket) self-join
    * — per-bucket quadratic, but the plane count ADAPTS to the corpus
    * size ([[srpBucketsAdaptive]]) so expected bucket occupancy is a
    * constant and Σ|bucket|² ≈ N·TargetBucket — linear, never N².
    * Scoring shuffles on vec_id hash joins; the top-k window
    * partitions by src. Output is N·k rows — linear in the corpus.
    */
  /** Corpus-size-adaptive SRP bucketer: the plane count per table is
    * a deterministic function of the corpus row count ([[planesFor]])
    * so expected bucket occupancy stays ~[[TargetBucket]] at any
    * scale — the (table, bucket) self-join cost is then
    * Σ|bucket|² ≈ N·TargetBucket, LINEAR in the corpus (the fixed
    * 4-plane variant grows quadratically past ~256 vectors). The
    * count rides in as a broadcast 1-row aggregate; the DuckDB oracle
    * mirrors it as a scalar subquery over the same integer formula.
    */
  private def srpBucketsAdaptive(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    adaptiveBuckets(Tables.embeddings(s, dir)
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS e"))
  }

  /** The adaptive bucketer over any (vec_id, e) frame — shared with
    * [[Dedup.embedLsh]] (r9) so the near-dup pair generator and the
    * k-NN graph build provably hash with the same corpus-size-adaptive
    * hyperplane family.
    */
  /** `e` must be an UNFILTERED scan (projection/repartition only):
    * the plane count is inlined from the parquet footer row count
    * when available, which equals `count(1)` only when no filter
    * drops rows — a filtered caller would diverge from the oracle's
    * scalar-subquery plane count (the parity gate would catch it).
    */
  private[operators] def adaptiveBuckets(e: DataFrame): DataFrame =
    bucketsNp(e, "count(1)", graft.Tables.footerRowBound(e))

  /** [[adaptiveBuckets]] with the occupancy target applied to an
    * arbitrary aggregate of the corpus count (`nExpr` over the input
    * frame). [[ivfTopK]] buckets VECTORS at the plane count sized for
    * its CENTROID population (nExpr = count/stride) so each bucket
    * holds ~[[TargetBucket]] centroids — same hyperplane family, same
    * broadcast-1-row-params idiom, different cell-count driver.
    */
  private def bucketsNp(e: DataFrame, nExpr: String,
                        nLit: Option[Long] = None): DataFrame = {
    def proj(npTerm: String) =
      s"""transform(sequence(0, ${NTables - 1}), t ->
         |  aggregate(sequence(0, ($npTerm) - 1), cast(0 AS bigint), (acc, p) ->
         |    acc + CASE WHEN aggregate(zip_with(element_at($weightMatrixSqlBig, t * $MaxPlanesPerTable + p + 1), e, (w, x) -> w * x),
         |                              cast(0 AS double), (a2, x) -> a2 + x) >= 0
         |          THEN shiftleft(cast(1 AS bigint), p) ELSE cast(0 AS bigint) END)) AS buckets""".stripMargin
    nLit match {
      // Footer-exact corpus size (r11, VERDICT r10 #7): the plane
      // count becomes a LITERAL — no params aggregate, no broadcast
      // crossJoin, and pinning the bucketed frame launches zero jobs
      // (a broadcast exchange's relation future starts at RDD
      // construction, so the broadcast form runs the corpus count the
      // moment a pin or plan-only consumer touches it). planesFor
      // mirrors the SQL integer formula bit-for-bit for n >= 1.
      case Some(n) if n > 0 =>
        e.selectExpr("vec_id", "e", proj(planesFor(n).toString))
      case _ =>
        val params = broadcast(e.agg(
          expr(s"least($MaxPlanesPerTable, greatest(4, length(bin((($nExpr) + ${TargetBucket - 1}) div $TargetBucket - 1)))) AS np")))
        e.crossJoin(params).selectExpr("vec_id", "e", proj("np"))
    }
  }

  /** The raw graph edge list (top-3 per src, unrounded cosines) —
    * shared by [[nnGraph]] (the registered card) and [[nnDescent]]
    * (which treats these edges as the round-0 graph to refine).
    */
  private def nnGraphEdges(s: SparkSession, dir: String): DataFrame = {
    // lazy localCheckpoint, not .cache(): the bucketed corpus is only
    // needed while THIS query runs, and checkpoint blocks are
    // reclaimed by the ContextCleaner when the frame goes out of
    // scope — a .cache() here stayed pinned across every later query
    // of a long-lived session (r8 advice).
    val e = srpBucketsAdaptive(s, dir).transform(graft.Tables.pin)
    val tbl = e.selectExpr("vec_id", s"explode(sequence(0, ${NTables - 1})) AS t", "buckets")
      .selectExpr("vec_id", "t", "element_at(buckets, t + 1) AS bucket")
    val cand = tbl.selectExpr("vec_id AS src", "t", "bucket")
      .join(tbl.selectExpr("vec_id AS dst", "t", "bucket"), Seq("t", "bucket"))
      .where(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    val vecs = e.selectExpr("vec_id", "e")
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    cand.join(vecs.selectExpr("vec_id AS src", "e AS se"), "src")
      .join(vecs.selectExpr("vec_id AS dst", "e AS de"), "dst")
      .selectExpr("src", "dst", "graft_cosine(se, de) AS cos")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
  }

  def nnGraph(s: SparkSession, dir: String): DataFrame =
    nnGraphEdges(s, dir)
      .selectExpr("src", "dst", "round(cos, 4) AS cos", "rnk")

  /** One NN-descent refinement round (Dong et al., WWW'11) over the
    * adaptive SRP k-NN graph: the candidate set for each node is its
    * undirected graph neighborhood plus every two-hop node
    * (neighbors-of-neighbors over the symmetrized edge set — the
    * "a friend of a friend is likely a friend" step that lifts a
    * cheap LSH graph toward the true k-NN graph without ever going
    * near N²). Exact cosine re-ranks the widened candidate set and
    * keeps the top-3; because the candidates are a superset of the
    * round-0 edges, every rank's cosine is monotonically >= the
    * round-0 graph's (spec-pinned).
    *
    * Scale: the round-0 edge list is N·k rows, the symmetrized set
    * <= 2Nk, and the two-hop join fans out to <= N·(2k)^2 candidate
    * rows — linear in the corpus for fixed k, shuffling only on
    * edge keys. This is the iterated step a production build runs
    * until convergence; one round is registered so the oracle stays
    * one SQL statement.
    */
  private def nnDescentEdges(s: SparkSession, dir: String): DataFrame =
    nnDescentFrom(nnGraphEdges(s, dir), s, dir)

  /** The descent round over an ALREADY-BUILT round-0 edge list, so a
    * caller holding the graph (graphRecall) refines it without
    * rebuilding the whole bucket-join + window stage a second time.
    *
    * @param round0 (src, dst) edges with AT MOST 3 per src — the
    *   top-3 window of [[nnGraphEdges]]. The two-hop broadcast gate
    *   bounds the symmetrized set by 6·N from this precondition alone;
    *   a denser graph would pass the gate yet broadcast beyond it.
    */
  private def nnDescentFrom(round0: DataFrame, s: SparkSession, dir: String): DataFrame = {
    // symmetric expansion is a row-local explode, NOT a self-union —
    // a union of the uncached graph would evaluate the whole
    // bucket-join + window build twice
    val und = round0
      .selectExpr("explode(array(struct(src, dst), struct(dst AS src, src AS dst))) AS p")
      .selectExpr("p.src AS src", "p.dst AS dst")
      .distinct().transform(graft.Tables.pin)
    // Count-gated broadcast of the two-hop build side (r12, VERDICT
    // r11 #4): |und| ≤ 2·3·N by the round-0 top-3 window, and N is
    // footer-exact at zero jobs — when the bound fits the loop
    // broadcast gate the expansion needs no exchange at all (the
    // checkpointed edge list otherwise shuffles twice into a
    // sort-merge join, and AQE's runtime BHJ conversion still
    // materializes both exchanges first). Above the gate (100 TB
    // graphs) the former shuffle join stands.
    val undBound = graft.Tables.footerRowBound(Tables.embeddings(s, dir)).map(_ * 6)
    val hop2Side =
      if (undBound.exists(n => n > 0 && n <= graft.Tables.BcastRows)) broadcast(und.alias("b"))
      else und.alias("b")
    val hop2 = und.alias("a").join(hop2Side, col("a.dst") === col("b.src"))
      .select(col("a.src").as("src"), col("b.dst").as("dst"))
    val cand = und.union(hop2).where(col("src") =!= col("dst")).distinct()
    val e = Tables.embeddings(s, dir)
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS e")
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    cand.join(e.selectExpr("vec_id AS src", "e AS se"), "src")
      .join(e.selectExpr("vec_id AS dst", "e AS de"), "dst")
      .selectExpr("src", "dst", "graft_cosine(se, de) AS cos")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
  }

  def nnDescent(s: SparkSession, dir: String): DataFrame =
    nnDescentEdges(s, dir)
      .selectExpr("src", "dst", "round(cos, 4) AS cos", "rnk")

  /** Recall@3 of the graph path against exact truth — the card that
    * licenses [[nnGraph]]/[[nnDescent]] at scale the way
    * ann_recall_eval licenses the probe-LSH path: over the probe
    * set, how many of each node's EXACT top-3 neighbors does the
    * round-0 graph hold, and how many does one NN-descent round
    * recover? Hits are provably monotone graph → descent (a
    * candidate displacing an exact-top-3 member from a
    * top-3-of-superset has higher cosine and is therefore exact
    * top-3 itself), which the spec pins.
    *
    * Scale: truth is the same broadcast-probe brute scan as
    * ann_brute_topk (per-probe bounded); both graph stages reuse the
    * linear adaptive-SRP build; the recall joins shuffle
    * O(probes × k) rows.
    */
  def graphRecall(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    val truth = scored(s, dir).withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3).select(col("probe_id"), col("vec_id")).transform(Tables.lazyCheckpoint(_))
    def card(stage: String, edges: DataFrame): DataFrame = {
      val pe = edges.where(col("src") < 10)
        .select(col("src").as("probe_id"), col("dst").as("vec_id"))
      truth.join(pe, Seq("probe_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
        .select(lit(stage).as("stage"), col("n_true"), col("n_hit"),
          (floor(col("n_hit") / col("n_true").cast("double") * 10000 + 0.5) / lit(10000.0))
            .as("recall3"))
    }
    // Build the round-0 graph ONCE and checkpoint it: both cards and
    // the descent round read it, and before r9 each card rebuilt the
    // full adaptive-SRP bucket join from scratch (the graph stage ran
    // twice and its cached corpus frames stayed pinned).
    val g0 = Tables.lazyCheckpoint(nnGraphEdges(s, dir).select("src", "dst"))
    card("graph", g0)
      .unionAll(card("descent", nnDescentFrom(g0, s, dir)))
  }

  /** Stride between IVF centroid seeds: every [[IvfListOcc]]-th
    * vec_id is a centroid, so nlist = ceil(n/64) grows WITH the
    * corpus and expected list occupancy stays ~64 at any scale — no
    * count job needed to size the quantizer.
    */
  private[graft] val IvfListOcc = 64

  /** IVF ANN (r10, VERDICT r9 #4): corpus-size-adaptive inverted
    * lists. The pre-r10 quantizer was the 10-value `label` column, so
    * "one inverted list" was N/10 vectors — a constant-factor saving,
    * not a scale path. Now:
    *
    *   - centroids = deterministic stride sample (vec_id % 64 == 0):
    *     nlist ∝ N, so per-list occupancy is a CONSTANT ~64;
    *   - routing a vector to its nearest centroid never scans all
    *     nlist ∝ N centroids (that would re-linearize the probe):
    *     candidate centroids are those sharing an SRP bucket with the
    *     vector in either hash table — the [[adaptiveBuckets]] family
    *     with the plane count sized for the CENTROID population
    *     ([[bucketsNp]], cells = nlist/16), so ~16·tables candidate
    *     centroids per vector — PLUS the vector's own stride-block
    *     leader ((vec_id div 64)·64, always a centroid under dense
    *     ids), which guarantees every vector an assignment even when
    *     its SRP bucket holds no centroid;
    *   - every corpus vector is assigned ONCE (linear build: ~32
    *     candidate-centroid cosines per vector, one (t, bucket)
    *     shuffle); probes (a bounded broadcast set) reuse their own
    *     assignment and scan only their list's ~64 members.
    *
    * Per-probe work is therefore ~constant at any corpus size — the
    * same bound as [[lshTopK]], reached through centroid routing
    * instead of direct bucket membership (the structural IVF
    * difference: lists are nearest-centroid Voronoi cells, the recall
    * knob is nprobe/stride, and the assignment is reusable downstream
    * as a coarse quantizer for IVF-PQ). DuckDB oracle mirrors the
    * full route (same hyperplane family, same integer plane-count
    * formula as a scalar subquery). Reference: the flat per-label
    * scan this replaces mirrored mcp/tools_intelligence.go's
    * label-grouped search; FAISS-style IVF is the published design
    * (Johnson et al. 2017, public).
    */
  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val e0 = Tables.embeddings(s, dir)
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS e")
    // lazy localCheckpoint: buckets + vectors feed assignment, probe
    // and member sides; blocks reclaimed when the frame drops
    val b = bucketsNp(e0, s"(count(1) + ${IvfListOcc - 1}) div $IvfListOcc",
        graft.Tables.footerRowBound(e0).map(n => (n + IvfListOcc - 1) / IvfListOcc))
      .transform(graft.Tables.pin)
    val tbl = b.selectExpr("vec_id", s"explode(sequence(0, ${NTables - 1})) AS t", "buckets")
      .selectExpr("vec_id", "t", "element_at(buckets, t + 1) AS bucket")
    val ctbl = tbl.where(s"vec_id % $IvfListOcc = 0")
      .selectExpr("vec_id AS c_id", "t", "bucket")
    val leaders = b.selectExpr("vec_id", s"(vec_id div $IvfListOcc) * $IvfListOcc AS c_id")
    val cand = tbl.join(ctbl, Seq("t", "bucket"))
      .select(col("vec_id"), col("c_id"))
      .unionByName(leaders)
      .distinct()
    val vecs = b.selectExpr("vec_id", "e")
    val cvecs = vecs.where(s"vec_id % $IvfListOcc = 0")
      .selectExpr("vec_id AS c_id", "e AS ce")
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id"))
    // LEFT join to cvecs (r11 ADVICE): under sparse vec_ids the block
    // leader (vec_id div 64)*64 may not exist as a vector; an inner
    // join would then silently drop the vector from every inverted
    // list. The phantom leader ranks below any real centroid
    // (c_cos = -2 < min cosine), so it is picked only when the SRP
    // buckets yield no centroid at all — the assignment is then still
    // a valid list key (membership only needs the key, not the
    // centroid vector), and under dense ids the leader always exists,
    // keeping this byte-identical to the inner-join form.
    val assign = cand.join(vecs, "vec_id").join(cvecs, Seq("c_id"), "left")
      .selectExpr("vec_id", "c_id",
        "IF(ce IS NULL, cast(-2.0 AS double), graft_cosine(e, ce)) AS c_cos")
      .withColumn("arnk", row_number().over(wAssign))
      .where(col("arnk") === 1)
      .select(col("vec_id"), col("c_id").as("list_id"))
    val probes = broadcast(assign.where("vec_id < 10")
      .join(vecs, "vec_id")
      .selectExpr("vec_id AS probe_id", "list_id", "e AS pe"))
    val wTop = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    probes.join(assign, Seq("list_id"))
      .where(col("probe_id") =!= col("vec_id"))
      .join(vecs, "vec_id")
      .selectExpr("probe_id", "vec_id", "graft_cosine(pe, e) AS cos")
      .withColumn("rnk", row_number().over(wTop))
      .where(col("rnk") <= K)
      .selectExpr("probe_id", "vec_id", "round(cos, 4) AS cos", "rnk")
  }

  /** Brute-force top-k via the mergeable heap aggregate
    * [[graft.functions.TopKAgg]] instead of a rank window: partial
    * top-k happens map-side, so only k rows per probe ever shuffle —
    * the shape that survives a 1000-executor scale-up. Results are
    * identical to the window formulation (same oracle).
    */
  def bruteTopKAgg(s: SparkSession, dir: String): DataFrame =
    scored(s, dir)
      .groupBy(col("probe_id"))
      .agg(expr(s"graft_topk($K, cos, vec_id)").as("top"))
      .selectExpr("probe_id", "posexplode(top) AS (pos, t)")
      .selectExpr("probe_id", "t.id AS vec_id", "round(t.score, 4) AS cos",
        "cast(pos + 1 AS int) AS rnk")

  /** Int8 scalar quantization of the embedding corpus — the memory-
    * side of ANN at scale (4× smaller vectors before indexing). Pass
    * 1 computes per-dimension min/max (partial-aggregated, 64 output
    * rows regardless of corpus size); the tiny stats table is
    * broadcast back so pass 2 quantizes map-side with NO shuffle of
    * the corpus; reported per-dim mean-absolute reconstruction error
    * partial-aggregates the same way. qv = floor((v-lo)/scale + 0.5)
    * explicitly (not round()) so both engines tie-break identically.
    */
  def embQuantize(s: SparkSession, dir: String): DataFrame = {
    val x = Tables.spread(Tables.embeddings(s, dir))
      .select(posexplode(col("embedding")).as(Seq("pos", "v0")))
      .select((col("pos") + 1).cast("bigint").as("dim"), col("v0").cast("double").as("v"))
    val st = x.groupBy(col("dim"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .withColumn("scale", (col("hi") - col("lo")) / 255.0)
    x.join(broadcast(st), "dim")
      .withColumn("qv", floor((col("v") - col("lo")) / col("scale") + 0.5))
      .groupBy(col("dim"), col("lo"), col("hi"), col("scale"))
      .agg((floor(avg(abs(col("lo") + col("qv") * col("scale") - col("v"))) * 1e6 + 0.5) / 1e6).as("mae"))
      .select(col("dim"), round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"),
        (floor(col("scale") * 1e6 + 0.5) / 1e6).as("scale"), col("mae"))
  }

  /** Embedding-space outlier QA — the data-quality report a training
    * pipeline runs before trusting a new embedding batch: distance²
    * of every vector to its label centroid, then a per-label z-score
    * rollup flagging far-from-cluster vectors (mislabeled or corrupt
    * rows). The sibling of [[Audit]]'s metrics_outliers in embedding
    * space.
    *
    * Parity design: the centroid is rounded to 4 dp (the same
    * normalization emb_centroids publishes) BEFORE the distance pass,
    * so the per-term (x−c)² inputs are bit-identical in both engines
    * and only aggregate summation order remains float-sensitive —
    * then dist² itself is rounded before the stats pass for the same
    * reason. sd guarded > 0 (constant cluster ⇒ defined NULL z, not
    * engine-specific ÷0).
    *
    * Scale: one (label, dim) rollup broadcast back to the exploded
    * scan; one vec_id-keyed partial-agg sum; a 10-row stats broadcast;
    * output O(labels).
    */
  def embOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "x0")))
      .select(col("vec_id"), col("label"), col("pos"), col("x0").cast("double").as("x"))
    val cent = e.groupBy(col("label"), col("pos"))
      .agg((round(avg(col("x")), 4) + lit(0.0)).as("c"))
    val d2 = e.join(broadcast(cent), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg((round(sum((col("x") - col("c")) * (col("x") - col("c"))), 4) + lit(0.0)).as("dist2"))
    val stats = d2.groupBy(col("label"))
      .agg(avg(col("dist2")).as("mu"), stddev_samp(col("dist2")).as("sd"))
    d2.join(broadcast(stats), Seq("label"))
      .withColumn("z", when(col("sd") > 0, (col("dist2") - col("mu")) / col("sd")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("z") > 2.0, 1L).otherwise(0L)).as("n_outliers"),
        (round(max(col("z")), 4) + lit(0.0)).as("max_z"),
        round(avg(col("dist2")), 4).as("mean_dist2"))
  }

  /** Hard-negative mining for contrastive training: for each probe,
    * the top-5 most cosine-similar corpus vectors whose LABEL differs
    * from the probe's — the "looks similar, means different" examples
    * a contrastive objective learns most from. Same broadcast-probe ×
    * corpus scan as [[bruteTopK]] (the label predicate rides the
    * broadcast join condition, so excluded same-label rows are never
    * scored), per-probe bounded rank window; the LSH/IVF bucketed
    * variants are the drop-in scale path exactly as for top-k.
    */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    val e = Tables.embeddings(s, dir)
      .selectExpr("vec_id", "label", "cast(embedding AS array<double>) AS e")
    val probes = broadcast(e.where("vec_id < 10")
      .selectExpr("vec_id AS probe_id", "label AS probe_label", "e AS pe"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    probes.join(e, col("label") =!= col("probe_label"))
      .selectExpr("probe_id", "probe_label", "vec_id", "label AS neg_label",
        "graft_cosine(pe, e) AS cos")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= K)
      .selectExpr("probe_id", "probe_label", "vec_id", "neg_label",
        "round(cos, 4) AS cos", "rnk")
  }

  /** ANN quality gate: recall@k of the LSH-bucketed path against the
    * brute-force truth — the number that justifies trusting
    * [[lshTopK]] at scale, exactly as dedup_minhash_recall justifies
    * the LSH dedup path. Truth and approx top-k are both per-probe
    * bounded sets, so the recall join shuffles O(probes × k) rows —
    * at 100 TB this evaluates on a probe SAMPLE while the production
    * path runs LSH-only.
    */
  def recallEval(s: SparkSession, dir: String): DataFrame = {
    val truth = bruteTopK(s, dir).select(col("probe_id"), col("vec_id"))
    val approx = lshTopK(s, dir)
      .select(col("probe_id"), col("vec_id"), lit(1).as("hit"))
    truth.join(approx, Seq("probe_id", "vec_id"), "left_outer")
      .groupBy(col("probe_id"))
      .agg(count(col("hit")).as("n_hits"))
      .selectExpr("probe_id", "n_hits",
        s"round(n_hits / cast($K AS double), 4) AS recall")
  }

  /** Cosine-threshold range search: every corpus vector with
    * similarity ≥ τ of each probe (the "find everything near this"
    * query — radius dedup, contamination sweeps, neighborhood-density
    * QA — where top-k's fixed k is the wrong contract because
    * neighborhood sizes vary per probe). Same broadcast-probe ×
    * corpus scan as [[bruteTopK]]; the threshold replaces the rank
    * window, so no window at all — filter + partial-agg rollup. The
    * LSH/IVF bucketing is the drop-in scale path (a τ-ball is exactly
    * what SRP buckets approximate).
    *
    * Parity design: the filter compares the 4 dp ROUNDED cosine (ulp
    * drift at the threshold boundary cannot flip membership), and the
    * per-probe mean aggregates the exact integer 1e4 grid (integer
    * sums are order-independent; a float sum's last ulp is not).
    */
  def rangeSearch(s: SparkSession, dir: String): DataFrame = {
    val tau = 0.2
    scored(s, dir)
      .selectExpr("probe_id", "vec_id",
        "cast(floor(round(cos, 4) * 10000 + 0.5) AS bigint) AS g")
      .where(col("g") >= (tau * 10000).toLong)
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_matches"),
        sum(col("g")).as("sg"), max(col("g")).as("mg"))
      .selectExpr("probe_id", "n_matches",
        "round(sg / (n_matches * cast(10000 AS double)), 4) AS avg_cos",
        "round(mg / cast(10000 AS double), 4) AS max_cos")
  }

  /** Embedding-dimension correlation QA: Pearson r for every
    * dimension PAIR, ranked by |r| — the "are these 64 dims actually
    * carrying 64 dims of signal" report (near-±1 pairs mean a
    * redundant or collapsed encoder; training pipelines run this
    * before trusting a new embedding version, and it is the
    * decision input for dropping dims ahead of [[embQuantize]]).
    *
    * Parity design: values snap to the exact 1e4 integer grid FIRST,
    * so every sufficient statistic (Σx, Σy, Σxy, Σx², Σy²) is an
    * exact integer sum — order-independent, overflow-checked
    * (|grid| ≤ 1e4, so n·Σxy < 2^63 through sf1) — and the final
    * r = (nΣxy−ΣxΣy)/√((nΣx²−Σx²)(nΣy²−Σy²)) is one deterministic
    * IEEE expression over identical integers in both engines.
    * Zero-variance dims are excluded (r undefined), not divided.
    *
    * Scale: the pair fan-out is row-local and CONSTANT (D·(D−1)/2 =
    * 2016 structs per vector); the one shuffle is the (i, j) groupBy
    * with 2016 keys and full map-side partial aggregation — at
    * 100 TB this is a pure combine-then-tiny-reduce plan, output
    * top-20 via a bounded sort.
    */
  def dimCorr(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.spread(Tables.embeddings(s, dir))
      .selectExpr(
        "transform(embedding, x -> cast(floor(cast(x AS double) * 10000 + 0.5) AS bigint)) AS g")
      .selectExpr(
        // explode_outer: the fan-out is a constant 2016 structs, never
        // empty; outer keeps InferFiltersFromGenerate from evaluating
        // this whole expression again in a filter below the spread
        s"""explode_outer(flatten(transform(sequence(1, $Dims - 1), i ->
           |  transform(sequence(i + 1, $Dims), j ->
           |    struct(cast(i AS bigint) AS i, cast(j AS bigint) AS j,
           |      element_at(g, i) AS x, element_at(g, j) AS y))))) AS p""".stripMargin)
      .selectExpr("p.i AS i", "p.j AS j", "p.x AS x", "p.y AS y")
    pairs.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      .withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
      .withColumn("dx", (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("dy", (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
      .where(col("dx") > 0 && col("dy") > 0)
      .withColumn("r", round(col("num") / sqrt(col("dx") * col("dy")), 4))
      .select(col("i"), col("j"), col("n"), col("r"))
      .orderBy(abs(col("r")).desc, col("i"), col("j"))
      .limit(20)
  }

  /** Vector-norm data card — the precondition check every cosine
    * consumer in this file silently assumes: per-label norm range,
    * mean squared norm, and the zero-vector count (a zero norm makes
    * cosine undefined; a collapsed norm range flags an unnormalized
    * or truncated embedding batch). Run on every new embedding
    * delivery BEFORE the ANN/dedup operators trust it.
    *
    * Parity: norms are computed on the exact 1e4 integer grid (the
    * [[dimCorr]] discipline) — the squared-norm sum is an exact
    * integer, min/max/mean derive from identical integers in both
    * engines. One row-local pass + one label-keyed partial agg.
    */
  def normCard(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.embeddings(s, dir))
      .selectExpr("label",
        """aggregate(transform(embedding, x -> cast(floor(cast(x AS double) * 10000 + 0.5) AS bigint)),
          |  cast(0 AS bigint), (a, v) -> a + v * v) AS n2""".stripMargin)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n2") === 0, 1L).otherwise(0L)).as("n_zero"),
        min(col("n2")).as("min2"), max(col("n2")).as("max2"),
        sum(col("n2")).as("s2"))
      .selectExpr("label", "n_vecs", "n_zero",
        "round(sqrt(min2) / cast(10000 AS double), 4) AS min_norm",
        "round(sqrt(max2) / cast(10000 AS double), 4) AS max_norm",
        "round(s2 / (n_vecs * cast(1e8 AS double)), 4) AS mean_norm2")

  /** Product-quantization ANN with asymmetric-distance (ADC) scoring —
    * the memory-bound half of the IVF-PQ design every billion-vector
    * deployment runs (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011): vectors are stored as 4 one-byte
    * codes (one per 16-dim subspace) instead of 64 floats — a 64×
    * compression — and query-time distance is the sum of per-subspace
    * distances between the PROBE's exact subvector and each stored
    * code's centroid (asymmetric: only the database side is
    * quantized). The operator reports recall@5 of ADC top-5 against
    * exact L2 top-5 per probe — the accuracy card that licenses the
    * compression.
    *
    * The codebook is deterministic sampling, not k-means: the 16
    * database vectors with vec_id < 16 serve as the 16 centroids of
    * every subspace (a real deployment trains per-subspace k-means;
    * sampling keeps the oracle byte-reproducible and exercises the
    * identical encode/score plumbing).
    *
    * Scale design: the codebook is ONE broadcast row (16×4×16
    * doubles); encoding is row-local with the scan — each vector
    * finds its per-subspace argmin against the broadcast centroids
    * and emits 4 small ints, never shuffling a float. ADC scoring
    * streams the coded corpus once per probe batch (probes broadcast
    * with their exact subvectors — the per-probe LUT of the paper,
    * here inlined); the only shuffles are the two top-5 windows and
    * the O(probes × k) recall join.
    */
  def pqAdc(s: SparkSession, dir: String): DataFrame = {
    val sub = Tables.embeddings(s, dir)
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS e")
      .selectExpr("vec_id", "e",
        "transform(sequence(0, 3), j -> slice(e, j * 16 + 1, 16)) AS subs")
    val cb = broadcast(sub.where("vec_id < 16")
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(vec_id, subs))), x -> x.subs)").as("cent")))
    def l2sub(a: String, b: String): String =
      s"aggregate(zip_with($a, $b, (p, q) -> (p - q) * (p - q)), cast(0 AS double), (s2, x) -> s2 + x)"
    val coded = Tables.spread(sub).crossJoin(cb)
      .selectExpr("vec_id", "cent",
        s"transform(sequence(0, 3), j -> transform(cent, c -> ${l2sub("element_at(subs, j + 1)", "element_at(c, j + 1)")})) AS dists")
      .selectExpr("vec_id", "cent",
        "transform(dists, d -> cast(array_position(d, array_min(d)) AS int)) AS code")
    val probes = broadcast(sub.where("vec_id < 10")
      .selectExpr("vec_id AS probe_id", "e AS pe", "subs AS psubs"))
    val wA = Window.partitionBy(col("probe_id")).orderBy(col("ad"), col("vec_id"))
    val atop = coded.join(probes, col("probe_id") =!= col("vec_id"))
      .selectExpr("probe_id", "vec_id",
        s"""aggregate(sequence(0, 3), cast(0 AS double), (acc, j) ->
           |  acc + ${l2sub("element_at(psubs, j + 1)",
                            "element_at(element_at(cent, element_at(code, j + 1)), j + 1)")}) AS ad""".stripMargin)
      .withColumn("rnk", row_number().over(wA)).where(col("rnk") <= 5)
      .select(col("probe_id"), col("vec_id"))
    val wE = Window.partitionBy(col("probe_id")).orderBy(col("d"), col("vec_id"))
    val etop = Tables.spread(sub).join(probes, col("probe_id") =!= col("vec_id"))
      .selectExpr("probe_id", "vec_id",
        "aggregate(zip_with(pe, e, (a, b) -> (a - b) * (a - b)), cast(0 AS double), (acc, x) -> acc + x) AS d")
      .withColumn("rnk", row_number().over(wE)).where(col("rnk") <= 5)
      .select(col("probe_id"), col("vec_id"))
    etop.join(atop.withColumn("hit", lit(1)), Seq("probe_id", "vec_id"), "left")
      .groupBy(col("probe_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .selectExpr("probe_id", "cast(n_hit AS bigint) AS n_hit",
        "floor(n_hit / cast(5 AS double) * 10000 + 0.5) / cast(10000 AS double) AS recall5")
  }

  /** One matrix-free power-iteration step toward the corpus's top
    * principal direction — the dimensionality diagnostic run before
    * trusting cosine geometry (a dominant direction concentrating
    * mass is the classic anisotropy failure of embedding spaces).
    * For the N×64 matrix X on the 4dp integer grid ([[dimCorr]]'s
    * grid), the N-scaled centered scatter is C = N·XᵀX − ssᵀ with
    * s = Xᵀ1; the step computes v₁ = C·1 WITHOUT materializing C:
    * v₁ = N·Xᵀ(X·1) − s·(sᵀ1), i.e. one per-vector row sum t, one
    * per-dimension pass accumulating Σ q·t, and 64-row arithmetic.
    * Every sum is exact 64-bit integer (|q| ≤ 10⁴ bounds all
    * magnitudes through sf1), so both engines agree bit-for-bit;
    * only the final normalization divides doubles, folded over the
    * 64 components in dimension order for a deterministic norm.
    *
    * Scale: this is how power iteration actually runs on a
    * 1000-executor corpus — matrix-vector products against X
    * streamed per partition with a 64-slot partial aggregate; the
    * 64×64 scatter never exists. Further steps re-enter the same
    * pass with v₁ broadcast (in doubles once magnitudes outgrow the
    * exact-integer window).
    */
  def pcaPower(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.spread(Tables.embeddings(s, dir))
      .selectExpr("transform(embedding, x -> cast(floor(cast(x AS double) * 10000 + 0.5) AS bigint)) AS g")
      .selectExpr("g", "aggregate(g, cast(0 AS bigint), (acc, x) -> acc + x) AS t")
    val rows = g.select(col("t"), posexplode_outer(col("g")).as(Seq("p0", "q")))
      .selectExpr("cast(p0 + 1 AS bigint) AS dim", "q", "t")
    // totals and the norm as windows over the 64-row per-dim rollup:
    // the former broadcast-aggregate chain re-ran the rollup subtree
    // (embeddings explode + groupBy) once per aggregate — FOUR builds
    // for one query (tot's, norm's transitively doubling v1's) — for
    // values that are plain functions of the 64 rows (r12, guide
    // §2.4). Same dim-ordered fold for the norm, bit-identical.
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rows.groupBy(col("dim"))
      .agg(sum(col("q")).as("s"), sum(col("q") * col("t")).as("u"), count(lit(1)).as("n"))
      .withColumn("bigS", sum(col("s")).over(wAll))
      .withColumn("nvec", max(col("n")).over(wAll))
      .withColumn("v1", col("nvec") * col("u") - col("s") * col("bigS"))
      .withColumn("lst", array_sort(collect_list(struct(col("dim"), col("v1"))).over(wAll)))
      .withColumn("nsq", expr(
        """aggregate(transform(lst, x -> cast(x.v1 AS double) * cast(x.v1 AS double)),
          |  cast(0 AS double), (acc, x) -> acc + x)""".stripMargin))
      .select(col("dim"), col("s").as("sum_q"), col("v1"),
        (floor(col("v1") / sqrt(col("nsq")) * 10000 + 0.5) / lit(10000.0)).as("loading"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_pca_power" -> pcaPower,
    "ann_pq_adc" -> pqAdc,
    "emb_norm_card" -> normCard,
    "emb_dim_corr" -> dimCorr,
    "ann_range_search" -> rangeSearch,
    "ann_recall_eval" -> recallEval,
    "ann_hard_negatives" -> hardNegatives,
    "emb_outliers" -> embOutliers,
    "ann_brute_topk" -> bruteTopK,
    "ann_topk_agg" -> bruteTopKAgg,
    "ann_lsh_topk" -> lshTopK,
    "ann_nn_graph" -> nnGraph,
    "ann_nn_descent" -> nnDescent,
    "ann_graph_recall" -> graphRecall,
    "emb_quantize" -> embQuantize,
    "ann_ivf_topk" -> ivfTopK)

  val oracleSql: Map[String, String] = {
    // The adaptive-SRP bucket derivation (ends in buckets(vec_id, t,
    // bucket) over normalized vectors n) — the ONE hashing stage every
    // SRP oracle composes: probe-LSH (ann_lsh_topk), its recall card,
    // and the k-NN graph family. Mirrors Similarity.adaptiveBuckets /
    // planesFor exactly (scalar-subquery plane count, BIGINT codes).
    val adaptiveBucketsCte =
      s"""wbig AS (
         |  SELECT p, d,
         |    CASE WHEN (strpos('0123456789abcdef', substr(md5(p::varchar || ':' || d::varchar), 1, 1)) - 1) & 1 = 1
         |         THEN 1 ELSE -1 END AS wt
         |  FROM (SELECT unnest(range(0, ${NTables * MaxPlanesPerTable})) AS p), (SELECT unnest(range(0, $Dims)) AS d)),
         |e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |params AS (
         |  SELECT least($MaxPlanesPerTable, greatest(4, length(bin((count(*) + ${TargetBucket - 1}) // $TargetBucket - 1)))) AS np FROM e),
         |n AS (SELECT vec_id, e, sqrt(list_sum([x * x for x in e])) AS nrm FROM e),
         |planedots AS (
         |  SELECT n.vec_id, w.p, sum(w.wt * n.e[w.d + 1]) AS dot
         |  FROM n, wbig w WHERE w.p % $MaxPlanesPerTable < (SELECT np FROM params)
         |  GROUP BY n.vec_id, w.p),
         |buckets AS (
         |  SELECT vec_id, p // $MaxPlanesPerTable AS t,
         |    sum(CASE WHEN dot >= 0 THEN 1::BIGINT << (p % $MaxPlanesPerTable) ELSE 0::BIGINT END) AS bucket
         |  FROM planedots GROUP BY vec_id, p // $MaxPlanesPerTable)""".stripMargin
    // The adaptive-SRP k-NN graph build, ranked but unfiltered (`g`),
    // shared by ann_nn_graph (round-0 card) and ann_nn_descent (one
    // neighbor-of-neighbor refinement round over g's top-3 edges).
    val nnGraphCoreCte =
      s"""$adaptiveBucketsCte,
         |cand AS (
         |  SELECT DISTINCT sb.vec_id AS src, db.vec_id AS dst
         |  FROM buckets sb JOIN buckets db ON sb.t = db.t AND sb.bucket = db.bucket
         |  WHERE sb.vec_id <> db.vec_id),
         |sc AS (
         |  SELECT cand.src, cand.dst,
         |    list_sum([p.e[i] * c.e[i] for i in range(1, len(p.e) + 1)]) / (p.nrm * c.nrm) AS cos
         |  FROM cand JOIN n p ON cand.src = p.vec_id JOIN n c ON cand.dst = c.vec_id),
         |g AS (
         |  SELECT src, dst, cos,
         |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
         |  FROM sc)""".stripMargin
    Map(
      "emb_pca_power" ->
        """WITH g AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS g
          |  FROM embeddings),
          |tt AS (SELECT vec_id, g, CAST(list_sum(g) AS BIGINT) AS t FROM g),
          |rows_ AS (
          |  SELECT vec_id, unnest([i for i in range(1, 65)]) AS dim, unnest(g) AS q, t FROM tt),
          |perdim AS (
          |  SELECT dim, CAST(sum(q) AS BIGINT) AS s, CAST(sum(q * t) AS BIGINT) AS u, count(*) AS n
          |  FROM rows_ GROUP BY 1),
          |tot AS (SELECT CAST(sum(s) AS BIGINT) AS bigS, max(n) AS nvec FROM perdim),
          |v1 AS (SELECT dim, s, nvec * u - s * bigS AS v1 FROM perdim, tot),
          |nrm AS (
          |  SELECT list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
          |                   for x in (SELECT list(v1 ORDER BY dim) FROM v1)]) AS nsq)
          |SELECT dim, s AS sum_q, v1,
          |  floor(v1 / sqrt(nsq) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS loading
          |FROM v1, nrm ORDER BY dim""".stripMargin,
      "ann_pq_adc" ->
        """WITH e AS (
          |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
          |sub AS (
          |  SELECT vec_id, e, [e[j*16+1 : j*16+16] for j in range(0, 4)] AS subs FROM e),
          |cb AS (SELECT list(subs ORDER BY vec_id) AS cent FROM sub WHERE vec_id < 16),
          |dists AS (
          |  SELECT vec_id,
          |    [[ list_sum([ (subs[j+1][i] - c[j+1][i]) * (subs[j+1][i] - c[j+1][i]) for i in range(1, 17) ]) for c in cent ] for j in range(0, 4)] AS dists
          |  FROM sub, cb),
          |coded AS (
          |  SELECT vec_id, [ list_position(d, list_min(d)) for d in dists ] AS code FROM dists),
          |probes AS (SELECT vec_id AS probe_id, e AS pe, subs AS psubs FROM sub WHERE vec_id < 10),
          |adc AS (
          |  SELECT probe_id, c.vec_id,
          |    list_sum([ list_sum([ (psubs[j+1][i] - cent[code[j+1]][j+1][i]) * (psubs[j+1][i] - cent[code[j+1]][j+1][i]) for i in range(1, 17) ]) for j in range(0, 4)]) AS ad
          |  FROM probes, coded c, cb WHERE probe_id <> c.vec_id),
          |atop AS (SELECT probe_id, vec_id FROM (
          |  SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id ORDER BY ad, vec_id) AS rn FROM adc) t WHERE rn <= 5),
          |exact AS (
          |  SELECT probe_id, v.vec_id,
          |    list_sum([ (pe[i] - v.e[i]) * (pe[i] - v.e[i]) for i in range(1, 65) ]) AS d
          |  FROM probes, e v WHERE probe_id <> v.vec_id),
          |etop AS (SELECT probe_id, vec_id FROM (
          |  SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id ORDER BY d, vec_id) AS rn FROM exact) t WHERE rn <= 5)
          |SELECT e2.probe_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
          |  floor(count(a.vec_id) / CAST(5 AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS recall5
          |FROM etop e2 LEFT JOIN atop a ON e2.probe_id = a.probe_id AND e2.vec_id = a.vec_id
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "emb_outliers" ->
        """WITH x AS (
          |  SELECT vec_id, label, CAST(i AS BIGINT) AS pos, CAST(embedding[i] AS DOUBLE) AS x
          |  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding)+1)) AS i) t),
          |cent AS (SELECT label, pos, round(avg(x), 4) + 0.0 AS c FROM x GROUP BY 1, 2),
          |d2 AS (
          |  SELECT vec_id, label, round(sum((x - c) * (x - c)), 4) + 0.0 AS dist2
          |  FROM x JOIN cent USING (label, pos) GROUP BY 1, 2),
          |st AS (SELECT label, avg(dist2) AS mu, stddev(dist2) AS sd FROM d2 GROUP BY 1)
          |SELECT label, count(*) AS n_vecs,
          |  CAST(sum(CASE WHEN sd > 0 AND (dist2 - mu) / sd > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
          |  round(max(CASE WHEN sd > 0 THEN (dist2 - mu) / sd END), 4) + 0.0 AS max_z,
          |  round(avg(dist2), 4) AS mean_dist2
          |FROM d2 JOIN st USING (label)
          |GROUP BY label ORDER BY label""".stripMargin,
      "emb_quantize" ->
        """WITH x AS (
          |  SELECT CAST(i AS BIGINT) AS dim, CAST(embedding[i] AS DOUBLE) AS v
          |  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding)+1)) AS i) t),
          |st AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM x GROUP BY dim),
          |q AS (
          |  SELECT x.dim, v, lo, hi, (hi - lo) / 255.0 AS scale,
          |    floor((v - lo) / ((hi - lo) / 255.0) + 0.5) AS qv
          |  FROM x JOIN st USING (dim))
          |SELECT dim, round(lo, 4) AS lo, round(hi, 4) AS hi,
          |  floor(scale * 1e6 + 0.5) / 1e6 AS scale,
          |  floor(avg(abs(lo + qv * scale - v)) * 1e6 + 0.5) / 1e6 AS mae
          |FROM q GROUP BY dim, lo, hi, scale ORDER BY dim""".stripMargin,
      // Mirrors the r10 adaptive route exactly: same hyperplane family
      // (wbig), plane count sized for the CENTROID population
      // (cells = ceil(n/64)/16 via the shared integer formula),
      // candidate centroids = SRP-bucket mates ∪ the stride-block
      // leader, nearest-by-cosine assignment, probe scans its list.
      "ann_ivf_topk" ->
        s"""WITH wbig AS (
          |  SELECT p, d,
          |    CASE WHEN (strpos('0123456789abcdef', substr(md5(p::varchar || ':' || d::varchar), 1, 1)) - 1) & 1 = 1
          |         THEN 1 ELSE -1 END AS wt
          |  FROM (SELECT unnest(range(0, ${NTables * MaxPlanesPerTable})) AS p), (SELECT unnest(range(0, $Dims)) AS d)),
          |e AS (
          |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
          |params AS (
          |  SELECT least($MaxPlanesPerTable, greatest(4, length(bin(((count(*) + ${IvfListOcc - 1}) // $IvfListOcc + ${TargetBucket - 1}) // $TargetBucket - 1)))) AS np FROM e),
          |n AS (SELECT vec_id, e, sqrt(list_sum([x * x for x in e])) AS nrm FROM e),
          |planedots AS (
          |  SELECT n.vec_id, w.p, sum(w.wt * n.e[w.d + 1]) AS dot
          |  FROM n, wbig w WHERE w.p % $MaxPlanesPerTable < (SELECT np FROM params)
          |  GROUP BY n.vec_id, w.p),
          |buckets AS (
          |  SELECT vec_id, p // $MaxPlanesPerTable AS t,
          |    sum(CASE WHEN dot >= 0 THEN 1::BIGINT << (p % $MaxPlanesPerTable) ELSE 0::BIGINT END) AS bucket
          |  FROM planedots GROUP BY vec_id, p // $MaxPlanesPerTable),
          |cand AS (
          |  SELECT vb.vec_id, cb.vec_id AS c_id
          |  FROM buckets vb JOIN buckets cb ON vb.t = cb.t AND vb.bucket = cb.bucket
          |  WHERE cb.vec_id % $IvfListOcc = 0
          |  UNION
          |  SELECT v.vec_id, c.vec_id AS c_id
          |  FROM e v JOIN e c ON c.vec_id = (v.vec_id // $IvfListOcc) * $IvfListOcc),
          |assign AS (
          |  SELECT vec_id, c_id AS list_id FROM (
          |    SELECT cand.vec_id, cand.c_id,
          |      row_number() OVER (PARTITION BY cand.vec_id ORDER BY
          |        (list_sum([v.e[i] * c.e[i] for i in range(1, $Dims + 1)]) / (v.nrm * c.nrm)) DESC,
          |        cand.c_id) AS arnk
          |    FROM cand JOIN n v ON cand.vec_id = v.vec_id JOIN n c ON cand.c_id = c.vec_id) t
          |  WHERE arnk = 1),
          |sc AS (
          |  SELECT p.vec_id AS probe_id, m.vec_id,
          |    list_sum([pv.e[i] * mv.e[i] for i in range(1, $Dims + 1)]) / (pv.nrm * mv.nrm) AS cos
          |  FROM assign p JOIN assign m ON p.list_id = m.list_id AND m.vec_id <> p.vec_id
          |  JOIN n pv ON pv.vec_id = p.vec_id JOIN n mv ON mv.vec_id = m.vec_id
          |  WHERE p.vec_id < 10)
          |SELECT probe_id, vec_id, round(cos, 4) AS cos, rnk FROM (
          |  SELECT probe_id, vec_id, cos,
          |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
          |  FROM sc) t
          |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
      "ann_topk_agg" ->
        """WITH e AS (
          |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
          |n AS (SELECT vec_id, e, sqrt(list_sum([x * x for x in e])) AS nrm FROM e),
          |sc AS (
          |  SELECT p.vec_id AS probe_id, c.vec_id,
          |    list_sum([p.e[i] * c.e[i] for i in range(1, len(p.e) + 1)]) / (p.nrm * c.nrm) AS cos
          |  FROM n p JOIN n c ON p.vec_id < 10 AND p.vec_id <> c.vec_id)
          |SELECT probe_id, vec_id, round(cos, 4) AS cos, rnk FROM (
          |  SELECT probe_id, vec_id, cos,
          |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
          |  FROM sc) t
          |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
      "ann_recall_eval" ->
        s"""WITH $adaptiveBucketsCte,
           |bsc AS (
           |  SELECT p.vec_id AS probe_id, c.vec_id,
           |    list_sum([p.e[i] * c.e[i] for i in range(1, len(p.e) + 1)]) / (p.nrm * c.nrm) AS cos
           |  FROM n p JOIN n c ON p.vec_id < 10 AND p.vec_id <> c.vec_id),
           |truth AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
           |    FROM bsc) t WHERE rnk <= 5),
           |cand AS (
           |  SELECT DISTINCT pb.vec_id AS probe_id, cb.vec_id
           |  FROM buckets pb JOIN buckets cb ON pb.t = cb.t AND pb.bucket = cb.bucket
           |  WHERE pb.vec_id < 10 AND pb.vec_id <> cb.vec_id),
           |lsc AS (
           |  SELECT cand.probe_id, cand.vec_id,
           |    list_sum([p.e[i] * c.e[i] for i in range(1, len(p.e) + 1)]) / (p.nrm * c.nrm) AS cos
           |  FROM cand JOIN n p ON cand.probe_id = p.vec_id JOIN n c ON cand.vec_id = c.vec_id),
           |approx AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
           |    FROM lsc) t WHERE rnk <= 5)
           |SELECT probe_id, n_hits, round(n_hits / CAST(5 AS DOUBLE), 4) AS recall FROM (
           |  SELECT t.probe_id, count(a.vec_id) AS n_hits
           |  FROM truth t LEFT JOIN approx a
           |    ON t.probe_id = a.probe_id AND t.vec_id = a.vec_id
           |  GROUP BY t.probe_id) r
           |ORDER BY probe_id""".stripMargin,
      "ann_hard_negatives" ->
        """WITH e AS (
          |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          |  FROM embeddings),
          |n AS (SELECT vec_id, label, e, sqrt(list_sum([x * x for x in e])) AS nrm FROM e),
          |sc AS (
          |  SELECT p.vec_id AS probe_id, p.label AS probe_label, c.vec_id, c.label AS neg_label,
          |    list_sum([p.e[i] * c.e[i] for i in range(1, len(p.e) + 1)]) / (p.nrm * c.nrm) AS cos
          |  FROM n p JOIN n c ON p.vec_id < 10 AND p.label <> c.label)
          |SELECT probe_id, probe_label, vec_id, neg_label, round(cos, 4) AS cos, rnk FROM (
          |  SELECT probe_id, probe_label, vec_id, neg_label, cos,
          |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
          |  FROM sc) t
          |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
      "emb_norm_card" ->
        """WITH g AS (
          |  SELECT label,
          |    CAST(list_sum([CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
          |                   * CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)
          |                   for x in embedding]) AS BIGINT) AS n2
          |  FROM embeddings)
          |SELECT label, count(*) AS n_vecs,
          |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
          |  round(sqrt(min(n2)) / CAST(10000 AS DOUBLE), 4) AS min_norm,
          |  round(sqrt(max(n2)) / CAST(10000 AS DOUBLE), 4) AS max_norm,
          |  round(sum(n2) / (count(*) * CAST(1e8 AS DOUBLE)), 4) AS mean_norm2
          |FROM g GROUP BY label ORDER BY label""".stripMargin,
      "emb_dim_corr" ->
        """WITH e AS (
          |  SELECT vec_id,
          |    [CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT) for x in embedding] AS g
          |  FROM embeddings),
          |u AS (
          |  SELECT vec_id, CAST(i AS BIGINT) AS i, g[i] AS v
          |  FROM e, (SELECT unnest(range(1, 65)) AS i) t),
          |p AS (
          |  SELECT a.i AS i, b.i AS j, a.v AS x, b.v AS y
          |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i < b.i),
          |st AS (
          |  SELECT i, j, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
          |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
          |  FROM p GROUP BY i, j),
          |c AS (
          |  SELECT i, j, n,
          |    CAST(n * sxy - sx * sy AS DOUBLE) AS num,
          |    CAST(n * sxx - sx * sx AS DOUBLE) AS dx,
          |    CAST(n * syy - sy * sy AS DOUBLE) AS dy
          |  FROM st)
          |SELECT i, j, n, round(num / sqrt(dx * dy), 4) AS r
          |FROM c WHERE dx > 0 AND dy > 0
          |ORDER BY abs(r) DESC, i, j LIMIT 20""".stripMargin,
      "ann_range_search" ->
        """WITH e AS (
          |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
          |n AS (SELECT vec_id, e, sqrt(list_sum([x * x for x in e])) AS nrm FROM e),
          |sc AS (
          |  SELECT p.vec_id AS probe_id, c.vec_id,
          |    CAST(floor(round(list_sum([p.e[i] * c.e[i] for i in range(1, len(p.e) + 1)]) / (p.nrm * c.nrm), 4) * 10000 + 0.5) AS BIGINT) AS g
          |  FROM n p JOIN n c ON p.vec_id < 10 AND p.vec_id <> c.vec_id)
          |SELECT probe_id, count(*) AS n_matches,
          |  round(sum(g) / (count(*) * CAST(10000 AS DOUBLE)), 4) AS avg_cos,
          |  round(max(g) / CAST(10000 AS DOUBLE), 4) AS max_cos
          |FROM sc WHERE g >= 2000
          |GROUP BY probe_id ORDER BY probe_id""".stripMargin,
      "ann_brute_topk" ->
        """WITH e AS (
          |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
          |n AS (SELECT vec_id, e, sqrt(list_sum([x * x for x in e])) AS nrm FROM e),
          |sc AS (
          |  SELECT p.vec_id AS probe_id, c.vec_id,
          |    list_sum([p.e[i] * c.e[i] for i in range(1, len(p.e) + 1)]) / (p.nrm * c.nrm) AS cos
          |  FROM n p JOIN n c ON p.vec_id < 10 AND p.vec_id <> c.vec_id)
          |SELECT probe_id, vec_id, round(cos, 4) AS cos, rnk FROM (
          |  SELECT probe_id, vec_id, cos,
          |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
          |  FROM sc) t
          |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
      "ann_nn_graph" ->
        s"""WITH $nnGraphCoreCte
           |SELECT src, dst, round(cos, 4) AS cos, rnk FROM g
           |WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin,
      "ann_graph_recall" ->
        s"""WITH $nnGraphCoreCte,
           |g3 AS (SELECT src, dst FROM g WHERE rnk <= 3),
           |und AS (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT src, dst FROM g3
           |    UNION ALL
           |    SELECT dst AS src, src AS dst FROM g3) u),
           |cand2 AS (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT src, dst FROM und
           |    UNION ALL
           |    SELECT a.src AS src, b.dst AS dst FROM und a JOIN und b ON a.dst = b.src) u
           |  WHERE src <> dst),
           |sc2 AS (
           |  SELECT cand2.src, cand2.dst,
           |    list_sum([p.e[i] * c.e[i] for i in range(1, len(p.e) + 1)]) / (p.nrm * c.nrm) AS cos
           |  FROM cand2 JOIN n p ON cand2.src = p.vec_id JOIN n c ON cand2.dst = c.vec_id),
           |d3 AS (
           |  SELECT src, dst FROM (
           |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
           |    FROM sc2) t WHERE rnk <= 3),
           |truth AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT p.vec_id AS probe_id, c.vec_id,
           |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
           |        (list_sum([p.e[i] * c.e[i] for i in range(1, len(p.e) + 1)]) / (p.nrm * c.nrm)) DESC,
           |        c.vec_id) AS rnk
           |    FROM n p JOIN n c ON p.vec_id < 10 AND p.vec_id <> c.vec_id) t
           |  WHERE rnk <= 3),
           |gh AS (SELECT * FROM truth WHERE (probe_id, vec_id) IN (SELECT (src, dst) FROM g3 WHERE src < 10)),
           |dh AS (SELECT * FROM truth WHERE (probe_id, vec_id) IN (SELECT (src, dst) FROM d3 WHERE src < 10))
           |SELECT stage, n_true, n_hit,
           |  floor(n_hit / CAST(n_true AS DOUBLE) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS recall3
           |FROM (
           |  SELECT 'graph' AS stage, (SELECT count(*) FROM truth) AS n_true, (SELECT count(*) FROM gh) AS n_hit
           |  UNION ALL
           |  SELECT 'descent' AS stage, (SELECT count(*) FROM truth) AS n_true, (SELECT count(*) FROM dh) AS n_hit) t
           |ORDER BY stage""".stripMargin,
      "ann_nn_descent" ->
        s"""WITH $nnGraphCoreCte,
           |g3 AS (SELECT src, dst FROM g WHERE rnk <= 3),
           |und AS (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT src, dst FROM g3
           |    UNION ALL
           |    SELECT dst AS src, src AS dst FROM g3) u),
           |cand2 AS (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT src, dst FROM und
           |    UNION ALL
           |    SELECT a.src AS src, b.dst AS dst FROM und a JOIN und b ON a.dst = b.src) u
           |  WHERE src <> dst),
           |sc2 AS (
           |  SELECT cand2.src, cand2.dst,
           |    list_sum([p.e[i] * c.e[i] for i in range(1, len(p.e) + 1)]) / (p.nrm * c.nrm) AS cos
           |  FROM cand2 JOIN n p ON cand2.src = p.vec_id JOIN n c ON cand2.dst = c.vec_id)
           |SELECT src, dst, round(cos, 4) AS cos, rnk FROM (
           |  SELECT src, dst, cos,
           |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
           |  FROM sc2) t
           |WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin,
      "ann_lsh_topk" ->
        s"""WITH $adaptiveBucketsCte,
           |cand AS (
           |  SELECT DISTINCT pb.vec_id AS probe_id, cb.vec_id
           |  FROM buckets pb JOIN buckets cb ON pb.t = cb.t AND pb.bucket = cb.bucket
           |  WHERE pb.vec_id < 10 AND pb.vec_id <> cb.vec_id),
           |sc AS (
           |  SELECT cand.probe_id, cand.vec_id,
           |    list_sum([p.e[i] * c.e[i] for i in range(1, len(p.e) + 1)]) / (p.nrm * c.nrm) AS cos
           |  FROM cand JOIN n p ON cand.probe_id = p.vec_id JOIN n c ON cand.vec_id = c.vec_id)
           |SELECT probe_id, vec_id, round(cos, 4) AS cos, rnk FROM (
           |  SELECT probe_id, vec_id, cos,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rnk
           |  FROM sc) t
           |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin)
  }
}
