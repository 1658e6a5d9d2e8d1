package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: treat media as opaque `binary`
  * payloads with typed metadata, and run the decode/feature-extract
  * step as a distributed partition-wise pass.
  *
  * The decode itself is a STUB — no image/audio codecs exist in this
  * container — substituted by a deterministic fake that derives
  * "features" from the raw bytes. Everything around it is real and
  * load-bearing: the binary column construction, the typed metadata
  * schema, the `mapPartitions` batch iteration with an explicit
  * `Encoder` (the Scala analogue of `mapInPandas` batch UDFs), and
  * the partition-preserving shape (no shuffle: feature extraction is
  * embarrassingly parallel over partitions at any scale).
  */
object Multimodal {

  /** Output schema of the fake decoder — the typed metadata contract
    * a real codec implementation would fill.
    */
  private val metaSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("checksum", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("mean_luma", DoubleType, nullable = false)))

  /** STUB decode: deterministic pseudo-features from payload bytes.
    * A real implementation would decode pixels here; the signature,
    * batching, and schema would not change.
    */
  private def fakeDecode(docId: Long, payload: Array[Byte], checksum: String): Row = {
    val n = payload.length
    val width = 64 + n % 512
    val height = 64 + (n * 7) % 512
    val head = payload.take(16).map(b => (b & 0xff).toDouble)
    val meanLuma = if (head.isEmpty) 0.0 else head.sum / head.length / 255.0
    Row(docId, n, checksum, width, height, meanLuma)
  }

  /** Binary ingestion + feature extraction, registered form (r10,
    * VERDICT r9 #7): the decode is a ROW-LOCAL expression tree over
    * the binary payload — `hex()` exposes the first 16 bytes to 16
    * statically-unrolled `conv(substr(...), 16, 10)` terms (no
    * higher-order function, so the whole projection stays inside one
    * whole-stage-codegen span with the scan; no object
    * serialization boundary). Values are bit-identical to the
    * [[metaExtractBatch]] demo: same left-to-right byte sum, same
    * `sum / count / 255.0` division order (MultimodalSpec pins it).
    * The text payload stands in for media bytes (UTF-8 encode);
    * checksum is computed relationally (codegen md5).
    */
  def metaExtract(s: SparkSession, dir: String): DataFrame = {
    val byteTerms = (0 until 16).map { i =>
      s"IF(n_bytes > $i, cast(conv(substring(hx, ${2 * i + 1}, 2), 16, 10) AS double), cast(0 AS double))"
    }.mkString("(", " + ", ")")
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        md5(col("text")).as("checksum"))
      .withColumn("n_bytes", length(col("payload")))
      .withColumn("hx", hex(substring(col("payload"), 1, 16)))
      .selectExpr("doc_id", "n_bytes", "checksum",
        "cast(64 + n_bytes % 512 AS int) AS width",
        "cast(64 + (n_bytes * 7) % 512 AS int) AS height",
        s"IF(n_bytes = 0, cast(0 AS double), $byteTerms / least(16, n_bytes) / cast(255 AS double)) AS mean_luma")
      .withColumn("mean_luma", round(col("mean_luma"), 4))
  }

  /** The `mapPartitions`-with-explicit-`Encoder` batch-iteration demo
    * (the Scala analogue of `mapInPandas` batch UDFs) — the shape a
    * REAL codec needs when the decoder is an external library working
    * on whole buffers rather than an expression. Kept as the
    * documented plumbing demonstration; [[metaExtract]] (row-local
    * codegen decode) is the registered production plan.
    */
  private[graft] def metaExtractBatch(s: SparkSession, dir: String): DataFrame = {
    val withPayload = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        md5(col("text")).as("checksum"))
    val extracted = withPayload.mapPartitions { rows =>
      rows.map { r =>
        fakeDecode(r.getAs[Long]("doc_id"), r.getAs[Array[Byte]]("payload"),
          r.getAs[String]("checksum"))
      }
    }(RowEncoder.encoderFor(metaSchema))
    extracted
      .withColumn("mean_luma", round(col("mean_luma"), 4))
  }

  /** Frame sampling over a video-like binary payload: the payload is
    * cut into fixed 32-byte frames, every 4th frame is kept, and each
    * sampled frame gets a decoded feature (mean byte value as fake
    * luma — a real codec would decode pixels; shape is unchanged).
    *
    * The plumbing is the point and is fully real: row → frame fan-out
    * via a row-local sequence explode (no shuffle — frame extraction
    * parallelizes with the scan at any scale), binary `substring`
    * slicing, and sampling BEFORE feature extraction so skipped
    * frames are never decoded. Output rows scale with corpus bytes /
    * (frame size × sample rate), each row independent — the exact
    * shape of a 100 TB video-frame pipeline stage.
    */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), col("payload"),
        explode(expr(
          "CASE WHEN length(payload) > 0 THEN sequence(cast(0 as bigint), cast(ceil(length(payload) / 32.0) as bigint) - 1) ELSE array() END"))
          .as("frame_id"))
      .where(col("frame_id") % 4 === 0)
      .withColumn("fs", expr("decode(substring(payload, cast(frame_id * 32 + 1 as int), 32), 'UTF-8')"))
      .select(col("doc_id"), col("frame_id"), (col("frame_id") * 32).as("off"),
        length(col("fs")).as("n_bytes"),
        // cast(10000 as double): a bare 10000.0 literal in SQL text is
        // DECIMAL and would flip the output type away from the oracle's
        expr("""floor(aggregate(transform(sequence(1, length(fs)), j -> ascii(substring(fs, j, 1))),
               |  cast(0 as double), (a, x) -> a + x) / length(fs) / cast(255 as double) * 10000 + 0.5)
               |  / cast(10000 as double)""".stripMargin)
          .as("luma"))

  /** Scene-cut detection over the decoded frame stream — shot
    * segmentation, the step before per-scene keyframe extraction and
    * frame dedup in a video pipeline: a cut lands where consecutive
    * frame lumas jump by more than 0.08, and scenes are the runs
    * between cuts (gaps-and-islands over the cut flags). One row per
    * (asset, scene) with its frame span and byte-weighted mean luma.
    * The decode is the deterministic fake (ASCII bytes == code
    * points); the plumbing — frame slicing, per-asset ordered
    * windows, run segmentation — is the real 100 TB shape.
    *
    * Determinism: the cut test is integer cross-multiplied
    * (|s·l' − s'·l|·25 > 510·l·l' ⇔ |s/(255l) − s'/(255l')| > 2/25),
    * so no float comparison can flip between engines; the scene mean
    * is byte-weighted (Σbytes / Σlen / 255) so the aggregate is two
    * exact integer sums — summation-order-free — before one rounded
    * division.
    *
    * Scale: frame fan-out is row-local; both windows and the scene
    * aggregate share one doc_id-keyed exchange, partitions bounded by
    * payload_length/32 frames per asset at any corpus size.
    */
  def sceneCuts(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_id"))
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), col("payload"), explode(expr(
        "CASE WHEN length(payload) > 0 THEN sequence(cast(0 as bigint), cast(ceil(length(payload) / 32.0) as bigint) - 1) ELSE array() END"))
        .as("frame_id"))
      .withColumn("fs", expr("decode(substring(payload, cast(frame_id * 32 + 1 as int), 32), 'UTF-8')"))
      .withColumn("isum", expr(
        """aggregate(transform(sequence(1, length(fs)), j -> ascii(substring(fs, j, 1))),
          |  cast(0 as bigint), (a, x) -> a + x)""".stripMargin))
      .withColumn("flen", length(col("fs")).cast("bigint"))
      .withColumn("cut", when(lag(col("isum"), 1).over(w).isNull, lit(0))
        .otherwise(when(
          abs(col("isum") * lag(col("flen"), 1).over(w) - lag(col("isum"), 1).over(w) * col("flen")) * lit(25L) >
            lit(510L) * col("flen") * lag(col("flen"), 1).over(w), lit(1)).otherwise(lit(0))))
      .withColumn("scene_id", sum(col("cut")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("scene_id"))
      .agg(min(col("frame_id")).as("start_frame"), max(col("frame_id")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        (floor(sum(col("isum")) / sum(col("flen")).cast("double") / lit(255.0) * 10000 + 0.5) / lit(10000.0))
          .as("mean_luma"))
  }

  /** Content-addressed media-block dedup — the blob-store question
    * "how much of the binary corpus is redundant at fixed 64-byte
    * block granularity?". Row-local slicing + codegen md5 per block,
    * ONE corpus shuffle on block_hash (partial-aggregated: one row
    * per distinct hash per partition), then a 1-row global rollup.
    * The same job at 100 TB sizes a dedup-enabled media store.
    */
  def blockDedup(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("payload"), explode(expr(
        "CASE WHEN length(payload) > 0 THEN sequence(cast(0 as bigint), cast(ceil(length(payload) / 64.0) as bigint) - 1) ELSE array() END")).as("i"))
      .select(md5(expr("substring(payload, cast(i * 64 + 1 as int), 64)")).as("block_hash"))
      .groupBy(col("block_hash")).agg(count(lit(1)).as("refs"))
      .agg(count(lit(1)).as("n_unique"),
        sum(col("refs")).as("n_total"),
        sum(when(col("refs") > 1, col("refs") - 1).otherwise(0L)).as("n_dedupable"))
      .select(col("n_unique"), col("n_total"), col("n_dedupable"),
        (floor(col("n_dedupable") / col("n_total").cast("double") * 10000 + 0.5) / lit(10000.0))
          .as("dedup_ratio"))

  /** Cross-payload near-dup pairs at block granularity — the media
    * question [[blockDedup]]'s corpus rollup can't answer: WHICH
    * payloads are storage-level near-duplicates (re-uploads, trims,
    * container re-muxes that keep most 64-byte blocks verbatim)?
    * Per-doc DISTINCT block-hash postings; unique blocks (df = 1)
    * are dropped before the join — they can't form a pair — and a
    * df ≤ 16 cap drops corpus-boilerplate blocks (the same df² guard
    * as the winnowing dedup); the ONLY pair-generating shuffle is
    * keyed by uniform md5 block_hash. Containment = shared /
    * min(total blocks), the asymmetric "is one payload mostly inside
    * the other" measure a blob GC wants. A document's block count and
    * a block's df are windows, so the distinct postings have one
    * reader, and the block_hash window's exchange is the pair
    * self-join's distribution: both sides reuse it.
    */
  def sigDup(s: SparkSession, dir: String): DataFrame = {
    val blocks = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), col("payload"), explode(expr(
        "CASE WHEN length(payload) > 0 THEN sequence(cast(0 as bigint), cast(ceil(length(payload) / 64.0) as bigint) - 1) ELSE array() END")).as("i"))
      .select(col("doc_id"), md5(expr("substring(payload, cast(i * 64 + 1 as int), 64)")).as("block_hash"))
      .distinct()
    val capped = blocks
      .withColumn("n_blocks", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("block_hash"))))
      .where(col("df") >= 2 && col("df") <= 16)
    capped.as("a").join(capped.as("b"),
        col("a.block_hash") === col("b.block_hash") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_blocks"), max(col("a.n_blocks")).as("na"),
        max(col("b.n_blocks")).as("nb"))
      .where(col("n_shared_blocks") >= 2)
      .selectExpr("doc_a", "doc_b", "n_shared_blocks",
        "floor(n_shared_blocks / cast(least(na, nb) AS double) * 10000 + 0.5) / cast(10000 AS double) AS containment")
  }

  /** Audio-style windowed feature extraction: overlapping analysis
    * windows (width 128 samples, hop 64 — the 50%-overlap STFT
    * layout) over the payload, per-window RMS energy, rolled up to
    * per-document statistics. Entirely row-local — window fan-out,
    * the inner energy loop, and the per-doc rollup all happen inside
    * one projection (no explode, no shuffle), so feature extraction
    * parallelizes with the scan exactly like a 100 TB audio
    * pipeline's first stage. Characters stand in for PCM samples
    * (no codecs in the container); the windowing arithmetic is the
    * real deliverable.
    */
  def audioWindows(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .withColumn("nwin", expr(
        "CASE WHEN len >= 128 THEN cast(floor((len - 128) / 64) as bigint) + 1 ELSE cast(0 as bigint) END"))
      .where(col("nwin") > 0)
      .withColumn("energies", expr(
        """transform(sequence(cast(0 as bigint), nwin - 1), w ->
          |  sqrt(aggregate(sequence(1, 128),
          |    cast(0 as double),
          |    (a, j) -> a + pow(ascii(substring(text, cast(w * 64 + j as int), 1)), 2))
          |    / cast(128 as double)) / cast(255 as double))""".stripMargin))
      .select(col("doc_id"), col("nwin").as("n_windows"),
        expr("floor(aggregate(energies, cast(0 as double), (a, x) -> a + x) / size(energies) * 10000 + 0.5) / cast(10000 as double)")
          .as("rms_avg"),
        expr("floor(array_max(energies) * 10000 + 0.5) / cast(10000 as double)")
          .as("rms_max"))

  /** Magic-byte content-type sniffing — the first gate of a
    * multimodal ingest pipeline: route each binary payload by its
    * leading signature bytes (JPEG FFD8FF, PNG 89504E47, RIFF
    * 52494646, GIF 474946) BEFORE any decoder touches it, so the
    * image path never receives audio and unknown blobs fall to a
    * quarantine class instead of crashing a worker. Payloads are
    * synthesized by prepending real signatures (per doc_id residue)
    * to the text bytes; the sniffer is GENERIC — it reads only the
    * payload's leading bytes, longest signature first, exactly as
    * file(1)/libmagic dispatch.
    *
    * Two stages: the sniff runs row-local on the scan (Spark hexes
    * only the leading bytes), and ONE global aggregate counts docs
    * and sums bytes per mime from the [[magic]] table next to the
    * corpus total; its one row explodes to the present mimes (at
    * most five). At 100 TB this is the manifest-building pass that
    * sizes each decoder fleet.
    */
  def typeSniff(s: SparkSession, dir: String): DataFrame = {
    val payloads = Tables.documents(s, dir)
      .selectExpr("doc_id",
        """concat(
          |  CASE cast(doc_id % 5 AS int)
          |  WHEN 0 THEN unhex('FFD8FFE0')
          |  WHEN 1 THEN unhex('89504E47')
          |  WHEN 2 THEN unhex('52494646')
          |  WHEN 3 THEN unhex('47494638')
          |  ELSE cast('' AS binary) END,
          |  encode(text, 'UTF-8')) AS payload""".stripMargin)
    val sniff = magic.map { case (sig, mime) =>
      s"WHEN hex(substring(payload, 1, ${sig.length / 2})) = '$sig' THEN '$mime'"
    }.mkString("CASE ", " ", s" ELSE '$unknownMime' END")
    val mimed = payloads.selectExpr("length(payload) AS n_bytes", s"$sniff AS mime")
    val labels = magic.map(_._2) :+ unknownMime
    val per = labels.zipWithIndex.flatMap { case (m, i) =>
      Seq(count(when(col("mime") === m, 1)).as(s"n$i"),
        sum(when(col("mime") === m, col("n_bytes"))).as(s"b$i"))
    }
    mimed.agg(count(lit(1)).as("n_corpus"), per: _*)
      .select(col("n_corpus"), inline(array(labels.indices.map { i =>
        struct(lit(labels(i)).as("mime"), col(s"n$i").as("n_docs"), col(s"b$i").as("total_bytes"))
      }: _*)))
      .where(col("n_docs") > 0)
      .select(col("mime"), col("n_docs"), col("total_bytes"),
        expr("floor(n_docs / cast(n_corpus AS double) * 10000 + 0.5) / cast(10000 AS double)").as("share"))
  }

  /** [[typeSniff]]'s signatures as (leading bytes in hex, mime),
    * longest first; a payload matching none is [[unknownMime]]. */
  private val magic = Seq(
    "89504E47" -> "image/png",
    "52494646" -> "audio/riff",
    "FFD8FF" -> "image/jpeg",
    "474946" -> "image/gif")
  private val unknownMime = "application/octet-stream"

  /** Inference micro-batch planning over the media corpus — the
    * data-loading step between storage and a GPU decode/embed pass:
    * payloads are routed by sniffed content type (same magic-byte
    * classification as [[typeSniff]] — a batch must be type-
    * homogeneous to share a decoder) and packed in doc_id order into
    * batches by a 4 KiB payload budget (the accelerator-memory
    * knob; production sizes differ, the plan shape doesn't).
    * Assignment is by START offset (prefix sum ÷ budget), so the
    * exact invariant — asserted by the spec — is that a batch
    * exceeds the budget only by its final item: total − max_item
    * < budget. A loader that must HARD-cap bytes sizes its buffer
    * to budget + max item size.
    *
    * Scale: one running-sum window per mime class and a rollup on
    * (mime, batch_id) riding the same exchange — [[graft.operators.
    * Pipeline.packSequences]]' planner shape, applied to bytes.
    */
  def batchPlan(s: SparkSession, dir: String): DataFrame = {
    val mimed = Tables.spread(Tables.documents(s, dir))
      .selectExpr("doc_id",
        """cast(length(concat(
          |  CASE cast(doc_id % 5 AS int)
          |  WHEN 0 THEN unhex('FFD8FFE0')
          |  WHEN 1 THEN unhex('89504E47')
          |  WHEN 2 THEN unhex('52494646')
          |  WHEN 3 THEN unhex('47494638')
          |  ELSE cast('' AS binary) END,
          |  encode(text, 'UTF-8'))) AS bigint) AS n_bytes""".stripMargin,
        """CASE cast(doc_id % 5 AS int)
          |WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
          |WHEN 2 THEN 'audio/riff' WHEN 3 THEN 'image/gif'
          |ELSE 'application/octet-stream' END AS mime""".stripMargin)
    mimed
      .withColumn("batch_id", expr(
        "(sum(n_bytes) OVER (PARTITION BY mime ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_bytes) div 4096"))
      .groupBy(col("mime"), col("batch_id"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("total_bytes"),
        max(col("n_bytes")).as("max_item_bytes"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_batch_plan" -> batchPlan,
    "mm_type_sniff" -> typeSniff,
    "mm_audio_windows" -> audioWindows,
    "mm_meta_extract" -> metaExtract,
    "mm_blocks" -> blockDedup,
    "mm_sig_dup" -> sigDup,
    "mm_frames" -> frameSample,
    "mm_scene_cuts" -> sceneCuts)

  /** The fake decode is reproducible in SQL because the payload is
    * ASCII text: byte values == code points.
    */
  val oracleSql: Map[String, String] = Map(
    "mm_batch_plan" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    strlen(text) + CASE WHEN doc_id % 5 < 4 THEN 4 ELSE 0 END AS n_bytes,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
        |      WHEN 2 THEN 'audio/riff' WHEN 3 THEN 'image/gif'
        |      ELSE 'application/octet-stream' END AS mime
        |  FROM documents),
        |b AS (
        |  SELECT mime, doc_id, n_bytes,
        |    (sum(n_bytes) OVER (PARTITION BY mime ORDER BY doc_id
        |       ROWS UNBOUNDED PRECEDING) - n_bytes) // 4096 AS batch_id
        |  FROM m)
        |SELECT mime, CAST(batch_id AS BIGINT) AS batch_id, count(*) AS n_items,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(max(n_bytes) AS BIGINT) AS max_item_bytes
        |FROM b GROUP BY 1, 2 ORDER BY mime, batch_id""".stripMargin,
    "mm_type_sniff" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    (CASE CAST(doc_id % 5 AS INT)
        |     WHEN 0 THEN unhex('FFD8FFE0')
        |     WHEN 1 THEN unhex('89504E47')
        |     WHEN 2 THEN unhex('52494646')
        |     WHEN 3 THEN unhex('47494638')
        |     ELSE unhex('') END) || encode(text) AS payload
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, octet_length(payload) AS n_bytes,
        |    CASE
        |    WHEN hex(payload) LIKE '89504E47%' THEN 'image/png'
        |    WHEN hex(payload) LIKE '52494646%' THEN 'audio/riff'
        |    WHEN hex(payload) LIKE 'FFD8FF%' THEN 'image/jpeg'
        |    WHEN hex(payload) LIKE '474946%' THEN 'image/gif'
        |    ELSE 'application/octet-stream' END AS mime
        |  FROM p)
        |SELECT mime, count(*) AS n_docs, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  floor(count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE) * 10000 + 0.5)
        |    / CAST(10000 AS DOUBLE) AS share
        |FROM m GROUP BY mime ORDER BY mime""".stripMargin,
    "mm_audio_windows" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(text) >= 128
        |         THEN CAST(floor((length(text) - 128) / 64) AS BIGINT) + 1
        |         ELSE CAST(0 AS BIGINT) END AS nwin
        |  FROM documents)
        |SELECT doc_id, nwin AS n_windows,
        |  floor(list_sum(energies) / len(energies) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS rms_avg,
        |  floor(list_max(energies) * 10000 + 0.5) / CAST(10000 AS DOUBLE) AS rms_max
        |FROM (
        |  SELECT doc_id, nwin,
        |    [sqrt(list_sum([pow(ascii(substring(text, CAST(w * 64 + j AS INT), 1)), 2)
        |                    for j in range(1, 129)]) / CAST(128 AS DOUBLE)) / CAST(255 AS DOUBLE)
        |     for w in range(0, nwin)] AS energies
        |  FROM w WHERE nwin > 0) t
        |ORDER BY doc_id""".stripMargin,
    "mm_blocks" ->
      """WITH b AS (
        |  SELECT doc_id, md5(substr(text, CAST(i*64+1 AS INT), 64)) AS block_hash
        |  FROM documents, LATERAL (SELECT unnest(range(0, CAST(ceil(len(text)/64.0) AS BIGINT))) AS i) t),
        |d AS (SELECT block_hash, count(*) AS refs FROM b GROUP BY block_hash)
        |SELECT CAST(count(*) AS BIGINT) AS n_unique,
        |  CAST(sum(refs) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN refs > 1 THEN refs - 1 ELSE 0 END) AS BIGINT) AS n_dedupable,
        |  floor(sum(CASE WHEN refs > 1 THEN refs - 1 ELSE 0 END) / CAST(sum(refs) AS DOUBLE) * 10000 + 0.5)
        |    / CAST(10000 AS DOUBLE) AS dedup_ratio
        |FROM d""".stripMargin,
    "mm_sig_dup" ->
      """WITH blk AS (
        |  SELECT DISTINCT doc_id, md5(substr(text, CAST(i*64+1 AS INT), 64)) AS block_hash
        |  FROM documents, LATERAL (SELECT unnest(range(0, CAST(ceil(len(text)/64.0) AS BIGINT))) AS i) t),
        |tot AS (SELECT doc_id, count(*) AS n_blocks FROM blk GROUP BY 1),
        |dfc AS (SELECT block_hash FROM blk GROUP BY block_hash HAVING count(*) BETWEEN 2 AND 16),
        |cap AS (SELECT b.doc_id, b.block_hash FROM blk b JOIN dfc d ON b.block_hash = d.block_hash),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM cap a JOIN cap b ON a.block_hash = b.block_hash AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared_blocks,
        |  floor(n_shared / CAST(least(ta.n_blocks, tb.n_blocks) AS DOUBLE) * 10000 + 0.5)
        |    / CAST(10000 AS DOUBLE) AS containment
        |FROM p JOIN tot ta ON p.doc_a = ta.doc_id JOIN tot tb ON p.doc_b = tb.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    "mm_frames" ->
      """WITH fr AS (
        |  SELECT doc_id, text, unnest(range(0, CAST(ceil(len(text) / 32.0) AS BIGINT))) AS frame_id
        |  FROM documents),
        |fx AS (
        |  SELECT doc_id, frame_id, substr(text, CAST(frame_id*32+1 AS INT), 32) AS f
        |  FROM fr WHERE frame_id % 4 = 0)
        |SELECT doc_id, frame_id, frame_id * 32 AS off, CAST(len(f) AS INT) AS n_bytes,
        |  floor(list_sum([ascii(substr(f, j, 1)) * 1.0 for j in range(1, len(f)+1)])
        |        / len(f) / 255.0 * 10000 + 0.5) / 10000.0 AS luma
        |FROM fx ORDER BY doc_id, frame_id""".stripMargin,
    "mm_scene_cuts" ->
      """WITH fr AS (
        |  SELECT doc_id, text, unnest(range(0, CAST(ceil(len(text) / 32.0) AS BIGINT))) AS frame_id
        |  FROM documents),
        |fx AS (
        |  SELECT doc_id, frame_id, substr(text, CAST(frame_id*32+1 AS INT), 32) AS f
        |  FROM fr),
        |fy AS (
        |  SELECT doc_id, frame_id,
        |    CAST(list_sum([ascii(substr(f, j, 1)) for j in range(1, len(f)+1)]) AS BIGINT) AS isum,
        |    CAST(len(f) AS BIGINT) AS flen
        |  FROM fx),
        |fc AS (
        |  SELECT doc_id, frame_id, isum, flen,
        |    CASE WHEN lag(isum) OVER w IS NULL THEN 0
        |         WHEN 25 * abs(isum * (lag(flen) OVER w) - (lag(isum) OVER w) * flen) > 510 * flen * (lag(flen) OVER w)
        |         THEN 1 ELSE 0 END AS cut
        |  FROM fy WINDOW w AS (PARTITION BY doc_id ORDER BY frame_id)),
        |sc AS (
        |  SELECT doc_id, frame_id, isum, flen,
        |    CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS scene_id
        |  FROM fc)
        |SELECT doc_id, scene_id, min(frame_id) AS start_frame, max(frame_id) AS end_frame,
        |  count(*) AS n_frames,
        |  floor(sum(isum) / CAST(sum(flen) AS DOUBLE) / 255.0 * 10000 + 0.5) / 10000.0 AS mean_luma
        |FROM sc GROUP BY doc_id, scene_id
        |ORDER BY doc_id, scene_id""".stripMargin,
    "mm_meta_extract" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_bytes,
        |  md5(text) AS checksum,
        |  CAST(64 + length(text) % 512 AS INT) AS width,
        |  CAST(64 + (length(text) * 7) % 512 AS INT) AS height,
        |  round(list_sum([ascii(substr(text, i, 1)) * 1.0 for i in range(1, least(length(text), 16) + 1)])
        |        / least(length(text), 16) / 255.0, 4) AS mean_luma
        |FROM documents ORDER BY doc_id""".stripMargin)
}
