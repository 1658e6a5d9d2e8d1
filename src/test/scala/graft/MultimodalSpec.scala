package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  test("every document yields typed metadata with plausible bounds") {
    val df = Multimodal.metaExtract(spark, sfDir)
    assert(df.count() == Tables.documents(spark, sfDir).count())
    val bad = df.filter(
      col("width") < 64 || col("width") >= 576 ||
        col("height") < 64 || col("height") >= 576 ||
        col("mean_luma") < 0 || col("mean_luma") > 1 ||
        length(col("checksum")) =!= 32)
    assert(bad.count() == 0)
  }

  test("payload byte length matches source text length (ascii corpus)") {
    val joined = Multimodal.metaExtract(spark, sfDir)
      .join(Tables.documents(spark, sfDir), "doc_id")
      .filter(col("n_bytes") =!= col("n_chars"))
    assert(joined.count() == 0)
  }

  test("decode is deterministic across runs") {
    val a = Multimodal.metaExtract(spark, sfDir).collect().map(_.toString).sorted
    val b = Multimodal.metaExtract(spark, sfDir).collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("frame sampling keeps every 4th frame with exact offsets and sizes") {
    val rows = Multimodal.frameSample(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val lens = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).as("n")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, fr) =>
      val n = lens(doc)
      val nFrames = (n + 31) / 32
      val expected = (0L until nFrames.toLong).filter(_ % 4 == 0)
      assert(fr.map(_.getAs[Long]("frame_id")).sorted.toSeq == expected,
        s"doc $doc: wrong sampled frame set")
      fr.foreach { r =>
        val id = r.getAs[Long]("frame_id")
        assert(r.getAs[Long]("off") == id * 32)
        val isLast = id == nFrames - 1
        val expectBytes = if (isLast) n - id * 32 else 32L
        assert(r.getAs[Int]("n_bytes") == expectBytes)
        val luma = r.getAs[Double]("luma")
        assert(luma >= 0.0 && luma <= 1.0)
      }
    }
  }

  test("sampled frames never include unsampled frame ids") {
    val bad = Multimodal.frameSample(spark, sfDir)
      .filter(col("frame_id") % 4 =!= 0).count()
    assert(bad == 0)
  }

  test("block dedup accounting is conservative and consistent") {
    val r = Multimodal.blockDedup(spark, sfDir).head()
    val unique = r.getAs[Long]("n_unique"); val total = r.getAs[Long]("n_total")
    val dedupable = r.getAs[Long]("n_dedupable")
    assert(unique + dedupable == total, "every block is either a first copy or dedupable")
    assert(unique > 0 && dedupable >= 0)
    // total blocks = sum over docs of ceil(len/64)
    val expected = Tables.documents(spark, sfDir)
      .select(ceil(length(col("text")) / 64.0).cast("long")).collect().map(_.getLong(0)).sum
    assert(total == expected)
    assert(r.getAs[Double]("dedup_ratio") >= 0 && r.getAs[Double]("dedup_ratio") < 1)
  }

  test("audio windows: counts follow the hop arithmetic, energies normalized") {
    import org.apache.spark.sql.functions._
    val rows = operators.Multimodal.audioWindows(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val lens = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).as("len")).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("len")).toMap
    rows.foreach { r =>
      val len = lens(r.getLong(0))
      val expected = if (len >= 128) (len - 128) / 64 + 1 else 0
      assert(r.getAs[Long]("n_windows") == expected)
      assert(r.getAs[Double]("rms_max") >= r.getAs[Double]("rms_avg"))
      assert(r.getAs[Double]("rms_max") <= 1.0 && r.getAs[Double]("rms_avg") > 0)
    }
    // docs shorter than one window are excluded, all others present
    assert(rows.length == lens.count(_._2 >= 128))
  }

  test("type sniffing routes every payload to its signature class") {
    import org.apache.spark.sql.functions._
    val rows = operators.Multimodal.typeSniff(spark, sfDir).collect()
      .map(r => r.getAs[String]("mime") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("total_bytes"), r.getAs[Double]("share"))).toMap
    // ground truth from the generation residues
    val byRes = graft.Tables.documents(spark, sfDir)
      .groupBy((col("doc_id") % 5).as("r"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("text"))).as("bytes"))
      .collect().map(r => r.getAs[Long]("r") -> (r.getAs[Long]("n"), r.getAs[Long]("bytes"))).toMap
    val expected = Map(
      "image/jpeg" -> 0L, "image/png" -> 1L, "audio/riff" -> 2L,
      "image/gif" -> 3L, "application/octet-stream" -> 4L)
    expected.foreach { case (mime, res) =>
      assert(rows(mime)._1 == byRes(res)._1, s"$mime doc count")
      val sig = if (mime == "application/octet-stream") 0L else 4L
      assert(rows(mime)._2 == byRes(res)._2 + sig * byRes(res)._1,
        s"$mime byte accounting (payload = signature + text bytes)")
    }
    assert(math.abs(rows.values.map(_._3).sum - 1.0) < 0.001, "shares sum to ~1")
  }

  test("batch plan: budget respected, batches contiguous, corpus fully covered") {
    val rows = operators.Multimodal.batchPlan(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_items")).sum ==
      Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      val (items, total, mx) = (r.getAs[Long]("n_items"),
        r.getAs[Long]("total_bytes"), r.getAs[Long]("max_item_bytes"))
      assert(mx <= total && items >= 1)
      // a batch only exceeds the byte budget by its final item (the
      // prefix-sum div boundary) — never by a whole extra item
      assert(total - mx < 4096, s"batch ${r.getAs[String]("mime")}/${r.getAs[Long]("batch_id")} overfilled")
    }
    rows.groupBy(_.getAs[String]("mime")).foreach { case (m, rs) =>
      val ids = rs.map(_.getAs[Long]("batch_id")).sorted
      assert(ids.head == 0 && ids.toSeq == (0L to ids.last).toSeq, s"$m: batch ids not contiguous")
    }
  }

  test("sig dup: pair set equals a driver-side block-postings recomputation") {
    val rows = operators.Multimodal.sigDup(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("n_shared_blocks") >= 2)
      val c = r.getAs[Double]("containment"); assert(c > 0 && c <= 1.0)
    }
    // full recomputation: distinct 64-byte-block md5s per doc, df cap
    // [2, 16], pair intersection counts, containment vs min totals
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val blocks = texts.map { case (id, t) =>
      id -> t.grouped(64).map(md5hex).toSet
    }.toMap
    val df = blocks.values.flatten.groupBy(identity).map { case (h, hs) => h -> hs.size }
    val capped = blocks.map { case (id, hs) =>
      id -> hs.filter(h => df(h) >= 2 && df(h) <= 16)
    }
    val ids = blocks.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      shared = capped(a).intersect(capped(b)).size if shared >= 2
    } yield {
      val cont = math.floor(
        shared / math.min(blocks(a).size, blocks(b).size).toDouble * 10000 + 0.5) / 10000.0
      (a, b, shared.toLong, cont)
    }).toSet
    val got = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
      r.getAs[Long]("n_shared_blocks"), r.getAs[Double]("containment"))).toSet
    assert(got == expected, s"extra=${got.diff(expected)} missing=${expected.diff(got)}")
  }

  test("scene cuts: driver-side recomputation of frames, cuts, and scene spans") {
    val docs = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    case class Fr(isum: Long, flen: Long)
    val expected = docs.flatMap { case (doc, text) =>
      val frames = text.getBytes("UTF-8").grouped(32).toArray
        .map(b => Fr(b.map(_.toLong & 0xff).sum, b.length.toLong))
      if (frames.isEmpty) Seq.empty
      else {
        val cuts = frames.indices.map { i =>
          if (i == 0) 0
          else {
            val (a, b) = (frames(i - 1), frames(i))
            if (25L * math.abs(b.isum * a.flen - a.isum * b.flen) > 510L * a.flen * b.flen) 1 else 0
          }
        }
        val sceneIds = cuts.scanLeft(0L)(_ + _).tail
        frames.indices.groupBy(sceneIds(_)).map { case (sid, idxs) =>
          val si = idxs.map(frames(_).isum).sum
          val sl = idxs.map(frames(_).flen).sum
          (doc, sid) -> ((idxs.min.toLong, idxs.max.toLong, idxs.size.toLong,
            math.floor(si.toDouble / sl / 255.0 * 10000 + 0.5) / 10000.0))
        }
      }
    }
    val got = Multimodal.sceneCuts(spark, sfDir).collect()
    assert(got.length == expected.size, s"scene count: got ${got.length}, expected ${expected.size}")
    got.foreach { r =>
      val k = (r.getAs[Long]("doc_id"), r.getAs[Long]("scene_id"))
      val e = expected(k)
      assert(r.getAs[Long]("start_frame") == e._1, s"$k start")
      assert(r.getAs[Long]("end_frame") == e._2, s"$k end")
      assert(r.getAs[Long]("n_frames") == e._3, s"$k n_frames")
      assert(r.getAs[Double]("mean_luma") == e._4, s"$k mean_luma")
    }
    // scenes partition the frame stream: per doc, spans are contiguous and disjoint
    got.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("scene_id"))
      assert(sorted.head.getAs[Long]("start_frame") == 0L, s"$doc first scene start")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_frame") == a.getAs[Long]("end_frame") + 1, s"$doc contiguity")
        case _ =>
      }
    }
  }

  test("meta_extract: row-local codegen decode is bit-identical to the batch demo, no object boundary") {
    val prod = Multimodal.metaExtract(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString(","))
    val prodRows = rows(prod)
    // post-execution (AQE-final) plan: no mapPartitions object
    // boundary, decode projection inside a codegen span
    val plan = prod.queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions") && !plan.contains("DeserializeToObject"),
      s"registered meta_extract still crosses an object boundary:\n$plan")
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).nonEmpty,
      s"decode projection fell out of whole-stage codegen:\n$plan")
    assert(prodRows == rows(Multimodal.metaExtractBatch(spark, sfDir)),
      "expression decode diverged from the batch-iteration demo")
  }
}
