package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("exact dedup: canonical id never exceeds doc id, all docs covered") {
    val df = Dedup.exact(spark, sfDir)
    assert(df.count() == Tables.documents(spark, sfDir).count())
    assert(df.filter(col("canonical_id") > col("doc_id")).count() == 0)
    assert(df.filter(col("is_canonical") && col("canonical_id") =!= col("doc_id")).count() == 0)
  }

  test("minhash LSH finds the planted near-dup pairs with high estimates") {
    val rows = Dedup.minhashLsh(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val e = r.getAs[Double]("est_jaccard"); e >= 0.5 && e <= 1.0
    })
    assert(rows.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
  }

  test("simhash near-dups have hamming <= 3 and ordered pairs") {
    val rows = Dedup.simhash(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("hamming") <= 3))
    assert(rows.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
  }

  test("simhash near-dups are also minhash candidates (cross-validation)") {
    // hamming ≤ 3 over token simhash is a *stricter* notion of near-dup
    // than banded minhash candidacy — every simhash pair should also be
    // surfaced by the minhash signature agreement.
    val sh = Dedup.simhash(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashLsh(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.nonEmpty)
    assert(sh.subsetOf(mh), s"simhash pairs missing from minhash: ${sh.diff(mh)}")
  }

  test("ngram jaccard values bounded and pairs blocked consistently") {
    val rows = Dedup.ngramJaccard(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val j = r.getAs[Double]("jaccard"); j >= 0.3 && j <= 1.0
    })
  }

  test("embedding cosine bounded in [-1, 1] and thresholded") {
    val rows = Dedup.embedCosine(spark, sfDir).collect()
    assert(rows.forall { r =>
      val c = r.getAs[Double]("cos"); c > 0.35 && c <= 1.0
    })
  }

  test("winnow: shared-fingerprint counts verified against row-local recomputation") {
    import spark.implicits._
    val rows = Dedup.winnow(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("n_shared") >= 2)
      val est = r.getAs[Double]("containment_est")
      assert(est > 0 && est <= 1.0)
    }
    // recompute the min-8 fingerprint sets directly and cross-check the
    // intersection size for every reported pair (the df-cap only drops
    // corpus-boilerplate grams, so a reported pair's count can only be
    // <= the uncapped intersection)
    val fps = graft.Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "split(text, ' ') AS ts")
      .where("size(ts) >= 4")
      .selectExpr("doc_id",
        """slice(array_sort(array_distinct(transform(sequence(1, size(ts) - 3),
          |  i -> md5(concat(element_at(ts, i), ' ', element_at(ts, i + 1), ' ',
          |                  element_at(ts, i + 2), ' ', element_at(ts, i + 3)))))), 1, 8) AS fps""".stripMargin)
      .as[(Long, Seq[String])].collect().toMap
    rows.foreach { r =>
      val inter = fps(r.getAs[Long]("doc_a")).toSet
        .intersect(fps(r.getAs[Long]("doc_b")).toSet).size
      assert(r.getAs[Long]("n_shared") <= inter,
        s"pair ${r.getAs[Long]("doc_a")}/${r.getAs[Long]("doc_b")} reported more shared fingerprints than exist")
    }
  }

  test("minhash recall accounting is internally consistent") {
    val r = operators.Dedup.minhashRecall(spark, sfDir).head()
    val (t, c, h) = (r.getAs[Long]("n_true"), r.getAs[Long]("n_candidates"), r.getAs[Long]("n_hit"))
    assert(h <= t && h <= c)
    assert(r.getAs[Double]("recall") >= 0 && r.getAs[Double]("recall") <= 1)
  }

  // the √N sample modulus: 2^((bitlen(max(1, n/500)) − 1) div 2)
  private def expectSmod(nDocs: Long): Long =
    1L << ((java.lang.Long.toBinaryString(math.max(1L, nDocs / 500)).length - 1) / 2)

  test("sampled recall card: smod formula, and coincides with the full card when smod = 1") {
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    val r = operators.Dedup.minhashRecallSampled(spark, sfDir).head()
    assert(r.getAs[Long]("smod") == expectSmod(nDocs))
    assert(r.getAs[Long]("smod") == 1L, "sf0.001 must sample the whole corpus")
    assert(r.getAs[Long]("n_docs") == nDocs)
    val full = operators.Dedup.minhashRecall(spark, sfDir).head()
    assert(r.getAs[Long]("n_true") == full.getAs[Long]("n_true"))
    assert(r.getAs[Long]("n_candidates") == full.getAs[Long]("n_candidates"))
    assert(r.getAs[Long]("n_hit") == full.getAs[Long]("n_hit"))
    assert(r.getAs[Double]("recall") == full.getAs[Double]("recall"))
  }

  test("prefix-filtered truth path is row-identical to the pairs-complete cross product") {
    // The size-adaptive branch in jaccardBlockedOn must be invisible
    // in the output: force the prefix path on the full sf0.1 corpus
    // (normally below the threshold) and compare against the
    // broadcast cross-product path row by row.
    val dir = "/root/testdata/sf0.1"
    def rows() = Dedup.ngramJaccardBlocked(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
      .toSeq.sorted
    val blocked = rows()
    spark.conf.set("graft.jaccard.prefixMinDocs", "1")
    val prefixed = try rows() finally spark.conf.unset("graft.jaccard.prefixMinDocs")
    assert(blocked.nonEmpty, "sf0.1 must hold true near-dup pairs")
    assert(prefixed == blocked,
      s"prefix filter lost/invented pairs: ${(blocked.toSet diff prefixed.toSet) ++ (prefixed.toSet diff blocked.toSet)}")
  }

  test("prefix-filtered truth path plans with keyed joins only — no cartesian, no block cross product") {
    spark.conf.set("graft.jaccard.prefixMinDocs", "1")
    try {
      val qe = Dedup.ngramJaccardBlocked(spark, sfDir).queryExecution
      qe.toRdd.count()
      val p = qe.executedPlan.toString.split("== Initial Plan ==").head
      assert(!p.contains("CartesianProduct"), p)
      // the pair generator must be an equi-join carrying the prefix
      // token in its key, not a block-key-only join (which would be
      // the cross product the prefix filter exists to avoid)
      assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findFirstIn(p).nonEmpty, p)
      assert(p.contains("tok"), "candidate join must be keyed by the prefix token:\n" + p)
    } finally spark.conf.unset("graft.jaccard.prefixMinDocs")
  }

  test("sampled recall card at sf0.1: bounded sample, modulus-driven membership") {
    val dir = "/root/testdata/sf0.1"
    val nDocs = graft.Tables.documents(spark, dir).count()
    val r = operators.Dedup.minhashRecallSampled(spark, dir).head()
    val smod = r.getAs[Long]("smod")
    assert(smod == expectSmod(nDocs))
    assert(smod > 1L, "sf0.1 must actually sample")
    val expectDocs = graft.Tables.documents(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") % smod === 0).count()
    assert(r.getAs[Long]("n_docs") == expectDocs)
    val (t, c, h) = (r.getAs[Long]("n_true"), r.getAs[Long]("n_candidates"), r.getAs[Long]("n_hit"))
    assert(h <= t && h <= c)
  }

  test("sampled tuning card coincides with the full S-curve card when smod = 1") {
    val full = operators.Dedup.lshTuning(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("rows_per_band"))
    val sampled = operators.Dedup.lshTuningSampled(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("rows_per_band"))
    assert(sampled.length == full.length)
    sampled.zip(full).foreach { case (s0, f) =>
      assert(s0.getAs[Long]("smod") == 1L)
      assert(s0.getAs[Int]("bands") == f.getAs[Int]("bands"))
      assert(s0.getAs[Int]("rows_per_band") == f.getAs[Int]("rows_per_band"))
      assert(s0.getAs[Double]("s_threshold") == f.getAs[Double]("s_threshold"))
      assert(s0.getAs[Long]("n_true") == f.getAs[Long]("n_true"))
      assert(s0.getAs[Double]("exp_recall") == f.getAs[Double]("exp_recall"))
    }
  }

  test("url dedup canonical forms carry none of the noise axes") {
    val rows = operators.Dedup.urlDedup(spark, sfDir).collect()
    assert(rows.nonEmpty, "the synthetic corpus must produce dup classes")
    rows.foreach { r =>
      val u = r.getAs[String]("canon_url")
      assert(u == u.toLowerCase, s"canonical must be lowercased: $u")
      assert(!u.contains("www."), s"www. must be stripped: $u")
      assert(!u.contains(":80") && !u.contains(":443"), s"default port must be stripped: $u")
      assert(!u.contains("utm_"), s"tracking params must be stripped: $u")
      assert(!u.contains("#"), s"fragment must be stripped: $u")
      assert(!u.stripSuffix("?v=1").endsWith("/"), s"trailing slash must be trimmed: $u")
      assert(u.endsWith("?v=1"), s"surviving params must be kept: $u")
      assert(r.getAs[Long]("n_urls") >= 2)
    }
  }

  test("url dedup classes and survivors match the generation parameters") {
    // independent ground truth: a canonical class is exactly
    // (http-vs-https, source, doc_id % 17) by construction
    import org.apache.spark.sql.functions._
    val expected = graft.Tables.documents(spark, sfDir)
      .groupBy(col("source"), (col("doc_id") % 17).as("m"),
        (col("doc_id") % 4 < 2).as("isHttp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("survivor"))
      .filter(col("n") >= 2)
      .collect()
    val got = operators.Dedup.urlDedup(spark, sfDir).collect()
    assert(got.length == expected.length,
      s"class count mismatch: got ${got.length}, ground truth ${expected.length}")
    assert(got.map(_.getAs[Long]("survivor_doc_id")).sorted.toSeq ==
      expected.map(_.getAs[Long]("survivor")).sorted.toSeq)
    assert(got.map(_.getAs[Long]("n_urls")).sum == expected.map(_.getAs[Long]("n")).sum)
  }

  test("lsh tuning: S-curve report consistent with the blocked truth set") {
    val rows = operators.Dedup.lshTuning(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("rows_per_band"))
    assert(rows.length == 5)
    assert(rows.map(r => (r.getAs[Int]("bands"), r.getAs[Int]("rows_per_band"))).toSeq ==
      Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16)))
    val nTrue = rows.head.getAs[Long]("n_true")
    assert(rows.forall(_.getAs[Long]("n_true") == nTrue), "same truth set for every config")
    assert(nTrue > 0)
    // more, shorter bands → lower threshold and higher expected recall
    val thr = rows.map(_.getAs[Double]("s_threshold"))
    val rec = rows.map(_.getAs[Double]("exp_recall"))
    assert(thr.sliding(2).forall { case Array(a, b) => a < b; case _ => true })
    assert(rec.sliding(2).forall { case Array(a, b) => a >= b - 1e-9; case _ => true },
      s"expected recall must not increase with rows_per_band: ${rec.toSeq}")
    assert(thr.last == 1.0 && rec.forall(r => r >= 0 && r <= 1))
    // cross-check one config against a driver-side recomputation
    val sims = operators.Dedup.ngramJaccardBlocked(spark, sfDir)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(sims.length == nTrue)
    val p44 = sims.map { s0 =>
      val s4 = (s0 * s0) * (s0 * s0)
      val q = 1.0 - s4
      1.0 - (q * q) * (q * q)
    }.sum / sims.length
    val got44 = rows(2).getAs[Double]("exp_recall")
    assert(math.abs(got44 - math.floor(p44 * 10000 + 0.5) / 10000.0) <= 1e-4,
      s"(4,4) expected recall: reported $got44, recomputed $p44")
  }

  test("substring runs: pair set and longest run verified against driver-side ground truth") {
    val texts = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(' ')).toMap
    // ground-truth pair set: docs share a >=16-word run iff they share
    // a word-16-gram (no dfCap drops fire on this corpus: max 8-gram
    // df is 4, far under the 50 cap)
    val idx = scala.collection.mutable.Map.empty[String, List[Long]]
    for ((id, ts) <- texts; i <- 0 to ts.length - 16)
      idx.updateWith(ts.slice(i, i + 16).mkString(" "))(o => Some(id :: o.getOrElse(Nil)))
    val expected = idx.values.flatMap { ids =>
      val d = ids.distinct
      for (a <- d; b <- d if a < b) yield (a, b)
    }.toSet
    val rows = operators.Dedup.substringRuns(spark, sfDir).collect()
    val got = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(rows.nonEmpty, "the corpus plants long verbatim overlaps")
    assert(got == expected, s"pair set mismatch: extra=${got.diff(expected)} missing=${expected.diff(got)}")
    // longest reported run equals the true longest common word substring
    rows.foreach { r =>
      val (a, b) = (texts(r.getAs[Long]("doc_a")), texts(r.getAs[Long]("doc_b")))
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      var best = 0
      for (i <- 1 to a.length; j <- 1 to b.length if a(i - 1) == b(j - 1)) {
        dp(i)(j) = dp(i - 1)(j - 1) + 1
        best = math.max(best, dp(i)(j))
      }
      assert(r.getAs[Long]("max_run_words") == best,
        s"pair (${r.getAs[Long]("doc_a")},${r.getAs[Long]("doc_b")}): reported ${r.getAs[Long]("max_run_words")}, true LCS $best")
      assert(r.getAs[Long]("n_shared_grams") >= r.getAs[Long]("max_run_words") - 7)
    }
  }

  test("embed LSH: pair set equals a brute-force bucket + cosine recomputation") {
    val rows = operators.Dedup.embedLsh(spark, sfDir).collect()
    assert(rows.nonEmpty, "the labeled clusters plant same-bucket near-dups")
    rows.foreach { r =>
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
      val nt = r.getAs[Long]("n_tables"); assert(nt >= 1 && nt <= 2)
      val c = r.getAs[Double]("cos"); assert(c > 0.35 && c <= 1.0)
    }
    // independent full recomputation: SRP buckets from the shared
    // ADAPTIVE hyperplane family (r9: same planesFor stripe layout as
    // ann_nn_graph), exact cosine, same threshold — the operator's
    // bucketed path must surface EXACTLY the brute-force-bucketed set.
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding AS array<double>) AS e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val np = operators.Similarity.planesFor(vecs.size.toLong)
    val stripe = operators.Similarity.MaxPlanesPerTable
    def bucket(e: Array[Double], t: Int): Long =
      (0 until np).map { p =>
        val dot = e.indices.map(d => operators.Similarity.weight(t * stripe + p, d) * e(d)).sum
        if (dot >= 0) 1L << p else 0L
      }.sum
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = vecs.keys.toSeq.sorted
    // buckets memoized PER VECTOR (r10): the r9 form recomputed both
    // buckets inside the pair loop — O(pairs·np·dims) md5 calls, a
    // 1670s driver-side test at 500 vectors. Same expected set.
    val buckets = ids.map(i => i -> (0 until 2).map(t => bucket(vecs(i), t))).toMap
    val expected = (for {
      i <- ids; j <- ids if i < j
      shared = (0 until 2).count(t => buckets(i)(t) == buckets(j)(t))
      if shared >= 1 && cosine(vecs(i), vecs(j)) > 0.35
    } yield (i, j, shared.toLong)).toSet
    val got = rows.map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
      r.getAs[Long]("n_tables"))).toSet
    assert(got == expected,
      s"extra=${got.diff(expected)} missing=${expected.diff(got)}")
  }

  test("embed LSH pairs are a subset of what label blocking finds within labels") {
    // within a label block, the bucketed path can only *miss* pairs the
    // exact blocked scorer reports (LSH recall < 1), never invent them.
    val labels = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lsh = operators.Dedup.embedLsh(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
      .filter { case (a, b) => labels(a) == labels(b) }.toSet
    val blocked = operators.Dedup.embedCosine(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(lsh.subsetOf(blocked), s"invented pairs: ${lsh.diff(blocked)}")
  }

  test("containment dominates jaccard and matches a driver-side set recomputation") {
    val texts = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(' ')).toMap
    def shingles(ts: Array[String]): Set[String] =
      ts.sliding(3).map(_.mkString(" ")).toSet
    val rows = operators.Dedup.containment(spark, sfDir).collect()
    assert(rows.nonEmpty, "the replicated corpus must produce containment pairs")
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val (sa, sb) = (shingles(texts(a)), shingles(texts(b)))
      val common = (sa & sb).size
      assert(r.getAs[Long]("n_common") == common, s"($a,$b): intersection")
      val cont = math.floor(common.toDouble / math.min(sa.size, sb.size) * 10000 + 0.5) / 10000.0
      val jac = math.floor(common.toDouble / (sa.size + sb.size - common) * 10000 + 0.5) / 10000.0
      assert(r.getAs[Double]("containment") == cont, s"($a,$b): containment")
      assert(r.getAs[Double]("jaccard") == jac, s"($a,$b): jaccard")
      assert(cont + 1e-9 >= jac, "min-normalization dominates union-normalization")
      assert(common * 2 >= math.min(sa.size, sb.size), "threshold is containment >= 0.5")
    }
  }
}
