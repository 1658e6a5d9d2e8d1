package graft

import graft.operators.{Dedup, Pipeline}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  test("dedup clusters: every LSH pair is intra-cluster, ids are member minima") {
    val members = Pipeline.dedupClusters(spark, sfDir).collect()
    assert(members.nonEmpty)
    val clusterOf = members.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    // the defining property: both endpoints of every near-dup pair share a cluster
    val pairs = Dedup.minhashLsh(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusterOf(a) == clusterOf(b), s"pair ($a,$b) split across clusters")
    }
    // cluster_id = min member id, sizes consistent, no singletons
    members.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, rows) =>
      assert(rows.map(_.getAs[Long]("doc_id")).min == cid)
      assert(rows.forall(_.getAs[Long]("n_docs") == rows.length))
      assert(rows.length >= 2)
    }
  }

  test("dedup clusters chain transitively beyond direct pairs at sf0.01") {
    // sf0.01 plants a size-3 chain (a~b, b~c without a~c): membership
    // must exceed what pairwise grouping alone would give.
    val members = Pipeline.dedupClusters(spark, "/root/testdata/sf0.01")
    assert(members.filter(col("n_docs") >= 3).count() > 0)
  }

  test("large-star/small-star: O(log n) rounds on a 999-diameter chain label-prop can't finish") {
    val n = 1000L
    val chain = spark.range(n - 1).select(col("id").as("src"), (col("id") + lit(1)).as("dst"))
    val (labels, rounds) = Pipeline.ccStar(chain)
    assert(rounds <= 15, s"star took $rounds rounds — not logarithmic in $n")
    val l = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l.size == n && l.values.forall(_ == 0L), "chain must collapse to one cluster rooted at 0")
    // the same chain defeats min-label propagation: still iterating
    // at a cap far beyond ccStar's convergence (diameter-bound rounds)
    val sym = chain.union(chain.select(col("dst").as("src"), col("src").as("dst")))
    val (_, lpRounds) = Pipeline.ccLabelProp(sym, maxIter = 25)
    assert(lpRounds == 25, "label prop should still be iterating at the cap on this chain")
  }

  test("star variant reproduces the label-prop clusters on the real LSH pair graph") {
    val pairs = Dedup.minhashLsh(spark, sfDir)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cache()
    val n = Some(edges.count())
    def clusters(labels: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      labels.collect().map(r => (r.getAs[Long]("label"), r.getAs[Long]("id"))).toSet
    try {
      val base = clusters(Pipeline.ccLabelProp(edges, edgeRowsHint = n)._1)
      assert(base.nonEmpty)
      val star = clusters(Pipeline.ccStar(edges, edgeRowsHint = n)._1)
      assert(star == base, "the two CC algorithms must reach the same fixpoint")
    } finally edges.unpersist()
  }

  test("a lazy checkpoint keeps its source plan's SQL metrics alive after its lineage is cut") {
    // built in a method, so no local keeps the source frame reachable
    def cut(): (org.apache.spark.sql.DataFrame, Seq[java.lang.ref.WeakReference[AnyRef]]) = {
      val src = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
      val cp = Tables.pin(src)
      (cp, src.queryExecution.executedPlan.collect { case p => p.metrics.values }.flatten
        .map(new java.lang.ref.WeakReference[AnyRef](_)))
    }
    val (cp, metrics) = cut()
    assert(metrics.nonEmpty)
    // materializes the checkpoint, which truncates its lineage
    assert(cp.count() == 7)
    System.gc()
    assert(metrics.forall(_.get != null),
      "a job still computing the checkpoint from its lineage would report collected metrics")
    assert(cp.count() == 7)
  }

  test("stratified sample keeps rate-consistent counts per stratum") {
    val rows = Pipeline.sampleStratified(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val total = r.getAs[Long]("n_total")
      val kept = r.getAs[Long]("n_sampled")
      assert(kept >= 0 && kept <= total)
      assert(math.abs(r.getAs[Double]("rate") - kept.toDouble / total) < 1e-3)
    }
    // content-addressed: a second run is bit-identical
    assert(Pipeline.sampleStratified(spark, sfDir).collect().map(_.toString).sorted.toSeq ==
      rows.map(_.toString).sorted.toSeq)
  }

  test("sequence packing conserves tokens and fills chunks in order") {
    val chunks = Pipeline.packSequences(spark, sfDir).collect()
    assert(chunks.nonEmpty)
    val bySource = chunks.groupBy(_.getAs[String]("source"))
    val docTokens = Tables.documents(spark, sfDir)
      .select(col("source"), size(split(col("text"), " ")).cast("bigint").as("tok"))
      .groupBy("source").agg(sum("tok").as("t")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("t")).toMap
    bySource.foreach { case (src, rows) =>
      // token conservation: chunk sums equal the source's total tokens
      assert(rows.map(_.getAs[Long]("n_tokens")).sum == docTokens(src))
      // chunk ids are contiguous from 0 (no doc exceeds the 2048 budget)
      val ids = rows.map(_.getAs[Long]("chunk_id")).sorted
      assert(ids.head == 0L && ids.zipWithIndex.forall { case (id, i) => id == i })
      // every chunk except the last crosses the 2048 boundary it was cut at
      assert(rows.forall(_.getAs[Long]("n_docs") > 0))
    }
  }

  test("boilerplate ngrams are 5 words, distinct, and df-thresholded") {
    val dir = "/root/testdata/sf0.01"
    val rows = Pipeline.textBoilerplate(spark, dir).collect()
    assert(rows.nonEmpty)
    val ngrams = rows.map(_.getAs[String]("ngram"))
    assert(ngrams.distinct.length == ngrams.length)
    assert(ngrams.forall(_.split(" ").length == 5))
    assert(rows.forall(_.getAs[Long]("df") >= 3))
    // every df recounts on the driver (a doc counts a 5-gram once),
    // and no 5-gram at the threshold is missing
    val truth = Tables.documents(spark, dir).select("text").collect()
      .map(_.getString(0).split(" ", -1)).filter(_.length >= 5)
      .flatMap(_.sliding(5).map(_.mkString(" ")).toSet)
      .groupBy(identity).view.mapValues(_.length.toLong).filter(_._2 >= 3).toMap
    assert(rows.map(r => r.getAs[String]("ngram") -> r.getAs[Long]("df")).toMap == truth)
  }

  test("decontamination flags only non-eval docs that truly share an 8-gram") {
    val rows = Pipeline.textDecontaminate(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 7 != 0)
      val shared = r.getAs[Long]("n_shared")
      assert(shared >= 1 && shared <= r.getAs[Long]("n_grams"))
      val rate = r.getAs[Double]("rate")
      assert(rate > 0.0 && rate <= 1.0)
    }
    // ground-truth one flagged doc: its text must share a full 8-gram
    // with some eval doc, computed independently of the operator
    def grams(text: String): Set[String] =
      text.split(" ").sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSet
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val evalGrams = docs.collect { case (id, t) if id % 7 == 0 => grams(t) }
      .foldLeft(Set.empty[String])(_ ++ _)
    val first = rows.minBy(_.getAs[Long]("doc_id"))
    val flagged = first.getAs[Long]("doc_id")
    assert(grams(docs(flagged)).intersect(evalGrams).size == first.getAs[Long]("n_shared"))
  }

  test("corpus funnel stages are cumulative and non-vacuous") {
    val rows = Pipeline.corpusFunnel(spark, sfDir).collect().sortBy(_.getAs[String]("stage"))
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("s0_total", "s1_lang_en", "s2_length", "s3_dedup", "s4_sample"))
    val counts = rows.map(_.getAs[Long]("n_docs"))
    assert(counts.head == Tables.documents(spark, sfDir).count())
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    // every stage must actually pass something through (no vacuous filters)
    assert(counts.forall(_ > 0))
    // and the funnel must actually narrow somewhere
    assert(counts.last < counts.head)
  }

  test("embedding centroids: one row per (label, dim), mean spot-checked") {
    val rows = Pipeline.embCentroids(spark, sfDir).collect()
    val labels = Tables.embeddings(spark, sfDir).select("label").distinct().count()
    assert(rows.length == labels * 64)
    // spot-check one cell against an independently computed mean
    val l0 = rows.filter(r => r.getAs[Int]("label") == rows.map(_.getAs[Int]("label")).min &&
      r.getAs[Long]("dim") == 1L).head
    val expected = Tables.embeddings(spark, sfDir)
      .filter(col("label") === l0.getAs[Int]("label"))
      .select(avg(element_at(col("embedding"), 1).cast("double"))).first().getDouble(0)
    assert(math.abs(l0.getAs[Double]("centroid") - BigDecimal(expected)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("unigram logprob: every doc scored, in-vocab docs beat OOV floor") {
    val rows = Pipeline.textLogprob(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    // natural-log unigram probs are strictly negative; and with the
    // whole (tiny) vocab in the top-1000 no doc can hit the OOV floor
    val totalTok = Tables.documents(spark, sfDir)
      .select(sum(size(split(col("text"), " ")))).first().getLong(0)
    val floorLp = math.log(0.5 / totalTok)
    rows.foreach { r =>
      val lp = r.getAs[Double]("avg_logp")
      assert(lp < 0 && lp > floorLp, s"doc ${r.getAs[Long]("doc_id")}: $lp outside ($floorLp, 0)")
      assert(r.getAs[Long]("n_tokens") > 0)
    }
    // token conservation across the corpus
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == totalTok)
  }

  test("temperature mixing: weights normalize and flatten the head language") {
    val rows = Pipeline.sampleTemp(spark, sfDir).collect()
    assert(rows.length >= 2)
    val weights = rows.map(r => r.getAs[String]("lang") -> r.getAs[Double]("weight")).toMap
    assert(math.abs(weights.values.sum - 1.0) < 1e-3)
    val tokens = rows.map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_tokens")).toMap
    val tokShare = tokens.view.mapValues(_.toDouble / tokens.values.sum).toMap
    // α<1 ⇒ the largest stratum's weight is below its raw share and
    // the smallest stratum's weight is above its raw share
    val big = tokens.maxBy(_._2)._1; val small = tokens.minBy(_._2)._1
    assert(weights(big) < tokShare(big), s"head lang $big not flattened")
    assert(weights(small) > tokShare(small), s"tail lang $small not boosted")
    // targets are the weight scaled to the 10k budget
    rows.foreach { r =>
      assert(math.abs(r.getAs[Long]("n_target") - r.getAs[Double]("weight") * 10000) <= 1.0)
    }
  }

  test("corpus stats: doc counts per stratum sum to the corpus, percentiles ordered") {
    val rows = Pipeline.corpusStats(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      assert(r.getAs[Double]("p50_chars") <= r.getAs[Double]("p95_chars"))
      assert(r.getAs[Long]("total_chars") >= r.getAs[Long]("n_docs"))
    }
  }

  test("dedup survivors: one survivor per cluster, drops = members minus one") {
    val clusters = Pipeline.dedupClusters(spark, sfDir)
    val rows = Pipeline.dedupSurvivors(spark, sfDir).collect()
    assert(rows.length == clusters.select("cluster_id").distinct().count())
    val sizes = clusters.groupBy("cluster_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dropped") == sizes(r.getAs[Long]("cluster_id")) - 1)
    }
  }

  test("tok shard plan: shards partition the corpus and stay near the token budget") {
    val rows = Pipeline.tokShardPlan(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val totalDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(totalDocs == Tables.documents(spark, sfDir).count())
    // shard ids are dense from 0
    val ids = rows.map(_.getAs[Long]("shard_id")).sorted
    assert(ids.toSeq == (0L until ids.length.toLong))
    // every shard except possibly the last crosses the budget boundary
    // only via its final doc: n_tokens >= 4096 - max doc length is a
    // loose invariant; assert non-last shards hold >= 1 doc and the
    // global token sum matches
    val totalToks = rows.map(_.getAs[Long]("n_tokens")).sum
    val expected = Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).cast("long"))
      .collect().map(_.getLong(0)).sum
    assert(totalToks == expected)
  }

  test("emb assign: every vector assigned once; diagonal dominates the confusion matrix") {
    val rows = Pipeline.embAssign(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(total == Tables.embeddings(spark, sfDir).count())
    val diag = rows.filter(r => r.getAs[Int]("label") == r.getAs[Int]("assigned"))
      .map(_.getAs[Long]("n_vecs")).sum
    // the synthetic labels are noisy, but the diagonal must beat the
    // 1/10 uniform-assignment baseline decisively
    assert(diag.toDouble / total > 0.2, s"diagonal $diag of $total")
  }

  test("chunk overlap: chunks cover every doc, overlap cost follows the stride") {
    import org.apache.spark.sql.functions._
    val rows = Pipeline.chunkOverlap(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(nDocs == Tables.documents(spark, sfDir).count(), "every doc chunked")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_chunks") >= r.getAs[Long]("n_docs"), "at least one chunk per doc")
      // total chunk tokens = corpus tokens + overlap duplication, so
      // overlap_tokens is exactly the storage overhead and never negative
      assert(r.getAs[Long]("overlap_tokens") >= 0L)
      assert(r.getAs[Long]("n_tail_chunks") <= r.getAs[Long]("n_chunks"))
    }
    // multi-chunk docs exist on this corpus (docs up to ~100 tokens vs C=32),
    // so overlap duplication must actually occur
    assert(rows.map(_.getAs[Long]("overlap_tokens")).sum > 0, "expected real overlap")
    // doubling the chunk size via conf must reduce the chunk count
    val base = rows.map(_.getAs[Long]("n_chunks")).sum
    try {
      spark.conf.set("graft.chunk.size", "64")
      spark.conf.set("graft.chunk.overlap", "16")
      val bigger = Pipeline.chunkOverlap(spark, sfDir).collect()
        .map(_.getAs[Long]("n_chunks")).sum
      assert(bigger < base, s"bigger chunks must mean fewer chunks ($bigger vs $base)")
    } finally {
      spark.conf.unset("graft.chunk.size")
      spark.conf.unset("graft.chunk.overlap")
    }
  }

  test("mix plan: budget reconciles, rates cap at 1, epochs and shortfall agree") {
    val rows = Pipeline.corpusMixPlan(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val shares = rows.map(_.getAs[Double]("target_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-4, s"shares must sum to ~1: ${shares.sum}")
    val totalAvail = rows.map(_.getAs[Long]("avail_tokens")).sum
    val totalTarget = rows.map(_.getAs[Long]("target_tokens")).sum
    // budget is half the corpus; floor() per source loses < 1 token each
    assert(totalTarget <= totalAvail / 2 && totalTarget >= totalAvail / 2 - rows.length)
    rows.foreach { r =>
      val (avail, target) = (r.getAs[Long]("avail_tokens"), r.getAs[Long]("target_tokens"))
      val rate = r.getAs[Double]("sample_rate")
      val epochs = r.getAs[Long]("n_epochs")
      val shortfall = r.getAs[Long]("shortfall_single_epoch")
      assert(rate > 0 && rate <= 1.0)
      if (target <= avail) {
        assert(epochs <= 1 && shortfall == 0, s"${r.get(0)}: under-subscribed branch")
      } else {
        assert(rate == 1.0 && epochs >= 2 && shortfall == target - avail,
          s"${r.get(0)}: over-subscribed branch")
      }
    }
    // the deterministic weights must exercise BOTH branches on this corpus
    assert(rows.exists(_.getAs[Long]("shortfall_single_epoch") > 0), "need an over-subscribed source")
    assert(rows.exists(r => r.getAs[Long]("target_tokens") <= r.getAs[Long]("avail_tokens")),
      "need an under-subscribed source")
  }

  test("tok_vocab_coverage: OOV accounting recounts against a brute vocab") {
    import spark.implicits._
    val rows = Pipeline.tokVocabCoverage(spark, sfDir).collect()
    assert(rows.length == 20, "one row per source")
    // brute vocab + per-source recount from the raw corpus
    val docs = graft.Tables.documents(spark, sfDir)
      .select("source", "text").as[(String, String)].collect()
    val counts = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach(_._2.split(" ").foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1))
    val vocab = counts.toSeq.sortBy { case (w, n) => (-n, w) }.take(20).map(_._1).toSet
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val toks = docs.filter(_._1 == src).flatMap(_._2.split(" "))
      val oov = toks.filterNot(vocab)
      assert(r.getAs[Long]("n_tokens") == toks.length)
      assert(r.getAs[Long]("n_oov") == oov.length)
      assert(r.getAs[Long]("n_oov_types") == oov.distinct.length)
      assert(math.abs(r.getAs[Double]("oov_rate") -
        math.floor(oov.length.toDouble / toks.length * 10000 + 0.5) / 10000.0) < 1e-9)
    }
    // the 20-word vocab must leave real OOV mass on this corpus
    assert(rows.exists(_.getAs[Long]("n_oov") > 0))
  }

  test("tok_pair_counts: top merge candidate matches an independent recount") {
    import spark.implicits._
    val rows = Pipeline.tokPairCounts(spark, sfDir).collect()
    assert(rows.length == 20)
    rows.foreach(r => assert(r.getAs[String]("pair").length == 3, "pair is two single chars"))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("n") > b.getAs[Long]("n") ||
          (a.getAs[Long]("n") == b.getAs[Long]("n") &&
            a.getAs[String]("pair") < b.getAs[String]("pair")))
      case _ =>
    }
    // brute recount of every adjacent char pair over the raw corpus
    val counts = scala.collection.mutable.Map.empty[String, Long]
    graft.Tables.documents(spark, sfDir).select("text").as[String].collect()
      .foreach(_.split(" ").filter(_.length >= 2).foreach { w =>
        w.sliding(2).foreach { p =>
          val k = s"${p(0)} ${p(1)}"
          counts(k) = counts.getOrElse(k, 0L) + 1
        }
      })
    val best = counts.toSeq.sortBy { case (p, n) => (-n, p) }.head
    assert(rows.head.getAs[String]("pair") == best._1 && rows.head.getAs[Long]("n") == best._2)
  }

  test("merge application kills the merged pair and applies the true winner") {
    val top = operators.Pipeline.tokPairCounts(spark, sfDir).head()
    val rows = operators.Pipeline.tokMergeApply(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // the applied merge IS the scan winner
    assert(rows.forall(_.getAs[String]("merge") == top.getAs[String]("pair")))
    // BPE invariant: after a merge is applied, that adjacency no longer
    // exists anywhere (every occurrence became the merged symbol)
    assert(!rows.exists(r => r.getAs[String]("pair") == r.getAs[String]("merge")),
      "the merged pair must not survive its own application")
    rows.foreach(r => assert(r.getAs[Long]("n") >= 1))
  }

  test("holdout split partitions the corpus deterministically") {
    val rows = operators.Pipeline.sampleSplit(spark, sfDir).collect()
    val total = graft.Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total,
      "splits must partition the corpus exactly")
    assert(rows.map(_.getAs[String]("split")).toSet.subsetOf(Set("train", "valid", "test")))
    val train = rows.filter(_.getAs[String]("split") == "train").map(_.getAs[Long]("n_docs")).sum
    assert(train > total * 0.9, s"~97.7% of docs hash under 'fa': $train/$total")
    // content-addressed: a second run is bit-identical
    val again = operators.Pipeline.sampleSplit(spark, sfDir).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("corpus drift: marginals reconcile and chi2 parts recompute") {
    val rows = operators.Pipeline.corpusDrift(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val corpus = Tables.documents(spark, sfDir).count()
    // per-source observed counts must sum to that source's total
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("obs")).sum == rs.head.getAs[Long]("source_total"))
    }
    // per-bucket observed counts across sources must sum to the bucket total
    rows.groupBy(_.getAs[Long]("bucket")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("obs")).sum == rs.head.getAs[Long]("bucket_total"))
    }
    rows.foreach { r =>
      val exp = math.floor(r.getAs[Long]("bucket_total").toDouble * r.getAs[Long]("source_total")
        / corpus * 10000 + 0.5) / 10000.0
      assert(r.getAs[Double]("exp_docs") == exp)
      val d = r.getAs[Long]("obs") - r.getAs[Double]("exp_docs")
      assert(r.getAs[Double]("chi2_part") == math.floor(d * d / r.getAs[Double]("exp_docs") * 10000 + 0.5) / 10000.0)
    }
  }

  test("cluster stats recount the corpus and agree with the cluster builder") {
    val stats = operators.Pipeline.clusterStats(spark, sfDir).collect()
    val corpus = Tables.documents(spark, sfDir).count()
    assert(stats.map(_.getAs[Long]("n_docs")).sum == corpus, "sizes must partition the corpus")
    stats.foreach(r => assert(
      r.getAs[Long]("n_docs") == r.getAs[Long]("size") * r.getAs[Long]("n_clusters")))
    val clustered = operators.Pipeline.dedupClusters(spark, sfDir)
      .select("cluster_id").distinct().count()
    val multi = stats.filter(_.getAs[Long]("size") >= 2).map(_.getAs[Long]("n_clusters")).sum
    assert(multi == clustered, s"size>=2 cluster count $multi vs builder $clustered")
    val singles = stats.filter(_.getAs[Long]("size") == 1).map(_.getAs[Long]("n_clusters")).sum
    assert(singles == corpus - operators.Pipeline.dedupClusters(spark, sfDir).count())
  }

  test("gopher gate: every rule flips both ways and the combined gate dominates") {
    val rows = operators.Pipeline.gopherGate(spark, sfDir).collect()
      .map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_checked"), r.getAs[Long]("n_fail"), r.getAs[Long]("n_pass"))).toMap
    assert(rows.keySet == Set("r1_word_count", "r2_dup_ratio", "r3_top_bigram",
      "r4_entropy", "r5_dup_3gram", "r6_all_rules"))
    val n = Tables.documents(spark, sfDir).count()
    rows.values.foreach { case (checked, fail, pass) =>
      assert(checked == n && fail + pass == checked)
      assert(fail >= 1 && pass >= 1, "a rule that never fires (or always fires) is miscalibrated")
    }
    val all = rows("r6_all_rules")._2
    val singles = rows.filterKeys(_ != "r6_all_rules").values.map(_._2)
    assert(all >= singles.max, "the union gate kills at least the worst single rule")
    assert(all <= singles.sum, "the union gate kills at most the sum of single rules")
  }

  test("gopher gate: fused single-scan form is byte-identical to the operator composition") {
    import org.apache.spark.sql.functions.{col => c}
    // the pre-r10 composition, rebuilt from the registered signal ops
    val rep = operators.TextAnalysis.repetition(spark, sfDir)
      .select(c("doc_id"), c("n_words"), c("n_distinct_words"),
        c("top_bigram_count"), c("n_bigrams"))
    val ent = operators.TextAnalysis.entropy(spark, sfDir).select(c("doc_id"), c("entropy"))
    val cov = operators.TextAnalysis.dupCoverage(spark, sfDir).select(c("doc_id"), c("n_words_covered"))
    val composed = rep.join(ent, "doc_id").join(cov, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "CASE WHEN n_words < 20 OR n_words > 90 THEN 1 ELSE 0 END AS f1",
        "CASE WHEN 100 * (n_words - n_distinct_words) > 65 * n_words THEN 1 ELSE 0 END AS f2",
        "CASE WHEN n_bigrams > 0 AND 100 * top_bigram_count > 8 * n_bigrams THEN 1 ELSE 0 END AS f3",
        "CASE WHEN entropy < 2.4 THEN 1 ELSE 0 END AS f4",
        "CASE WHEN coalesce(n_words_covered, 0) * 20 > n_words THEN 1 ELSE 0 END AS f5")
      .selectExpr(
        """stack(6,
          |  'r1_word_count', f1, 'r2_dup_ratio', f2, 'r3_top_bigram', f3,
          |  'r4_entropy', f4, 'r5_dup_3gram', f5,
          |  'r6_all_rules', CASE WHEN f1 + f2 + f3 + f4 + f5 > 0 THEN 1 ELSE 0 END)
          |AS (rule, fail)""".stripMargin)
      .groupBy(c("rule"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_checked"),
        org.apache.spark.sql.functions.sum(c("fail")).as("n_fail"))
      .withColumn("n_pass", c("n_checked") - c("n_fail"))
      .orderBy(c("rule"))
      .collect().map(_.toSeq.map(String.valueOf)).toSeq
    val fused = operators.Pipeline.gopherGate(spark, sfDir).orderBy(c("rule"))
      .collect().map(_.toSeq.map(String.valueOf)).toSeq
    assert(fused == composed, "fused gate diverged from the signal-operator composition")
  }

  test("ppl buckets: tertiles partition each language and order by score") {
    val rows = operators.Pipeline.pplBuckets(spark, sfDir).collect()
    val perLang = graft.Tables.documents(spark, sfDir)
      .groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    assert(byLang.keySet == perLang.keySet)
    byLang.foreach { case (lang, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("bucket_id"))
      assert(sorted.map(_.getAs[String]("bucket")).toSeq == Seq("head", "middle", "tail"))
      assert(sorted.map(_.getAs[Long]("n_docs")).sum == perLang(lang))
      // SQL ntile: earlier buckets never smaller than later ones
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a.getAs[Long]("n_docs") >= b.getAs[Long]("n_docs"); case _ => true
      })
      // head holds the best (highest) scores: ranges must not overlap upward
      assert(sorted.sliding(2).forall {
        case Array(hi, lo) => hi.getAs[Double]("lo_logp") >= lo.getAs[Double]("hi_logp")
        case _ => true
      }, s"$lang: bucket score ranges out of order")
      sorted.foreach { r =>
        assert(r.getAs[Double]("lo_logp") <= r.getAs[Double]("mean_logp") + 1e-4)
        assert(r.getAs[Double]("mean_logp") <= r.getAs[Double]("hi_logp") + 1e-4)
      }
    }
  }

  test("bigram LM: every document's score matches a full Scala recomputation") {
    val out = operators.Pipeline.textBigramLm(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_logp")))).toMap
    val docs = graft.Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "split(text, ' ') AS ts").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toArray)
      .filter(_._2.length >= 2)
    assert(out.keySet == docs.map(_._1).toSet)
    val uni = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val big = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    docs.foreach { case (_, ts) =>
      ts.foreach(w => uni(w) += 1)
      ts.sliding(2).foreach(p => big((p(0), p(1))) += 1)
    }
    val n = uni.values.sum.toDouble
    docs.foreach { case (id, ts) =>
      val lps = ts.sliding(2).map { p =>
        math.log(0.8 * big((p(0), p(1))) / uni(p(0)) + 0.2 * uni(p(1)) / n)
      }.toSeq
      val exp = math.floor(lps.sum / lps.size * 10000 + 0.5) / 10000.0
      val (nb, alp) = out(id)
      assert(nb == ts.length - 1, s"doc $id: n_bigrams $nb vs ${ts.length - 1}")
      // the operator sums per-DISTINCT-bigram (k·lp); sequential vs
      // grouped float addition can differ at the last ulp, which a 4dp
      // floor-round can flip by exactly one step — allow that and no more
      assert(math.abs(alp - exp) <= 1e-4 + 1e-9, s"doc $id: $alp vs $exp")
    }
    // fluent text must outscore shuffled-word text on average: the
    // bigram term sees order, the unigram interpolation alone doesn't
    assert(out.values.map(_._2).sum / out.size > -12.0)
  }

  test("weighted sampling: A-ES top-10 per source matches direct recomputation") {
    val out = operators.Pipeline.sampleWeighted(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Double]("priority") <= 0.0))
    val bySource = out.groupBy(_.getAs[String]("source"))
    val docs = graft.Tables.documents(spark, sfDir)
      .selectExpr("source", "doc_id", "size(split(text, ' ')) AS w").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2).toLong))
    def key(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 12)
      val u = (java.lang.Long.parseLong(hex, 16) + 1) / 281474976710656.0
      math.log(u) / w
    }
    assert(bySource.keySet == docs.map(_._1).toSet)
    docs.groupBy(_._1).foreach { case (src, ds) =>
      val expect = ds.map { case (_, id, w) => (id, key(id, w)) }
        .sortBy { case (id, k) => (-k, id) }.take(10).map(_._1).toSeq
      val got = bySource(src).sortBy(_.getAs[Int]("rnk"))
        .map(_.getAs[Long]("doc_id")).toSeq
      assert(got == expect, s"$src: $got vs $expect")
    }
  }

  test("semantic clusters agree with a driver-side union-find over the embed-LSH pairs") {
    val pairs = operators.Dedup.embedLsh(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-rooted union-find: every component's root is its min vec_id,
    // exactly the min-label CC contract
    val expect = pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(v => v -> find(v)).toMap
    val rows = operators.Pipeline.semanticClusters(spark, sfDir).collect()
    val got = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == expect)
    val sizes = expect.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    rows.foreach(r => assert(r.getAs[Long]("n_vecs") == sizes(r.getAs[Long]("cluster_id"))))
  }

  test("corpus gini matches the driver-side rank-sum identity per source") {
    val docs = Tables.documents(spark, sfDir)
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[String]("text").split(' ').length.toLong))
    val rows = operators.Pipeline.corpusGini(spark, sfDir).collect()
    val bySource = docs.groupBy(_._1)
    assert(rows.length == bySource.size)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val toks = bySource(src).sortBy(d => (d._3, d._2)).map(_._3)
      val n = toks.length.toLong
      val tot = toks.sum
      val rankMass = toks.zipWithIndex.map { case (t, i) => (i + 1) * t }.sum
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("total_tokens") == tot)
      val gini = math.floor((2.0 * rankMass / (n * tot.toDouble) - (n + 1) / n.toDouble)
        * 10000 + 0.5) / 10000.0
      assert(r.getAs[Double]("gini") == gini, s"$src: engine vs driver gini")
      assert(gini >= 0.0 && gini < 1.0)
    }
  }
  test("source overlap: full matrix recomputed from raw trigram sets") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select("source", "text").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text").split(" ", -1)))
      .filter(_._2.length >= 3)
    val bySource: Map[String, Set[String]] = docs.groupBy(_._1)
      .view.mapValues(_.flatMap(_._2.sliding(3).map(_.mkString(" "))).toSet).toMap
    val expected = (for {
      a <- bySource.keys; b <- bySource.keys if a < b
      common = (bySource(a) & bySource(b)).size if common > 0
    } yield (a, b) -> (common.toLong, bySource(a).size.toLong, bySource(b).size.toLong)).toMap
    val rows = operators.Pipeline.sourceOverlap(spark, sfDir).collect()
    assert(rows.map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b"))).toSet
      == expected.keySet, "pair set must be exactly the overlapping pairs")
    rows.foreach { r =>
      val (common, na, nb) = expected((r.getAs[String]("source_a"), r.getAs[String]("source_b")))
      assert(r.getAs[Long]("n_common") == common)
      assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb)
      val cont = math.floor(common.toDouble / math.min(na, nb) * 10000 + 0.5) / 10000.0
      assert(math.abs(r.getAs[Double]("containment") - cont) < 1e-9)
      assert(r.getAs[Double]("containment") >= r.getAs[Double]("jaccard"),
        "containment dominates Jaccard by construction")
    }
  }
  test("semantic rate: per-source rollup reconciles with the pair frame and the corpus") {
    import org.apache.spark.sql.functions._
    val dupIds = operators.Dedup.embedLsh(spark, sfDir).collect()
      .flatMap(r => Seq(r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    val rows = operators.Pipeline.semanticRate(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == docs.length)
    val bySource = docs.groupBy(_._2)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val members = bySource(src)
      assert(r.getAs[Long]("n_vecs") == members.length.toLong)
      assert(r.getAs[Long]("n_sem_dups") == members.count(d => dupIds(d._1)).toLong)
      assert(r.getAs[Double]("dup_rate") >= 0.0 && r.getAs[Double]("dup_rate") <= 1.0)
    }
  }
}
