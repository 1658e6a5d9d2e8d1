package graft

import graft.operators.Compat
import org.apache.spark.sql.Row

import java.nio.file.Files

/** The row-probed operators and the nine closure-gate consumers on
  * empty `documents` and `embeddings` tables: the sf0.001 schema with
  * zero rows, so the footer bound is Some(0) and every literal the
  * probes inline (sample modulus, plane count) is the n = 0 value of
  * the oracle's integer formula. The gate consumers also run on a
  * one-row `documents` (one sf0.001 row whose doc_id is a multiple of
  * 5 from 5 up, so its reference edges point at parents the table does
  * not hold) with the empty `embeddings`. The registry's stream gate
  * and similarity search run on `events` whose `props` is `{}` on
  * every 7th event_id, so those versions carry a NULL `k`.
  */
class DegenerateInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft-empty").toString
    Tables.documents(spark, sfDir).where("false").write.parquet(s"$dir/documents.parquet")
    Tables.embeddings(spark, sfDir).where("false").write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private lazy val oneRowDir: String = {
    val dir = s"$emptyDir/one-row"
    Tables.documents(spark, sfDir).where("doc_id >= 5 AND doc_id % 5 = 0").orderBy("doc_id").limit(1)
      .write.parquet(s"$dir/documents.parquet")
    Tables.embeddings(spark, emptyDir).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private lazy val nullKDir: String = {
    val dir = s"$emptyDir/null-k"
    Tables.events(spark, sfDir)
      .withColumn("props", org.apache.spark.sql.functions.expr("IF(event_id % 7 = 0, '{}', props)"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  private def rows(name: String, dir: String = emptyDir): Seq[Row] =
    SparkEntry.queries(name)(spark, dir).collect().toSeq

  /** the query's rows, and the rounds its closure operators ran (0 = the broadcast BFS) */
  private def gated(name: String, dir: String): (Seq[Row], Long) = {
    val df = SparkEntry.queries(name)(spark, dir)
    (df.collect().toSeq, closureMetric(df, "rounds"))
  }

  private val ccQueries = Seq("dedup_clusters", "dedup_cluster_stats", "dedup_survivors",
    "corpus_funnel", "dedup_semantic_clusters")
  private val closureQueries = Seq("reg_refs_closure", "reg_dep_depth", "reg_gc_candidates", "reg_ref_cycles")

  test("the empty fixtures read as footer-bounded zero-row tables") {
    assert(Tables.footerRowBound(Tables.documents(spark, emptyDir)).contains(0L))
    assert(Tables.footerRowBound(Tables.embeddings(spark, emptyDir)).contains(0L))
  }

  test("embedding LSH and both ANN top-k queries return no rows on empty embeddings") {
    Seq("dedup_embed_lsh", "ann_lsh_topk", "ann_ivf_topk").foreach(q => assert(rows(q).isEmpty, q))
  }

  test("the sampled recall card on an empty corpus reports smod = 1 and no pairs, as the oracle does") {
    assert(rows("dedup_recall_sampled") == Seq(Row(1L, 0L, 0L, 0L, 0L, null)))
  }

  test("the sampled tuning card on an empty corpus keeps its five configs with no truth pairs") {
    val r = rows("dedup_tuning_sampled").sortBy(_.getAs[Int]("rows_per_band"))
    assert(r.map(x => (x.getAs[Int]("bands"), x.getAs[Int]("rows_per_band"), x.getAs[Double]("s_threshold"))) ==
      Seq((16, 1, 0.0625), (8, 2, 0.3536), (4, 4, 0.7071), (2, 8, 0.917), (1, 16, 1.0)))
    assert(r.forall(x => x.getAs[Long]("smod") == 1L && x.getAs[Long]("n_docs") == 0L &&
      x.getAs[Long]("n_true") == 0L && x.isNullAt(x.fieldIndex("exp_recall"))))
  }

  test("the two recall cards report a NULL recall with no truth rows, as the oracle's x / 0.0 does") {
    for (dir <- Seq(emptyDir, oneRowDir)) {
      assert(rows("dedup_minhash_recall", dir) == Seq(Row(0L, 0L, 0L, null)), dir)
      assert(rows("ann_graph_recall", dir).sortBy(_.getString(0)) ==
        Seq(Row("descent", 0L, 0L, null), Row("graph", 0L, 0L, null)), dir)
    }
  }

  test("corpus_gopher_gate on an empty corpus reports its six rules with zero documents checked") {
    assert(rows("corpus_gopher_gate").sortBy(_.getString(0)) ==
      Seq("r1_word_count", "r2_dup_ratio", "r3_top_bigram", "r4_entropy", "r5_dup_3gram", "r6_all_rules")
        .map(Row(_, 0L, null, null)))
  }

  test("on NULL k, stream_compat and reg_similar follow their oracles") {
    import org.apache.spark.sql.functions.{col, count, explode, lit, max}
    assert(Tables.events(spark, nullKDir).where("props = '{}'").count() > 0)
    // stream_compat's oracle is compat_scan's SQL, which compat_scan matches
    def sorted(q: String) = rows(q, nullKDir).map(_.toSeq.mkString(",")).sorted
    assert(sorted("stream_compat") == sorted("compat_scan"))
    // reg_similar's oracle: an equality join on (fname, ftype, fnull) over
    // the latest fields, where a NULL part never matches
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("subject"))
    val lf = Compat.fieldArrays(spark, nullKDir, withLag = false)
      .withColumn("maxv", max(col("version")).over(w)).where(col("version") === col("maxv"))
      .select(col("subject"), explode(col("flds")).as("f"))
      .select(col("subject"), col("f.fname").as("fname"), col("f.ftype").as("ftype"), col("f.fnull").as("fnull"))
    val n = lf.groupBy("subject").agg(count(lit(1)).as("n"))
    val oracle = lf.as("a").join(lf.as("b"), col("a.fname") === col("b.fname") &&
        col("a.ftype") === col("b.ftype") && col("a.fnull") === col("b.fnull") && col("a.subject") < col("b.subject"))
      .groupBy(col("a.subject").as("sub_a"), col("b.subject").as("sub_b")).agg(count(lit(1)).as("c"))
      .join(n.select(col("subject").as("sub_a"), col("n").as("na")), "sub_a")
      .join(n.select(col("subject").as("sub_b"), col("n").as("nb")), "sub_b")
      .where(col("c") === col("na") && col("c") === col("nb"))
      .select("sub_a", "sub_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows("reg_similar", nullKDir).map(r => (r.getAs[Long]("sub_a"), r.getAs[Long]("sub_b"))).toSet == oracle)
  }

  test("the nine closure-gate consumers on empty documents: zero edges take the BFS side") {
    for (q <- ccQueries ++ closureQueries) {
      val (r, rounds) = gated(q, emptyDir)
      assert(rounds == 0, q)
      if (q == "corpus_funnel") assert(r.map(x => (x.getString(0), x.get(1))) == Seq(
        "s0_total" -> 0L, "s1_lang_en" -> null, "s2_length" -> null, "s3_dedup" -> null, "s4_sample" -> null))
      else assert(r.isEmpty, q)
    }
  }

  test("the nine closure-gate consumers on one document whose reference parents are absent") {
    val doc = Tables.documents(spark, oneRowDir).head()
    val id = doc.getAs[Long]("doc_id")
    assert(Tables.documents(spark, oneRowDir).count() == 1 && id >= 5 && id % 5 == 0)
    val results = (ccQueries ++ closureQueries).map(q => q -> gated(q, oneRowDir)).toMap
    assert(results.values.forall(_._2 == 0), "one document's edges take the BFS side")
    // no near-dup pair: no clusters, survivors or semantic clusters,
    // and the document is a singleton that the funnel never drops
    Seq("dedup_clusters", "dedup_survivors", "dedup_semantic_clusters").foreach(q => assert(results(q)._1.isEmpty, q))
    assert(results("dedup_cluster_stats")._1 == Seq(Row(1L, 1L, 1L)))
    val funnel = results("corpus_funnel")._1.map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(funnel("s0_total") == 1L && funnel("s3_dedup") == funnel("s2_length"))
    // its two edges, to id / 2 and id / 3, end at parents outside the table
    assert(results("reg_refs_closure")._1 == Seq(Row(id, 2L, id / 2)))
    assert(results("reg_dep_depth")._1 == Seq(Row(id, 2L, 1L, 2L)))
    // not a tombstone (id % 7 != 0 for the first such row) and on no ring
    assert(results("reg_gc_candidates")._1.isEmpty == (id % 7 != 0))
    assert(results("reg_ref_cycles")._1.isEmpty)
  }
}
