package graft

import org.apache.spark.sql.Row

import java.nio.file.Files

/** The row-probed operators on empty `documents` and `embeddings`
  * tables: the sf0.001 schema with zero rows, so the footer bound is
  * Some(0) and every literal the probes inline (sample modulus, plane
  * count) is the n = 0 value of the oracle's integer formula.
  */
class DegenerateInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft-empty").toString
    Tables.documents(spark, sfDir).where("false").write.parquet(s"$dir/documents.parquet")
    Tables.embeddings(spark, sfDir).where("false").write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def rows(name: String): Seq[Row] = SparkEntry.queries(name)(spark, emptyDir).collect().toSeq

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
}
