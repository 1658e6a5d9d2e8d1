package graft

import graft.functions.Native
import org.apache.spark.sql.functions._

class TopKAggSpec extends SparkSpec {

  test("heap aggregate equals the window formulation row for row") {
    def byRank(rows: Array[org.apache.spark.sql.Row]) =
      rows.toSeq.sortBy(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk")))
    val agg = byRank(operators.Similarity.bruteTopKAgg(spark, sfDir).collect())
    val win = byRank(operators.Similarity.bruteTopK(spark, sfDir).collect())
    assert(agg == win)
  }

  test("partial merge across many partitions preserves exact top-k") {
    Native.register(spark)
    import spark.implicits._
    // 10k scored rows over 64 partitions force many partial buffers
    val df = (1 to 10000).map(i => (i % 7L, (i * 37 % 10007) / 10007.0, i.toLong))
      .toDF("key", "score", "id").repartition(64)
    val got = df.groupBy("key")
      .agg(expr("graft_topk(3, score, id)").as("top"))
      .selectExpr("key", "posexplode(top) AS (pos, t)")
      .selectExpr("key", "t.score AS score", "t.id AS id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val brute = (1 to 10000).map(i => (i % 7L, (i * 37 % 10007) / 10007.0, i.toLong))
      .groupBy(_._1).flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._2, r._3)).take(3)
      }.toSet
    assert(got == brute)
  }

  test("ties broken by ascending id") {
    Native.register(spark)
    import spark.implicits._
    val df = Seq((1L, 0.5, 30L), (1L, 0.5, 10L), (1L, 0.5, 20L), (1L, 0.9, 40L))
      .toDF("key", "score", "id")
    val top = df.groupBy("key").agg(expr("graft_topk(2, score, id)").as("t"))
      .selectExpr("inline(t)").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(40L, 10L))
  }
}
