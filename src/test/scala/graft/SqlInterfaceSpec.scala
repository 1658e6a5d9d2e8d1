package graft

import org.apache.spark.sql.functions._

/** The SQL face: registered temp views + graft_* functions make the
  * whole engine addressable from plain `spark.sql`.
  */
class SqlInterfaceSpec extends SparkSpec {

  test("registerAll exposes every table as a queryable view") {
    Tables.registerAll(spark, sfDir)
    Tables.names.foreach { n =>
      assert(spark.sql(s"SELECT * FROM $n LIMIT 1").collect().nonEmpty, s"view $n")
    }
  }

  test("SQL query over views matches the DataFrame operator") {
    Tables.registerAll(spark, sfDir)
    val sqlRows = spark.sql(
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin).collect()
    val dfRows = operators.Analytics.distinctUsers(spark, sfDir).collect()
      .sortBy(_.getAs[String]("event_type"))
    assert(sqlRows.toSeq == dfRows.toSeq)
  }

  test("native functions usable from SQL over views") {
    Tables.registerAll(spark, sfDir)
    val n = spark.sql(
      """SELECT a.vec_id, b.vec_id, graft_cosine(cast(a.embedding AS array<double>),
        |                                        cast(b.embedding AS array<double>)) AS c
        |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |LIMIT 5""".stripMargin).collect()
    assert(n.length == 5 && n.forall(r => math.abs(r.getAs[Double]("c")) <= 1.0))
  }

  test("salted top actors equals plain top actors") {
    val salted = operators.Audit.topActorsSalted(spark, sfDir).collect()
    val plain = operators.Audit.topActors(spark, sfDir).collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("IVF topk never beats brute force and returns ranked neighbors") {
    val bruteBest = operators.Similarity.bruteTopK(spark, sfDir)
      .filter(col("rnk") === 1).collect()
      .map(r => r.getAs[Long]("probe_id") -> r.getAs[Double]("cos")).toMap
    val ivf = operators.Similarity.ivfTopK(spark, sfDir).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      assert(r.getAs[Double]("cos") <= bruteBest(r.getAs[Long]("probe_id")) + 1e-9)
    }
  }
}
