package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

import java.nio.file.Files

/** The one spread, [[Tables.spread]]: every frame, a single- or
  * multi-file scan or one without file leaves, at any width, is spread
  * to the session width. Plus the row probe.
  */
class SpreadSpec extends SparkSpec {

  private lazy val multiFileDocs: String = {
    val dir = Files.createTempDirectory("graft-spread").resolve("documents.parquet").toString
    Tables.documents(spark, sfDir).repartition(4).write.parquet(dir)
    dir
  }

  private def shuffles(df: DataFrame): Seq[Partitioning] =
    nodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }

  test("a multi-file scan is spread to the session width too") {
    val docs = spark.read.parquet(multiFileDocs)
    assert(docs.inputFiles.length == 4)
    assert(shuffles(Tables.spread(docs)).map(_.toString) == Seq("RoundRobinPartitioning(4)"))
    shuffles(Tables.spread(docs.select(col("doc_id"), col("lang")), col("lang"))) match {
      case Seq(h: HashPartitioning) => assert(h.numPartitions == 4)
      case other => fail(s"expected one hash exchange, got $other")
    }
  }

  test("the single-file table is round-robined to the session width") {
    val docs = Tables.documents(spark, sfDir)
    assert(shuffles(Tables.spread(docs)).map(_.toString) == Seq("RoundRobinPartitioning(4)"))
  }

  /** The documents' `(doc_id, text)` rows as a `LocalRelation`: a
    * frame without file leaves. */
  private def localDocs(): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    spark.createDataFrame(java.util.Arrays.asList(docs.collect(): _*), docs.schema)
  }

  test("a frame without file leaves is spread") {
    assert(shuffles(Tables.spread(localDocs())).map(_.toString) == Seq("RoundRobinPartitioning(4)"))
  }

  test("a one-split file spreads at width 3 too") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try {
      val ev = Tables.events(spark, sfDir).select(col("user_id"), col("props"))
      assert(shuffles(Tables.spread(ev)).map(_.toString) == Seq("RoundRobinPartitioning(3)"))
    } finally spark.conf.set(key, prev)
  }

  test("the keyed form hash-partitions on its keys at the session width") {
    val ev = Tables.events(spark, sfDir).select(col("user_id").as("subject"), col("props"))
    shuffles(Tables.spread(ev, col("subject"))) match {
      case Seq(h: HashPartitioning) =>
        assert(h.numPartitions == 4)
        assert(h.expressions.collect { case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name } == Seq("subject"))
      case other => fail(s"expected one hash exchange, got $other")
    }
  }

  test("scanRows reads the footer without a job and counts a local frame") {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val local = localDocs().where("doc_id % 2 = 0")
    val m = new StageMetrics(spark)
    try {
      assert(m.record(Tables.scanRows(docs)) == n)
      assert(m.jobs == 0)
      assert(m.record(Tables.scanRows(local)) == docs.where("doc_id % 2 = 0").count())
      assert(m.jobs >= 1)
    } finally spark.sparkContext.removeSparkListener(m)
  }
}
