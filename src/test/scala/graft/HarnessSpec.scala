package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The harness mains share one session builder and one task-metrics
  * listener; the SQL entry point and the imperative registration
  * share one native-function table; lazy checkpoints share one
  * helper. */
class HarnessSpec extends SparkSpec {

  /** (file name, occurrences of `literal`) for every main source file
    * that contains it. */
  private def occurrences(literal: String): Seq[(String, Int)] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => f.getFileName.toString -> Regex.quote(literal).r.findAllMatchIn(Files.readString(f)).size)
      .filter(_._2 > 0)

  test("src/main/scala builds a SparkSession in exactly one place, GraftSession") {
    assert(occurrences("SparkSession.builder()") == Seq("GraftSession.scala" -> 1))
  }

  test("every lazy local checkpoint goes through Tables.lazyCheckpoint") {
    assert(occurrences(".localCheckpoint(").map(_._1) == Seq("Tables.scala"))
  }

  test("the fixture is GraftSession.local(4) without the extension") {
    val c = spark.conf
    assert(c.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true")
    assert(c.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(spark.sparkContext.getConf.get("spark.sql.extensions") == "")
  }

  test("GraftExtensions injects every native function Native.register registers") {
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    val ext = new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    }
    new GraftExtensions()(ext)
    functions.Native.register(spark)
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(injected.sorted == registered.sorted)
    assert(injected.toSet == functions.Native.functions.map(_._1).toSet)
    assert(injected.distinct.size == 8)
  }

  test("StageMetrics records the jobs, stages and tasks of one query") {
    val m = new StageMetrics(spark)
    try {
      val n = m.record {
        spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect().length
      }
      assert(n == 7)
      assert(m.jobs >= 1)
      assert(m.stages.nonEmpty && m.stages.values.forall(_.wallMs >= 0))
      val t = m.total
      assert(t.tasks == m.stages.values.map(_.tasks).sum && t.tasks >= 4)
      assert(t.swBytes > 0 && t.srBytes > 0)
    } finally spark.sparkContext.removeSparkListener(m)
  }
}
