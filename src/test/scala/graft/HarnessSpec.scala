package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The harness mains share one session builder and one task-metrics
  * listener; the SQL entry point and the imperative registration
  * share one native-function table; scan spreads share one helper,
  * and no frame is materialized outside the planner. */
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

  test("no lazy local checkpoint in src/main/scala") {
    assert(occurrences(".localCheckpoint(").isEmpty)
    assert(occurrences(".checkpoint(").isEmpty)
  }

  test("no cache, and persist only in the closure rounds") {
    assert(occurrences(".cache()").isEmpty)
    // the closure operator's above-gate RDD rounds persist each round serialized
    assert(occurrences(".persist(").map(_._1) == Seq("Closure.scala"))
  }

  test("repartition only in Tables.spread and the Analytics keyed aggregate") {
    assert(occurrences(".repartition(").toMap == Map("Tables.scala" -> 2, "Analytics.scala" -> 1))
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
    assert(injected.distinct.size == 13)
    assert(Set("graft_shingles", "graft_shingle_md5", "graft_avro_slots", "graft_avro_profile",
      "graft_srp_buckets").subsetOf(injected.toSet))
  }

  test("the Avro field model and the SRP hyperplanes have one statement in src/main/scala") {
    // AvroFields holds the slot residues and the promotion closure;
    // graft_srp_buckets reads the hyperplanes built once
    assert(occurrences("weightMatrixSqlBig").isEmpty)
    assert(occurrences("fieldsOf(").isEmpty)
    assert(occurrences("nameAccepts").isEmpty)
    assert(occurrences("_ % 29 < 15").map(_._1) == Seq("AvroFields.scala"))
  }

  test("the schema models share one registration stream and one slot pairing") {
    val models = Set("Compat.scala", "FormatCompat.scala")
    def in(literal: String) = occurrences(literal).filter(o => models(o._1))
    // the models' one `$.k` parse is Compat.payloadK, read by
    // Compat.versions and by the JSON model's as-of source alone
    assert(in("\"$.k\"") == Seq("Compat.scala" -> 1))
    assert(occurrences("payloadK").toMap == Map("Compat.scala" -> 2, "FormatCompat.scala" -> 1))
    // and one version window, Compat.versionOrder
    assert(in("orderBy(col(\"ts\"), col(\"event_id\"))") == Seq("Compat.scala" -> 1))
    // the registry's version cards read that stream; its other cards
    // (fingerprints, rules, statistics) parse `k` on their own scan
    val registry = Files.readString(Paths.get("src/main/scala/graft/operators/Registry.scala"))
    for (card <- Seq("versions", "metaLatest")) {
      val from = registry.indexOf(s"  def $card(")
      val body = registry.substring(from, registry.indexOf("\n  /**", from))
      assert(body.contains("Compat.versions(s, dir)"), card)
      assert(!body.contains("\"$.k\"") && !body.contains("Window"), card)
    }
    // Compat.slotPairs is the one positional reader↔writer pairing
    assert(in("posexplode(") == Seq("Compat.scala" -> 1))
    assert(occurrences("def slotPairs(") == Seq("Compat.scala" -> 1))
  }

  test("no interpreted n-gram lambda and no array_sort in src/main/scala") {
    // graft_shingles / graft_shingle_md5 build word n-grams; the one
    // index-sequence transform left over a token array is
    // text_bigram_lm's struct bigram
    val bigram = "transform(sequence(1, size(ts) - 1), i -> struct(ts[i - 1] AS w1, ts[i] AS w2))"
    assert(occurrences("transform(sequence(1, size(") == Seq("Pipeline.scala" -> 1))
    assert(occurrences(bigram) == Seq("Pipeline.scala" -> 1))
    // its default comparator is an interpreted lambda; sort_array is compiled
    assert(occurrences("array_sort(").isEmpty)
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
      // each stage is named by its operator scopes
      assert(m.stages.values.exists(_.name.contains("Exchange")), m.stages.values.map(_.name))
      val t = m.total
      assert(t.tasks == m.stages.values.map(_.tasks).sum && t.tasks >= 4)
      assert(t.swBytes > 0 && t.srBytes > 0)
    } finally spark.sparkContext.removeSparkListener(m)
  }
}
