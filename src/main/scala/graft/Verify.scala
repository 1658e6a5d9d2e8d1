package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name filter (local
    // iteration aid; the driver always runs the full set).
    val keep: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else (_: String) => true
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // no operator caches (they share frames through reused
      // exchanges); this only drops a cache some other caller
      // of the session left, so it cannot squeeze the next query
      spark.catalog.clearCache()
    }
    // reg_similar's oracle enumerates ALL identity-class pairs, but
    // the Spark side excludes classes larger than its dfCap
    // — parity is only meaningful when nothing was dropped. Surface a
    // loud warning if the guard ever fires on this corpus (the driver
    // treats stderr lines as diagnostics, not failures).
    if (keep("reg_similar")) {
      try {
        val drop = operators.Intelligence.similarDropReport(spark, sfDir).head()
        val n = drop.getAs[Long]("n_dropped_signatures")
        if (n != 0L)
          System.err.println(s"[verify] WARNING: reg_similar excluded $n identity classes " +
            s"(${drop.getAs[Long]("n_dropped_postings")} subjects) at the dfCap - " +
            "the DuckDB oracle enumerates ALL pairs, parity is NOT trustworthy here")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] similarDropReport guard failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
