package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg: comma-separated query-name filter (local
    // iteration aid; the driver always passes exactly two args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = core.Session.build(
      appName = "graft-verify",
      shufflePartitions = core.Session.localCores,
      extraConf = Map(core.Session.processWarehouse("verify")))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        val t0 = System.nanoTime()
        // one retry: a first-attempt failure from transient state
        // (fixture races, flaky checkpoint IO) must not cost the
        // round's correctness row for the query
        def attempt(n: Int): Unit =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            System.err.println(
              f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs" +
                (if (n > 1) s" (attempt $n)" else ""))
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name attempt $n failed: $e")
            if (n == 1) attempt(2) else e.printStackTrace()
          }
        attempt(1)
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
