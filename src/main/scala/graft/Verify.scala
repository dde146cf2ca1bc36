package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name prefixes (local
    // iteration on a subset; the driver passes exactly two args)
    val nameFilter: String => Boolean = args.lift(2) match {
      case Some(pfx) => { val ps = pfx.split(","); n => ps.exists(n.startsWith) }
      case None => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      String.valueOf(Runtime.getRuntime.availableProcessors()))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Tuning.shuffleConf(sfDir, cpus.toInt))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // AQE coalescing under cached plans — see Bench.scala
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", Tuning.codegenCacheConf)
      .getOrCreate()
    // bucketed-layout planner flags — session-build-time opt-in, see
    // Bucketing.sessionConfs
    graft.sources.Bucketing.sessionConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Data-contract canary FIRST: if the harness regenerated a table with
    // an unexpected physical type (round 5: events.ts nanos→µs), fail
    // loudly with ONE named diagnosis instead of 50 identical stack traces.
    graft.sources.DataContract.report(spark, sfDir).foreach(l => println(s"[contract] $l"))
    println(s"[contract] file:// -> ${graft.sources.LocalFs.resolved(spark)}")
    // deterministic name order (hash-map order shifts when queries are
    // added, which once let an order-dependent session-state bug hide)
    SparkEntry.queries.toSeq.sortBy(_._1).filter(t => nameFilter(t._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A failed query must leave a marker row in the artifact, not a
        // silent gap: round 5's 54 runtime failures were absent from
        // CORRECTNESS (reading as green) because this branch only logged.
        // For oracle-backed queries (all of them today) the one-row
        // sentinel frame forces a schema/hash mismatch; a hypothetical
        // oracle-less query would fall to the weaker rows-only check,
        // where tools/check_oracle.py additionally flags any result
        // carrying a __graft_error column as FAIL outright.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        try {
          import spark.implicits._
          Seq(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
            .toDF("__graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error-marker write failed: ${e2.getMessage}")
        }
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
