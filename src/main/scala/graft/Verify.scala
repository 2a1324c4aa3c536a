package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json of the queries run, for the driver's DuckDB
  * compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // a SPARK_GRAFT_ONLY subset dumps only its queries and their
    // oracles; unset -> the full gate
    val only = Harness.only
    // Per-query wall seconds → a markers file (the Bench convention):
    // the gate's Spark half is a driver-budget line item (round 14's
    // CORRECTNESS record came back empty when the full gate outgrew
    // the driver's window), so its per-query profile must be on
    // record to know WHAT to shrink.
    // Partial (SPARK_GRAFT_ONLY) runs write a SEPARATE markers file:
    // a single-query debug run must not clobber the committed
    // full-gate per-query timing record.
    val markers = new java.io.PrintWriter(new java.io.FileWriter(
      if (only.isDefined) "VERIFY_MARKERS_partial.log"
      else "VERIFY_MARKERS.log", false))
    val ran = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    try ran.foreach { case (name, fn) =>
      // per-query CacheScope: operator-persisted caches are released
      // after each query's write, not stranded for the session
      val t0 = System.nanoTime()
      // a query that throws leaves no result dir, never a stale one
      // from an earlier run for the compare to pass
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$outDir/$name"))
      try CacheScope.scoped {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      markers.println(f"${(System.nanoTime() - t0) / 1e9}%.3f $name")
      markers.flush()
    } finally markers.close()
    // every query run gets its oracle, even one whose build threw: the
    // compare fails any oracle key without a result parquet
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(ran.keys))
    spark.stop()
  }

  /** `oracle_sql.json`: `names` → their oracle SQL, one JSON object in
    * `names`' order. Strings escape backslash, quote and ALL control
    * chars: a tab or CR in the SQL would otherwise fail the compare's
    * json.load.
    */
  def oracleJson(names: Iterable[String]): String = {
    def q(s: String): String = "\"" + ingest.JsonLog.esc(s) + "\""
    names.iterator.map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}")
      .mkString("{", ",", "}")
  }
}
