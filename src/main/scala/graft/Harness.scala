package graft

import org.apache.spark.sql.SparkSession

/** What the harness mains (Bench, Verify, Probe, Smoke, WindowAudit, Soak,
  * ScaleProbe) and the specs share. The ingest CLI builds its own session:
  * it must not force a local master or shuffle width onto a cluster.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, else the machine's processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** `local[cpus]` with GraftExtensions, one shuffle partition per slot,
    * UTC, no UI, WARN logging, and TIMESTAMP(NANOS) parquet read as longs
    * (the events table; `SparkEntry.events` adapts the column).
    */
  def session(cpus: Int = cpus): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Comma-separated SparkEntry query names. Throws
    * `IllegalArgumentException` naming every unknown one with the list of
    * valid ones: a typo must not run an empty or partial subset.
    */
  def queryNames(csv: String): Seq[String] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val bad = names.filterNot(SparkEntry.queries.contains)
    if (names.isEmpty || bad.nonEmpty) throw new IllegalArgumentException(
      s"unknown queries: ${if (names.isEmpty) "(none given)" else bad.mkString(", ")}" +
        "; valid: " + SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    names
  }

  /** The `SPARK_GRAFT_ONLY` subset Bench and Verify run; unset = all. */
  def only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(queryNames(_).toSet)
}
