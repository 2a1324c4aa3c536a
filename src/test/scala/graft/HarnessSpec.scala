package graft

import java.nio.file.{Files, Paths}

import graft.ingest.SparkSpec

/** [[Harness.session]]'s confs, the pinned [[Verify.oracleJson]]
  * rendering, [[Probe.parseArgs]]'s validation, and
  * [[Probe.run]] at sf0.001: each rep counts the query's rows, the
  * listener's job/stage/task counts repeat across reps, the plan file
  * holds the physical plan, and each stage line names the action's call
  * site.
  */
class HarnessSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("the harness session carries every shared setting") {
    val s = Harness.session(4)
    assert(s.sparkContext.master === "local[4]")
    assert(s.conf.get("spark.sql.extensions") === "graft.GraftExtensions")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") === "false")
  }

  test("the full oracle_sql.json rendering is pinned: 416 entries, fixed bytes") {
    val json = Verify.oracleJson(SparkEntry.queries.keys)
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(tree.size === 416)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(json.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // any edit to any oracle's text, or to the rendering, moves this
    assert(sha === "bcfb1b0d37339a56b8bc0c8587cf82057dace3aa5e2909622bb241270a2dd680")
  }

  test("Probe arguments: defaults fill in, bad ones fail naming the problem") {
    assert(Probe.parseArgs(Seq("q03_join_agg")) ===
      Probe.Args(Seq("q03_join_agg"), "/root/testdata/sf0.1", 2, None))
    assert(Probe.parseArgs(Seq("q03_join_agg, q17_minhash_signatures", sf, "3",
      "/tmp/plans")) === Probe.Args(Seq("q03_join_agg", "q17_minhash_signatures"),
      sf, 3, Some("/tmp/plans")))
    val msg = intercept[IllegalArgumentException](
      Probe.parseArgs(Seq("q03_join_agg,q_nope,q_bad"))).getMessage
    assert(msg.startsWith("unknown queries: q_nope, q_bad; valid: "))
    assert(msg.contains("q03_join_agg") && msg.contains("q17_minhash_signatures"))
    for (bad <- Seq(Nil, Seq("q03_join_agg", sf, "0"), Seq("q03_join_agg", sf, "x"),
        Seq("q03_join_agg", sf, "2", "/tmp/p", "extra"), Seq(" , ")))
      intercept[IllegalArgumentException](Probe.parseArgs(bad))
  }

  test("Probe counts the query's rows with the same jobs, stages and tasks per rep") {
    assume(Files.isDirectory(Paths.get(sf)), s"$sf is absent")
    val planDir = Files.createTempDirectory("graft-probe")
    val reps = Probe.run(spark,
      Probe.Args(Seq("q03_join_agg"), sf, 2, Some(planDir.toString)))
    val rows = CacheScope.scoped { SparkEntry.queries("q03_join_agg")(spark, sf).count() }
    assert(reps.map(r => (r.name, r.rep, r.rows)) ===
      Seq(("q03_join_agg", 1, rows), ("q03_join_agg", 2, rows)))
    val counts = reps.map(_.counters)
      .map(c => (c.jobs.get, c.stages.get, c.tasks.get))
    assert(counts.distinct.size === 1, counts)
    val (jobs, stages, tasks) = counts.head
    assert(jobs >= 1 && stages >= 1 && tasks >= 1, counts)
    assert(reps.forall(_.counters.stageLines.size == stages))
    assert(Files.readString(planDir.resolve("q03_join_agg.txt"))
      .contains("== Physical Plan =="))
  }

  test("Probe labels every q03 stage with its SQL execution, not AQE's pool thread") {
    assume(Files.isDirectory(Paths.get(sf)), s"$sf is absent")
    val lines = Probe.run(spark, Probe.Args(Seq("q03_join_agg"), sf, 1, None))
      .head.counters.stageLines
    assert(lines.nonEmpty)
    assert(!lines.exists(_.contains("CompletableFuture")), lines.mkString("\n"))
    // the query's own stages carry its action's call site; the parquet
    // footer jobs run outside any SQL execution and keep their own name
    assert(lines.count(_.contains("count at Probe.scala:")) >= 3, lines.mkString("\n"))
  }
}
