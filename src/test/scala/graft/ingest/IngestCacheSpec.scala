package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.model.Schemas.{BackendDocument, IngestResult, UpdateConfig}
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.util.SerializableConfiguration

object IngestCacheSpec {
  /** The runs here fetch nothing; top-level so it serializes to executors. */
  class NoFetcher extends Fetcher {
    override def get(url: String): FetchResponse =
      throw new UnsupportedOperationException(url)
  }

  val PdfUrl = "https://spec.example/report.pdf"
  val PdfBytes: Array[Byte] =
    "%PDF-1.4\n% spec document\n%%EOF\n".getBytes(UTF_8)

  /** Serves [[PdfBytes]] at [[PdfUrl]] from memory and 404 elsewhere. */
  class MemoryFetcher extends Fetcher {
    override def get(url: String): FetchResponse =
      if (url == PdfUrl) FetchResponse(200, PdfBytes, "application/pdf")
      else throw new HttpStatusError(404, url)
  }

  /** A new document `SPEC.executive.{n}.1` with the given source URL. */
  def newDoc(n: Int, sourceUrl: String): String =
    s"""{"publication_ts": "2020-01-01T00:00:00", "name": "Document $n",
      |"description": "spec", "source_url": $sourceUrl, "download_url": null,
      |"url": null, "md5_sum": null, "type": "Law", "source": "SPEC",
      |"import_id": "SPEC.executive.$n.1", "family_import_id": "SPEC.family.$n.0",
      |"category": "Law", "geography": "IDN", "languages": ["en"],
      |"metadata": {"hazards": [], "frameworks": [], "instruments": [],
      |  "keywords": [], "sectors": [], "topics": []},
      |"slug": "document-$n", "family_slug": "family-$n"}"""
      .stripMargin.replace("\n", " ")

  /** A new document with no URLs: skipped without a fetch, then written
    * to parser input like any successful row.
    */
  val skippedDoc: String = newDoc(1, "null")

  /** One of each phase-2 outcome: upload, skip on an empty URL, invalid
    * URL, and a fetch that fails with 404.
    */
  val mixedControl: String = Seq(newDoc(1, s"\"$PdfUrl\""), newDoc(2, "\"\""),
    newDoc(3, "\"not a url\""), newDoc(4, "\"https://spec.example/gone.pdf\""))
    .mkString("""{"new_documents": [""", ", ", """], "updated_documents": {}}""")

  /** One document update of an unknown type: a row error, no file I/O. */
  val unknownUpdate: String =
    """"SPEC.executive.9.1": [{"type": "no_such_update", "s3_value": null}]"""

  /** The Spark jobs one traced call ran: their stage ids, the names of the
    * stages that completed, in completion order, and the shuffle bytes
    * read plus written.
    */
  case class Jobs(jobs: Int, stageIds: Int, stageNames: Seq[String], shuffleBytes: Long)
}

/** Each ingest phase is one Spark job of one stage with no shuffle, run
  * over rows the driver collected once: each row uploads and writes its
  * parser input inside one effectful stage, one `collect` is the phase's
  * only action, and a phase with no rows runs no job. Nothing is cached:
  * `IngestStream` runs the same phases in a long-lived session, where a
  * leaked relation would stay for the life of the stream.
  */
class IngestCacheSpec extends SparkSpec {
  import IngestCacheSpec._

  private def run(tmp: Path, control: String): IngestJob.RunReport = {
    Files.createDirectories(tmp.resolve("input/run"))
    Files.write(tmp.resolve("input/run/control.json"), control.getBytes(UTF_8))
    IngestJob.run(spark, UpdateConfig(s"file://$tmp", s"file://$tmp/cdn"),
      "input/run", "control.json", new NoFetcher, new StubConverter,
      Instant.parse("2024-01-01T00:00:00Z"))
  }

  private def assertNothingCached(): Unit =
    assert(spark.sharedState.cacheManager.isEmpty, "a cached relation leaked")

  /** Runs `body` under a job group of its own and returns its result with
    * the jobs that group ran (other callers' jobs are not counted).
    */
  private def traced[T](body: => T): (T, Jobs) = {
    val sc = spark.sparkContext
    val group = s"spec-${UUID.randomUUID}"
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicLong
    val names = new ConcurrentLinkedQueue[String]()
    val shuffle = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          j.stageIds.foreach(stageIds.add)
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(s.stageInfo.stageId)) {
          names.add(s.stageInfo.name)
          val m = s.stageInfo.taskMetrics
          shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
        }
    }
    GraftBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "ingest spec")
    try {
      val result = body
      GraftBus.drain(sc)
      (result, Jobs(jobs.get.toInt, stageIds.size, names.asScala.toSeq, shuffle.get))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a malformed control file fails the run and leaves nothing cached") {
    spark.catalog.clearCache()
    val tmp = Files.createTempDirectory("graft-cache-malformed")
    intercept[Exception](run(tmp, """{"new_documents": [ {"name": """))
    assertNothingCached()
  }

  test("a parser-input write that fails after its retries leaves nothing cached") {
    spark.catalog.clearCache()
    val tmp = Files.createTempDirectory("graft-cache-sink")
    // a regular file where the parser-input directory belongs: every
    // write below it fails, retries included
    Files.write(tmp.resolve("parser_input"), Array[Byte](0))
    intercept[Exception](run(tmp,
      s"""{"new_documents": [$skippedDoc], "updated_documents": {}}"""))
    assertNothingCached()
  }

  test("a successful run leaves nothing cached") {
    spark.catalog.clearCache()
    val tmp = Files.createTempDirectory("graft-cache-ok")
    val report = run(tmp,
      s"""{"new_documents": [$skippedDoc], "updated_documents": {}}""")
    assert(report.results.map(r => (r.document_id, r.error)) ===
      Seq(("SPEC.executive.1.1", None)))
    assert(Files.exists(tmp.resolve("parser_input/SPEC.executive.1.1.json")))
    assertNothingCached()
  }

  /** Run [[NewDocuments.ingestBatch]] once over `docs`, traced. */
  private def ingestBatch(tmp: Path, docs: Seq[BackendDocument])
      : (Seq[IngestResult], Jobs) = traced(NewDocuments.ingestBatch(spark, docs,
    UpdateConfig(s"file://$tmp", s"file://$tmp/cdn"), new MemoryFetcher,
    new StubConverter, Instant.parse("2024-01-01T00:00:00Z"),
    new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)))

  /** [[ingestBatch]] over [[mixedControl]]'s documents. */
  private def ingestMixed(tmp: Path): (Seq[IngestResult], Jobs) = {
    Files.write(tmp.resolve("control.json"), mixedControl.getBytes(UTF_8))
    ingestBatch(tmp, ControlFile.collectRows(
      ControlFile.read(spark, s"file://$tmp/control.json"))._1)
  }

  test("one pass: report rows, error classes, parser inputs and MD5-keyed upload") {
    val tmp = Files.createTempDirectory("graft-phase2-mixed")
    val (results, _) = ingestMixed(tmp)
    assert(results.sortBy(_.document_id).map(r =>
      (r.document_id, r.ingest_type, r.error.map(_.takeWhile(_ != ':')))) === Seq(
      ("SPEC.executive.1.1", "new", None),
      ("SPEC.executive.2.1", "new", None),
      ("SPEC.executive.3.1", "new", Some("IllegalArgumentException")),
      ("SPEC.executive.4.1", "new", Some("HttpStatusError"))))
    assert(results.flatMap(_.error).toSet === Set(
      "IllegalArgumentException: Invalid source_url: not a url",
      s"HttpStatusError: 404 Client Error for url: https://spec.example/gone.pdf"))

    // the one upload: stored under navigator/, keyed by its MD5
    val navigator = tmp.resolve("cdn/navigator")
    val uploads = Files.walk(navigator).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    assert(uploads.size === 1)
    val cdnObject = navigator.relativize(uploads.head).toString
    val md5 = NewDocuments.md5Hex(PdfBytes)
    assert(cdnObject.startsWith("IDN/2020/") && cdnObject.endsWith(s"_$md5.pdf"))
    assert(Files.readAllBytes(uploads.head).sameElements(PdfBytes))

    // parser input for exactly the non-error rows, rendered from the row
    val docs = ControlFile.collectRows(
      ControlFile.read(spark, s"file://$tmp/control.json"))._1
      .map(d => d.import_id -> d).toMap
    val parserInputs = Files.list(tmp.resolve("parser_input")).iterator()
      .asScala.map(p => p.getFileName.toString -> Files.readString(p)).toMap
    assert(parserInputs === Map(
      "SPEC.executive.1.1.json" -> ParserInputJson.render(
        docs("SPEC.executive.1.1"), Some(cdnObject), Some("application/pdf"),
        Some(md5)),
      "SPEC.executive.2.1.json" -> ParserInputJson.render(
        docs("SPEC.executive.2.1"), None, None, None)))
  }

  test("one ingestBatch call runs exactly one action: a collect in NewDocuments.scala") {
    val tmp = Files.createTempDirectory("graft-phase2-actions")
    val (results, jobs) = ingestMixed(tmp)
    assert(results.size === 4)
    assert((jobs.jobs, jobs.stageIds, jobs.shuffleBytes) === ((1, 1, 0L)), jobs)
    assert(jobs.stageNames.size === 1, jobs)
    assert(jobs.stageNames.head.matches("collect at NewDocuments\\.scala:\\d+"), jobs)

    val (none, noJobs) = ingestBatch(tmp, Nil)
    assert(none.isEmpty)
    assert(noJobs === Jobs(0, 0, Nil, 0L))
  }

  test("a run is one control collect plus one job per phase with rows") {
    val news = s"""[$skippedDoc]"""
    val updates = s"""{$unknownUpdate}"""
    val cases = Seq(
      ("updates only", s"""{"new_documents": [], "updated_documents": $updates}""",
        Seq("ControlFile", "IngestJob")),
      ("new only", s"""{"new_documents": $news, "updated_documents": {}}""",
        Seq("ControlFile", "NewDocuments")),
      ("mixed", s"""{"new_documents": $news, "updated_documents": $updates}""",
        Seq("ControlFile", "IngestJob", "NewDocuments")),
      ("empty", """{"new_documents": [], "updated_documents": {}}""",
        Seq("ControlFile")))
    for ((name, control, sites) <- cases) {
      val tmp = Files.createTempDirectory("graft-run-jobs")
      val (report, jobs) = traced(run(tmp, control))
      assert(jobs.jobs === sites.size, name)
      assert(jobs.stageIds === sites.size, name)
      assert(jobs.shuffleBytes === 0L, name)
      // in order: phase 1 has finished before phase 2's job starts
      assert(jobs.stageNames.map(_.replaceAll("^collect at (\\w+)\\.scala:\\d+$", "$1")) ===
        sites, name)
      assert(report.results.map(_.ingest_type).distinct.sorted ===
        sites.collect { case "IngestJob" => "updated"; case "NewDocuments" => "new" }
          .sorted, name)
    }
  }

  test("a stream batch of two control files ingests both files' new documents") {
    val tmp = Files.createTempDirectory("graft-stream-batch")
    Files.createDirectories(tmp.resolve("incoming"))
    for (n <- Seq(1, 2)) Files.write(tmp.resolve(s"incoming/c$n.json"),
      s"""{"new_documents": [${newDoc(n, "null")}], "updated_documents": {$unknownUpdate}}"""
        .getBytes(UTF_8))
    graft.streaming.IngestStream.start(spark,
      UpdateConfig(s"file://$tmp", s"file://$tmp/cdn"), "incoming/*.json",
      s"$tmp/ckpt", new NoFetcher, new StubConverter,
      () => Instant.parse("2024-01-01T00:00:00Z")).awaitTermination()
    assert(Files.list(tmp.resolve("parser_input")).iterator().asScala
      .map(_.getFileName.toString).toSet ===
      Set("SPEC.executive.1.1.json", "SPEC.executive.2.1.json"))
  }
}
