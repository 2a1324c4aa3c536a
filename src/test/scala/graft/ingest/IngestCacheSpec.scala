package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.model.Schemas.{BackendDocument, IngestResult, UpdateConfig}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

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
}

/** Phase 2 runs in one pass: each row uploads and writes its parser
  * input inside one effectful stage, and one `collect` is the only
  * action, with nothing cached in between. A failed run must still
  * release what `IngestJob.run` cached: `IngestStream` runs the same
  * phases in a long-lived session, where a leaked relation would stay for
  * the life of the stream.
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

  /** Run [[NewDocuments.ingestBatch]] once over [[mixedControl]] in a
    * fresh session, so the session's query listener sees only this call.
    * Returns the report rows, the actions run, and the call site of each
    * SQL execution that reads this control file.
    */
  private def ingestMixed(tmp: Path)
      : (Seq[IngestResult], Seq[String], Seq[String]) = {
    Files.write(tmp.resolve("control.json"), mixedControl.getBytes(UTF_8))
    val session = spark.newSession()
    val control = ControlFile.read(session, s"file://$tmp/control.json")
    val actions = new ConcurrentLinkedQueue[String]()
    val actionListener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        actions.add(action)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
        actions.add(action)
    }
    // a root execution's description is its caller's call site (its
    // jobs' stage names are not: adaptive execution submits them from a
    // pool thread)
    val callSites = new ConcurrentLinkedQueue[String]()
    val startListener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) &&
              s.physicalPlanDescription.contains(tmp.getFileName.toString) =>
          callSites.add(s.description)
        case _ =>
      }
    }
    session.listenerManager.register(actionListener)
    spark.sparkContext.addSparkListener(startListener)
    try {
      val results = NewDocuments.ingestBatch(control,
        UpdateConfig(s"file://$tmp", s"file://$tmp/cdn"), new MemoryFetcher,
        new StubConverter, Instant.parse("2024-01-01T00:00:00Z"),
        new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
      // both listeners share one ordered queue: once the collect is in,
      // every earlier action and execution start of this call is too
      eventually(timeout(Span(30, Seconds))) {
        assert(actions.contains("collect"))
      }
      (results, actions.asScala.toSeq, callSites.asScala.toSeq)
    } finally {
      spark.sparkContext.removeSparkListener(startListener)
      session.listenerManager.unregister(actionListener)
    }
  }

  test("one pass: report rows, error classes, parser inputs and MD5-keyed upload") {
    val tmp = Files.createTempDirectory("graft-phase2-mixed")
    val (results, _, _) = ingestMixed(tmp)
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
    val docs = ControlFile.newDocuments(
      ControlFile.read(spark, s"file://$tmp/control.json"))
      .as[BackendDocument](Encoders.product[BackendDocument]).collect()
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
    val (_, actions, callSites) =
      ingestMixed(Files.createTempDirectory("graft-phase2-actions"))
    assert(actions === Seq("collect"))
    assert(callSites.size === 1, callSites)
    assert(callSites.head.matches("collect at NewDocuments\\.scala:\\d+"),
      callSites)
  }
}
