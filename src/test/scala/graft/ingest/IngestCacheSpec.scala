package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant

import graft.model.Schemas.UpdateConfig

object IngestCacheSpec {
  /** The runs here fetch nothing; top-level so it serializes to executors. */
  class NoFetcher extends Fetcher {
    override def get(url: String): FetchResponse =
      throw new UnsupportedOperationException(url)
  }

  /** A new document with no URLs: skipped without a fetch, then written
    * to parser input like any successful row.
    */
  val skippedDoc: String =
    """{"publication_ts": "2020-01-01T00:00:00", "name": "Skipped",
      |"description": "no urls", "source_url": null, "download_url": null,
      |"url": null, "md5_sum": null, "type": "Law", "source": "SPEC",
      |"import_id": "SPEC.executive.1.1", "family_import_id": "SPEC.family.1.0",
      |"category": "Law", "geography": "IDN", "languages": ["en"],
      |"metadata": {"hazards": [], "frameworks": [], "instruments": [],
      |  "keywords": [], "sectors": [], "topics": []},
      |"slug": "skipped", "family_slug": "skipped-family"}"""
      .stripMargin.replace("\n", " ")
}

/** A failed ingest run must release what it cached: `IngestStream` runs
  * the same phases in a long-lived session, where a leaked relation
  * would stay for the life of the stream.
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
}
