package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant

import graft.ingest.{Fetcher, FetchResponse, IngestJob, StubConverter}
import graft.model.Schemas.UpdateConfig
import org.apache.spark.sql.SparkSession

/** Throughput soak harness over BOTH halves of the ingest contract:
  *
  *  - phase A, mixed run: an N-new + M-updated control file through the
  *    full two-phase job — the barrier, dispatch, and report union under
  *    one zero-error bar. This soak is what exposed the round-1
  *    single-task fetch pinning (a one-file control JSON reads as ONE
  *    partition unless phase 2 repartitions).
  *  - phase B, updates-only run against a fresh seeded cache, so the
  *    U1–U10 rename/edit path gets its own updates/sec figure (the mixed
  *    run can't separate phase timings from outside the job).
  *
  * Updated documents cycle through the four dispatch families so every
  * action kind does real file work per run: slug+name (U9 edit across 3
  * prefixes + U6 edit/archive), description+metadata (U6 ×2),
  * source_url → parse (U5 archive-everything, via the U3 short-circuit),
  * and reparse (U10). Each updated doc is seeded with the 4 cache files
  * the actions touch (parser/embeddings/indexer json + indexer npy).
  *
  * Usage: runMain graft.Soak [nNew] [nUpdated] (default 5000 2000)
  */
object Soak {

  /** Deterministic fetcher: bytes derived from the URL, no network. */
  class SoakFetcher extends Fetcher {
    override def get(url: String): FetchResponse = {
      val body = (s"%PDF-1.4\n% soak:$url\n" + "x" * 2048 + "\n%%EOF\n")
        .getBytes(UTF_8)
      FetchResponse(200, body, "application/pdf")
    }
  }

  private def doc(i: Int): String =
    s"""{"publication_ts": "2020-01-01T00:00:00",
       |"name": "Soak document $i",
       |"description": "generated soak doc",
       |"source_url": "https://example.com/doc$i.pdf",
       |"download_url": "https://example.com/dl/doc$i.pdf",
       |"url": null, "md5_sum": null,
       |"type": "Law", "source": "SOAK",
       |"import_id": "SOAK.executive.$i.$i",
       |"family_import_id": "SOAK.family.$i.0",
       |"category": "Law", "geography": "IDN",
       |"languages": ["en"],
       |"metadata": {"hazards": [], "frameworks": [], "instruments": [],
       |  "keywords": ["soak"], "sectors": [], "topics": []},
       |"slug": "soak-document-$i",
       |"family_slug": "soak-family-$i"}""".stripMargin.replace("\n", " ")

  private def updId(i: Int): String = s"SOAKUPD.executive.$i.$i"

  /** One updated-document entry, cycling the four dispatch families. */
  private def updEntry(i: Int): String = {
    val id = updId(i)
    val actions = i % 4 match {
      case 0 =>
        s"""[{"type": "slug", "s3_value": "cached-slug-$i",
           |  "db_value": "new-slug-$i"},
           | {"type": "name", "s3_value": "Cached name $i",
           |  "db_value": "New name $i"}]""".stripMargin
      case 1 =>
        s"""[{"type": "description", "s3_value": "cached description $i",
           |  "db_value": "new description $i"},
           | {"type": "metadata", "s3_value": {"keywords": ["soak"]},
           |  "db_value": {"keywords": ["soak", "updated"]}}]""".stripMargin
      case 2 =>
        s"""[{"type": "source_url",
           |  "s3_value": "https://example.com/cached$i.pdf",
           |  "db_value": "https://example.com/moved$i.pdf"}]""".stripMargin
      case _ =>
        s"""[{"type": "reparse", "s3_value": null,
           |  "db_value": null}]""".stripMargin
    }
    "\"" + id + "\": " + actions.replace("\n", " ")
  }

  /** Seed the cache files the update actions edit/rename: parser and
    * embeddings JSON (every editable pipeline field present), indexer
    * JSON + npy (the rename targets).
    */
  private def seedCachedDoc(pipeline: Path, i: Int): Unit = {
    val id = updId(i)
    val json =
      s"""{"document_id": "$id",
         |"document_name": "Cached name $i",
         |"document_description": "cached description $i",
         |"document_source_url": "https://example.com/cached$i.pdf",
         |"document_metadata": {"keywords": ["soak"]},
         |"document_slug": "cached-slug-$i",
         |"document_content_type": "application/pdf"}"""
        .stripMargin.replace("\n", " ")
    for (prefix <- Seq("parser_input", "embeddings_input", "indexer_input")) {
      val dir = pipeline.resolve(prefix)
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"$id.json"), json.getBytes(UTF_8))
    }
    Files.write(pipeline.resolve("indexer_input").resolve(s"$id.npy"),
      Array.fill[Byte](128)(0x42))
  }

  /** Build a pipeline tree holding a control file with `nNew` new and
    * `nUpd` updated documents (cache files seeded for the latter).
    */
  private def buildTree(nNew: Int, nUpd: Int): Path = {
    val tmp = Files.createTempDirectory("graft-soak")
    val inputDir = tmp.resolve("pipeline/input/soak-run")
    Files.createDirectories(inputDir)
    (0 until nUpd).foreach(i => seedCachedDoc(tmp.resolve("pipeline"), i))
    val control = "{\"new_documents\": [" +
      (0 until nNew).map(doc).mkString(",") +
      "], \"updated_documents\": {" +
      (0 until nUpd).map(updEntry).mkString(",") +
      "}}"
    Files.write(inputDir.resolve("new_and_updated_documents.json"),
      control.getBytes(UTF_8))
    tmp
  }

  private def deleteTree(tmp: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(tmp).iterator().asScala.toSeq.reverse
      .foreach(p => Files.deleteIfExists(p))
  }

  private def runJob(spark: SparkSession, tmp: Path) =
    IngestJob.run(spark, UpdateConfig(
        pipelineRoot = s"file://${tmp.resolve("pipeline")}",
        documentRoot = s"file://${tmp.resolve("cdn")}"),
      inputDirPath = "input/soak-run",
      updatesFileName = "new_and_updated_documents.json",
      fetcher = new SoakFetcher,
      converter = new StubConverter,
      runTs = Instant.parse("2024-01-01T00:00:00Z"))

  def main(args: Array[String]): Unit = {
    val nNew = if (args.nonEmpty) args(0).toInt else 5000
    val nUpd = if (args.length > 1) args(1).toInt else 2000
    val spark = Harness.session()
    // soak measures the pipeline, not the log volume: count lines (and
    // error-level lines — per-action errors are log-only by contract, so
    // the zero-error bar must read the log, not just the report)
    val logCount = new java.util.concurrent.atomic.AtomicLong
    val errLogCount = new java.util.concurrent.atomic.AtomicLong
    ingest.JsonLog.sink = { line =>
      logCount.incrementAndGet()
      if (line.contains("\"level\": \"ERROR\"") ||
          line.contains("\"level\":\"ERROR\"")) errLogCount.incrementAndGet()
    }

    // ---- phase A: mixed run -----------------------------------------
    val mixedTree = buildTree(nNew, nUpd)
    val t0 = System.nanoTime()
    val report = runJob(spark, mixedTree)
    val mixedSec = (System.nanoTime() - t0) / 1e9
    val errs = report.results.count(_.error.isDefined)
    val newCount = report.results.count(_.ingest_type == "new")
    val updCount = report.results.count(_.ingest_type == "updated")
    println(f"SOAK new=$newCount updated=$updCount errors=$errs " +
      f"errorLogs=${errLogCount.get()} sec=$mixedSec%.1f " +
      f"docsPerSec=${(nNew + nUpd) / mixedSec}%.1f " +
      f"logLines=${logCount.get()}")
    deleteTree(mixedTree)

    // ---- phase B: updates-only run (fresh seeded cache) -------------
    errLogCount.set(0)
    val updTree = buildTree(0, nUpd)
    val t1 = System.nanoTime()
    val updReport = runJob(spark, updTree)
    val updSec = (System.nanoTime() - t1) / 1e9
    val updErrs = updReport.results.count(_.error.isDefined)
    println(f"SOAK-UPDATES updated=$nUpd errors=$updErrs " +
      f"errorLogs=${errLogCount.get()} sec=$updSec%.1f " +
      f"updatesPerSec=${nUpd / updSec}%.1f")
    deleteTree(updTree)
    spark.stop()
  }
}
