package graft.ingest

import java.security.MessageDigest
import java.time.Instant

import graft.functions.{ContentTypes, FileNames, Slugify}
import graft.model.{Mappings, Schemas}
import graft.model.Schemas.BackendDocument
import org.apache.spark.util.SerializableConfiguration

/** New-document pipeline (SURVEY.md §2 P1–P5, C1–C9, K1–K2, §3.2).
  *
  * One effectful `mapPartitions` stage performs download → content-type
  * detection → normalize-to-PDF → content-hash keying → CDN blob store →
  * parser-input record, one fetcher/converter per partition, and one
  * `collect` of the report rows is its only action ([[ingestBatch]]).
  * Every fetch, convert or upload failure becomes the row's error value
  * (reference `main.py:209-227` semantics: the job never dies on a row).
  * The stage is deliberately OUTSIDE Catalyst's expression space so the
  * optimizer can never reorder or re-evaluate the effects (SURVEY.md
  * §4.1).
  *
  * The pure pieces (slugify C9, content sniffing C1, byte-aware filename
  * C8) are the unit-tested functions from `graft.functions`, shared with
  * the SQL surface.
  */
object NewDocuments {

  /** Outcome row for one new document: the source doc, upload facts (null
    * when skipped), or a per-row error string `"Type: message"`
    * (reference `main.py:221-227`).
    */
  case class Processed(
      doc: BackendDocument,
      cdn_object: Option[String],
      md5_sum: Option[String],
      content_type: Option[String],
      error: Option[String])

  /** pydantic `AnyHttpUrl` gate (reference `new_document_actions.py:78-85`):
    * http/https scheme with a host.
    */
  def isValidHttpUrl(url: String): Boolean =
    try {
      val u = new java.net.URI(url)
      (u.getScheme == "http" || u.getScheme == "https") && u.getHost != null
    } catch { case _: Exception => false }

  def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  /** Process one document end-to-end (P1: the per-row composition). */
  def processOne(
      doc: BackendDocument,
      documentRoot: String,
      fetcher: Fetcher,
      converter: Converter,
      runTs: Instant,
      conf: org.apache.hadoop.conf.Configuration): Processed = {
    try {
      // O6: structured per-document logging (reference
      // new_document_actions.py:74,84,102)
      JsonLog.info("new_document_actions", s"Handling document: ${doc.name}",
        "document_id" -> doc.import_id)
      // P3: source-URL validation — invalid → row error, job continues
      doc.source_url.filter(_.nonEmpty).foreach { u =>
        if (!isValidHttpUrl(u)) {
          JsonLog.error("new_document_actions",
            s"Invalid source URL for document '${doc.import_id}'",
            "document_id" -> doc.import_id)
          throw new IllegalArgumentException(s"Invalid source_url: $u")
        }
      }

      // P2: upload-or-skip decision
      val fetchUrl = doc.download_url.filter(_.nonEmpty)
        .orElse(doc.source_url.filter(_.nonEmpty))
      fetchUrl match {
        case None =>
          // both URLs empty → skip (all-null upload result, NOT an error;
          // reference new_document_actions.py:35-48)
          Processed(doc, None, None, None, None)
        case Some(url) =>
          val slug = Slugify.slugify(doc.name)
          val year = doc.publication_ts.toInstant
            .atOffset(java.time.ZoneOffset.UTC).getYear
          val s3Prefix = s"${doc.geography}/$year"

          // S5 + C1: download and detect the SOURCE content type
          val resp = fetcher.get(url)
          val contentType =
            ContentTypes.determine(resp.body, url, resp.contentTypeHeader)

          // C2–C6: normalize to PDF; reported content_type stays the
          // detected source type (quirk asserted by the reference's own
          // tests — SURVEY.md §3.2)
          val watermark = Converter.watermarkText(url, runTs)
          val pdfBytes = contentType match {
            case Mappings.ContentTypeHtml =>
              val (captured, _) = converter.capturePdfFromUrl(url)
              converter.addLastPageWatermark(captured, watermark)
            case Mappings.ContentTypeDocx | Mappings.ContentTypeDoc =>
              converter.addLastPageWatermark(
                converter.docToPdf(resp.body), watermark)
            case Mappings.ContentTypePdf => resp.body
            case other =>
              throw new UnsupportedOperationException(
                s"Unsupported content type: $other")
          }

          // C7/C8: content-hash key — idempotent under task retries
          val hash = md5Hex(pdfBytes)
          val fileName =
            FileNames.createFileNameForUpload(hash, slug, ".pdf", s3Prefix)

          // K1: store blob at {documentRoot}/navigator/{fileName};
          // the reported cdn_object is the key WITHOUT the navigator/
          // prefix (reference api_client.py:168-177)
          val cleanName = fileName.dropWhile(_ == '/')
          Fetcher.withRetry(4) {
            Storage.writeBytes(s"$documentRoot/navigator/$cleanName",
              pdfBytes, conf)
          }
          JsonLog.info("new_document_actions",
            s"Uploaded content for '${doc.import_id}'",
            "document_id" -> doc.import_id)
          Processed(doc, Some(cleanName), Some(hash), Some(contentType), None)
      }
    } catch {
      case e: Exception =>
        JsonLog.error("new_document_actions",
          s"Ingest failed for '${doc.import_id}': " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}",
          "document_id" -> doc.import_id)
        Processed(doc, None, None, None,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  /** Phase-2 pipeline over a control DataFrame, shared by the batch job
    * and the streaming foreachBatch, in one effectful `mapPartitions`
    * under one `collect`. The control file is ONE json file, so one input
    * partition: the repartition spreads the fetches over every task slot
    * and moves only document metadata. Each row runs [[processOne]], then
    * (error-free rows only, skips included) writes its K2 parser input,
    * one pretty-printed JSON at `{pipelineRoot}/{parserInputPrefix}/
    * {document_id}.json` in exact field order (reference
    * `api_client.py:180-193`, `main.py:216-220`). The write sits outside
    * `processOne`'s row-level catch: a write that still fails after its
    * retries fails the run. Only the three report fields reach the
    * driver, never the document metadata.
    *
    * Trade-off: nothing is cached between upload and sink, so on a
    * cluster a task retried after a failed write re-runs its partition's
    * fetch and upload. Content-hash keys make a re-upload overwrite
    * itself (C7/C8); HTML captures are the exception, since every capture
    * yields different bytes and so a second blob.
    */
  def ingestBatch(
      control: org.apache.spark.sql.DataFrame,
      cfg: graft.model.Schemas.UpdateConfig,
      fetcher: Fetcher,
      converter: Converter,
      runTs: Instant,
      conf: SerializableConfiguration): Seq[Schemas.IngestResult] = {
    val spark = control.sparkSession
    import spark.implicits._
    val outputLocation = s"${cfg.pipelineRoot}/${cfg.parserInputPrefix}"
    ControlFile.newDocuments(control).as[BackendDocument]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { docs =>
        val c = conf.value
        docs.map { doc =>
          val p = processOne(doc, cfg.documentRoot, fetcher, converter, runTs, c)
          if (p.error.isEmpty) {
            val text = ParserInputJson.render(
              doc, p.cdn_object, p.content_type, p.md5_sum)
            Fetcher.withRetry(4) {
              Storage.writeString(
                s"$outputLocation/${doc.import_id}.json", text, c)
            }
          }
          Schemas.IngestResult(doc.import_id, "new", p.error)
        }
      }
      .collect().toSeq
  }
}
