package graft.model

import org.apache.spark.sql.types._

/** Typed data model of the ingest engine.
  *
  * Mirrors the record types evidenced in the reference
  * (climatepolicyradar/navigator-data-ingest):
  *  - control document `PipelineUpdates` (reference `base/utils.py:30-31`)
  *  - `BackendDocument` / `Update` shapes (fixture
  *    `tests/fixtures/pipeline_in/input/.../new_and_updated_documents.json`)
  *  - result rows (`base/types.py:95-138`)
  *
  * Polymorphic `Update.s3_value` / `db_value` (string | object | null in the
  * source JSON) are carried as canonical JSON *strings* so the schema stays
  * fixed while values stay faithful (SURVEY.md §1.2).
  */
object Schemas {

  /** Nested metadata struct of a BackendDocument (arrays of tags). */
  case class DocMeta(
      hazards: Seq[String] = Nil,
      frameworks: Seq[String] = Nil,
      instruments: Seq[String] = Nil,
      keywords: Seq[String] = Nil,
      sectors: Seq[String] = Nil,
      topics: Seq[String] = Nil
  )

  /** One new document announced by the control file. */
  case class BackendDocument(
      publication_ts: java.sql.Timestamp,
      name: String,
      description: String,
      source_url: Option[String],
      download_url: Option[String],
      url: Option[String],
      md5_sum: Option[String],
      `type`: String,
      source: String,
      import_id: String,
      family_import_id: String,
      category: String,
      geography: String,
      languages: Seq[String],
      metadata: DocMeta,
      slug: String,
      family_slug: String
  )

  /** One update instruction for an already-ingested document.
    * `s3Value`/`dbValue` are canonical JSON text (string|object|null).
    */
  case class Update(
      `type`: String,
      s3_value: Option[String],
      db_value: Option[String]
  )

  /** Result of one update action (`base/types.py:95-100`). The reference
    * stringifies the per-action error *list* — `error` is e.g. "[]" or
    * "['...']", never null (`base/updated_document_actions.py:55-62`).
    */
  case class UpdateResult(
      document_id: String,
      update_type: String,
      error: String
  )

  /** Final report row (`base/types.py:133-138`); `ingest_type` is
    * "new" | "updated".
    */
  case class IngestResult(
      document_id: String,
      ingest_type: String,
      error: Option[String]
  )

  /** Bucket/prefix configuration (`base/types.py:103-112`). In this engine
    * locations are generic Hadoop-FS URIs (file://, s3a://, ...).
    */
  case class UpdateConfig(
      pipelineRoot: String,
      documentRoot: String,
      inputPrefix: String = "input",
      parserInputPrefix: String = "parser_input",
      embeddingsInputPrefix: String = "embeddings_input",
      indexerInputPrefix: String = "indexer_input",
      archivePrefix: String = "archive"
  )

  // ---- StructTypes (for schema-on-read of the control file) ----

  val docMetaSchema: StructType = StructType(
    Seq("hazards", "frameworks", "instruments", "keywords", "sectors", "topics")
      .map(f => StructField(f, ArrayType(StringType), nullable = true))
  )

  val backendDocumentSchema: StructType = StructType(Seq(
    StructField("publication_ts", TimestampType),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("source_url", StringType),
    StructField("download_url", StringType),
    StructField("url", StringType),
    StructField("md5_sum", StringType),
    StructField("type", StringType),
    StructField("source", StringType),
    StructField("import_id", StringType),
    StructField("family_import_id", StringType),
    StructField("category", StringType),
    StructField("geography", StringType),
    StructField("languages", ArrayType(StringType)),
    StructField("metadata", docMetaSchema),
    StructField("slug", StringType),
    StructField("family_slug", StringType)
  ))
}
