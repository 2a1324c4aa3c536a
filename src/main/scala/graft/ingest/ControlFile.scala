package graft.ingest

import graft.model.Schemas
import graft.model.Schemas.{BackendDocument, Update}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Control-file source (SURVEY.md §2 S1–S4): one JSON document announcing
  * new documents (array) and updates (map document_id → update list).
  * [[collectRows]] brings both lists to the driver in one action.
  *
  * The polymorphic `Update.s3_value`/`db_value` (string | object | null,
  * reference fixture `new_and_updated_documents.json:786-1030`) are read
  * as `VariantType` and re-serialized to canonical JSON strings, keeping
  * the schema fixed while values stay faithful (SURVEY.md §1.2).
  *
  * Known canonicalization nuance: variant parsing normalizes
  * integer-valued decimals, so a literal `10000000.0` inside a
  * polymorphic value re-serializes as `10000000` (Python's json round
  * trip would keep the `.0`). Semantically equal; byte-parity holds for
  * every value shape in the reference corpus.
  */
object ControlFile {

  /** Read schema: `PipelineUpdates` (reference `base/utils.py:30-31`). */
  val pipelineUpdatesSchema: StructType = StructType(Seq(
    StructField("new_documents", ArrayType(Schemas.backendDocumentSchema)),
    StructField("updated_documents", MapType(StringType, ArrayType(
      StructType(Seq(
        StructField("type", StringType),
        StructField("s3_value", VariantType),
        StructField("db_value", VariantType)
      )))))
  ))

  /** Reader settings of both reads, with [[pipelineUpdatesSchema]]: one
    * JSON document per file, and FAILFAST ≈ the reference's strict
    * `PipelineUpdates.model_validate` (`utils.py:31`) — a malformed
    * control file fails loudly instead of reading (or, on a stream,
    * being checkpoint-committed) as 0 documents.
    */
  private val readerOptions = Map("multiLine" -> "true", "mode" -> "FAILFAST")

  /** Load + validate the control file (S1/S2). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.options(readerOptions).schema(pipelineUpdatesSchema).json(path)

  /** [[read]] as a file stream: one row per arriving control file. */
  def readStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.options(readerOptions).schema(pipelineUpdatesSchema)
      .json(path)

  /** One update element with its polymorphic values as JSON strings. */
  private val updateJson: Column => Column = u => struct(
    u.getField("type").as("type"),
    to_json(u.getField("s3_value")).as("s3_value"),
    to_json(u.getField("db_value")).as("db_value"))

  /** S3 + S4 on the driver, in one `select` and one `collect`, nothing
    * cached: every control row's new documents, and its updates as
    * (document id, update list) in file order, each list kept grouped
    * (per-document sequential semantics, SURVEY.md §2 U1). Several rows (a
    * stream batch of several files) flatten in row order; an absent,
    * `null` or empty list adds nothing.
    */
  def collectRows(control: DataFrame)
      : (Seq[BackendDocument], Seq[(String, Seq[Update])]) = {
    import control.sparkSession.implicits._
    val rows = control.select(col("new_documents"),
      transform(map_entries(col("updated_documents")), e => struct(
        e.getField("key").as("_1"), transform(e.getField("value"), updateJson).as("_2"))))
      .as[(Option[Seq[BackendDocument]], Option[Seq[(String, Seq[Update])]])]
      .collect()
    (rows.flatMap(_._1.getOrElse(Nil)).toSeq, rows.flatMap(_._2.getOrElse(Nil)).toSeq)
  }

  /** S3 / S4 as relations: one row per new document / updated id. */
  def newDocuments(control: DataFrame): DataFrame =
    control.select(explode(col("new_documents")).as("doc")).select(col("doc.*"))

  def updatedDocuments(control: DataFrame): DataFrame =
    control.select(explode(col("updated_documents")).as(Seq("document_id", "updates")))
      .select(col("document_id"), transform(col("updates"), updateJson).as("updates"))
}
