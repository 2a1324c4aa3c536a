package graft.model

/** Static lookup tables of the engine.
  *
  * Re-expresses the reference's constant maps
  * (`base/types.py:17-69` and the update dispatch table
  * `base/updated_document_actions.py:453-461`) as Scala values.
  */
object Mappings {

  val ContentTypeHtml = "text/html"
  val ContentTypeDocx =
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document"
  val ContentTypePdf = "application/pdf"
  val ContentTypeDoc = "application/msword"

  /** content type -> canonical file extension (`types.py:45-50`). */
  val FileExtensionMapping: Map[String, String] = Map(
    ContentTypePdf -> ".pdf",
    ContentTypeHtml -> ".html",
    ContentTypeDocx -> ".docx",
    ContentTypeDoc -> ".doc"
  )

  /** file extension -> content type (reversed mapping, `types.py:52`). */
  val ContentTypeMapping: Map[String, String] =
    FileExtensionMapping.map(_.swap)

  /** update type -> pipeline JSON field to edit (`types.py:63-69`). */
  val PipelineFieldMapping: Map[String, String] = Map(
    "name" -> "document_name",
    "description" -> "document_description",
    "source_url" -> "document_source_url",
    "metadata" -> "document_metadata",
    "slug" -> "document_slug"
  )

  /** Action names (dispatch targets). */
  object Actions {
    val Parse = "parse"
    val UpdateDontParse = "update_dont_parse"
    val UpdateFieldInAllOccurences = "update_field_in_all_occurences"
    val Reparse = "reparse"
  }

  /** update type -> action name (`updated_document_actions.py:453-461`). */
  val UpdateTypeActions: Map[String, String] = Map(
    "source_url" -> Actions.Parse,
    "reprocess" -> Actions.Parse,
    "name" -> Actions.UpdateDontParse,
    "description" -> Actions.UpdateDontParse,
    "metadata" -> Actions.UpdateDontParse,
    "slug" -> Actions.UpdateFieldInAllOccurences,
    "reparse" -> Actions.Reparse
  )
}
