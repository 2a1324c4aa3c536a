package graft.ingest

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import graft.model.Mappings
import graft.model.Mappings.Actions
import graft.model.Schemas.{Update, UpdateConfig, UpdateResult}
import org.apache.hadoop.conf.Configuration

/** Update-path operators (SURVEY.md §2 U1–U10, §3.3): per-document action
  * dispatch, ordering/short-circuit, schema-tolerant JSON field edits and
  * archive renames over the pipeline cache.
  *
  * Updates stay GROUPED per document — one row per document id carrying
  * its update array — so one task executes a document's actions strictly
  * in order (the reference's per-document sequential semantics,
  * `updated_document_actions.py:33-62`). Edits are raw-JSON surgery via
  * insertion-ordered ObjectNodes: unknown fields and field order survive
  * (the integration contract, `test_integration.py:353-358`).
  */
object Updates {

  private val archiveTsFmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd-HH-mm-ss").withZone(ZoneOffset.UTC)

  /** U2: update type → action name; unknown types throw (caught per row
    * by the caller → IngestResult.error, reference `main.py:184-196`).
    */
  def dispatch(updateType: String): String =
    Mappings.UpdateTypeActions.getOrElse(updateType,
      throw new IllegalArgumentException(
        s"'$updateType' is not a valid UpdateTypes"))

  /** U3: if any action is `parse`, run ONLY the first such action; else
    * stable-sort with `update_dont_parse` last
    * (reference `updated_document_actions.py:65-86`).
    */
  def orderActions(actions: Seq[(Update, String)]): Seq[(Update, String)] =
    actions.find(_._2 == Actions.Parse) match {
      case Some(parseAction) => Seq(parseAction)
      case None => actions.sortBy(_._2 == Actions.UpdateDontParse)
    }

  /** U7: optimistic single-field edit of a cached JSON doc. Missing file →
    * benign no-op; value mismatch → log-only; missing FIELD → error string
    * (reference `updated_document_actions.py:342-412`). `newValueJson` /
    * `existingValueJson` are canonical JSON text (string|object|null).
    */
  def updateFileField(path: String, updateType: String,
      newValueJson: Option[String], existingValueJson: Option[String],
      conf: Configuration): Option[String] = {
    val bytes = Storage.readIfExists(path, conf).getOrElse(return None)
    val pipelineField = Mappings.PipelineFieldMapping(updateType)
    val doc = PyJson.parse(new String(bytes, StandardCharsets.UTF_8))
    val obj = doc.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    if (!obj.has(pipelineField))
      return Some(s"KeyError: '$pipelineField' not found in $path")
    // optimistic-concurrency check is log-only in the reference (:366-380)
    val newNode = newValueJson.map(PyJson.parse)
      .getOrElse(PyJson.mapper.nullNode())
    obj.set[com.fasterxml.jackson.databind.JsonNode](pipelineField, newNode)
    Storage.writeString(path, PyJson.dumps(obj), conf)
    None
  }

  /** U4: a document's cache keys under one prefix, plain then translated. */
  private def twins(documentId: String): Seq[String] =
    Seq(documentId, s"${documentId}_translated_en")

  /** What one action does to the cache: the prefixes whose `{id}.json`
    * and translated twin get the U7 field edit, then the
    * `(prefix, file, suffix)` artifacts archived, in rename order.
    * A plain file and its twin archive to the same key, so the twin,
    * renamed second, is the one that stays (SURVEY.md §2 U5).
    */
  private def effects(action: String, cfg: UpdateConfig, documentId: String)
      : (Seq[String], Seq[(String, String, String)]) = {
    val all = Seq(cfg.parserInputPrefix, cfg.embeddingsInputPrefix,
      cfg.indexerInputPrefix)
    def archiveAll(prefixes: Seq[String]) = for (p <- prefixes;
      suffix <- Seq("json", "npy"); file <- twins(documentId)) yield (p, file, suffix)
    action match {
      // U5: archive every artifact → full re-processing next run
      // (reference `updated_document_actions.py:189-237`)
      case Actions.Parse => (Nil, archiveAll(all))
      // U10: archive embeddings+indexer → re-parse/re-embed without
      // re-download (reference `updated_document_actions.py:240-288`)
      case Actions.Reparse => (Nil, archiveAll(all.tail))
      // U9: field edit across all 3 prefixes, no archiving
      // (reference `updated_document_actions.py:291-339`)
      case Actions.UpdateFieldInAllOccurences => (all, Nil)
      // U6: edit parser+embeddings, archive the plain indexer npy + json
      // → re-embed without re-parsing
      // (reference `updated_document_actions.py:89-186`)
      case Actions.UpdateDontParse => (all.take(2),
        Seq("npy", "json").map(suffix => (cfg.indexerInputPrefix, documentId, suffix)))
    }
  }

  /** Executes one action's [[effects]]: edits first, then archive
    * renames; returns the per-file error list in that order.
    */
  private def runAction(action: String, documentId: String, update: Update,
      cfg: UpdateConfig, runTs: Instant, conf: Configuration): Seq[String] = {
    val (edits, archives) = effects(action, cfg, documentId)
    val root = cfg.pipelineRoot
    val ts = archiveTsFmt.format(runTs)
    val editErrors = for (p <- edits; file <- twins(documentId)) yield
      updateFileField(s"$root/$p/$file.json", update.`type`, update.db_value,
        update.s3_value, conf)
    val archiveErrors = for ((p, file, suffix) <- archives) yield
      Storage.rename(s"$root/$p/$file.$suffix",
        s"$root/${cfg.archivePrefix}/$p/$documentId/$ts.$suffix", conf)
    (editErrors ++ archiveErrors).flatten
  }

  /** Python `str(list)` of the per-action error list — the reference
    * stringifies it into `UpdateResult.error`, so "[]" means success
    * (`updated_document_actions.py:55-62`, SURVEY.md §3.3).
    */
  def stringifyErrors(errors: Seq[String]): String =
    errors.map(e => "'" + e.replace("\\", "\\\\").replace("'", "\\'") + "'")
      .mkString("[", ", ", "]")

  /** U1: dispatch, order, execute sequentially; one UpdateResult per
    * executed action (reference `updated_document_actions.py:33-62`).
    */
  def updateDocument(documentId: String, updates: Seq[Update],
      cfg: UpdateConfig, runTs: Instant,
      conf: Configuration): Seq[UpdateResult] = {
    val actions = updates.map(u => (u, dispatch(u.`type`)))
    orderActions(actions).map { case (update, actionName) =>
      val errors = runAction(actionName, documentId, update, cfg, runTs, conf)
      UpdateResult(documentId, update.`type`, stringifyErrors(errors))
    }
  }
}
