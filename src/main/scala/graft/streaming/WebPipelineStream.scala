package graft.streaming

import java.sql.Timestamp

import graft.operators.{CrossLingual, QualityFilters}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The RefinedWeb-style web pipeline (q382) as a STREAM — the
  * round-15 capstone completing the ingest-gate family: each arriving
  * crawled page runs the full pre-content → content → quality chain
  * against YESTERDAY's corpus state, held as two static indexes:
  *
  *  1. URL-canonical probe ([[graft.operators.UrlDedup.urlIndex]] as
  *     the static side; the canonical key is the same single
  *     codegen'd Column program, so the probe is one stream-static
  *     equi-join) — a hit means the page is already in the corpus
  *     under another fetch variant; it drops. NULL canonical keys
  *     (unparseable URLs) never match and PASS — the loud-opt-out
  *     contract.
  *  2. Folded-fingerprint probe ([[CrossLingual.fingerprintIndex]]
  *     static) — the content-grain dedup behind the URL key; NULL
  *     fingerprints (fully non-Latin under the Latin fold) pass.
  *  3. Quality gate ([[QualityFilters.keep]] — a pure row-wise
  *     Column program, stream-safe unchanged).
  *
  * Stateless append-mode contract (the [[PipelineStream]] shape):
  * clean rows emit, duplicates and rejects never appear. The batch
  * q382 runs the SAME operators corpus-wide; the stream form is what
  * the crawler's ingest edge runs between corpus rebuilds.
  */
object WebPipelineStream {

  case class WebDoc(doc_id: Long, url: String, text: String,
    lang: String, ts: Timestamp)

  /** `urlIdx` = [[graft.operators.UrlDedup.urlIndex]] output;
    * `fpIdx` = [[CrossLingual.fingerprintIndex]] output (both
    * static). Output: one row per arriving doc that is neither a
    * URL-variant nor a content-fold duplicate of the corpus and
    * passes the quality thresholds — (doc_id, url, canonical_url,
    * text, lang, ts).
    */
  def keptDocs(docs: DataFrame, urlIdx: DataFrame, fpIdx: DataFrame,
      t: QualityFilters.Thresholds): DataFrame = {
    val afterUrl = docs
      .withColumn("canonical_url",
        graft.functions.Urls.canonicalize(col("url")))
      .join(urlIdx.select(col("curl").as("__icurl"),
        col("matched_id").as("__um")),
        col("canonical_url") === col("__icurl"), "left")
      .filter(col("__um").isNull) // URL hit = duplicate fetch variant
      .drop("__icurl", "__um")
    val afterFp = afterUrl
      .withColumn("fp", CrossLingual.foldedFingerprint(col("text")))
      .join(fpIdx.select(col("fp"), col("matched_id").as("__fm")),
        Seq("fp"), "left")
      .filter(col("__fm").isNull) // fingerprint hit = content dup
      .drop("fp", "__fm")
    QualityFilters.keep(afterFp, "text", t)
      .select(col("doc_id"), col("url"), col("canonical_url"),
        col("text"), col("lang"), col("ts"))
  }

  /** Duplicated-LINE filter as a stream — the
    * [[graft.operators.Boilerplate.removeDuplicatedLines]] family's
    * ingest-edge form: arriving docs explode to (doc_id, pos, line)
    * and each line probes yesterday's duplicated-line index
    * ([[graft.operators.Boilerplate.duplicatedLineIndex]] output,
    * static) with ONE stream-static LEFT ANTI join. Emits the KEPT
    * lines (stateless append — a per-doc string rebuild would need a
    * doc-grain aggregation, which an un-windowed append stream never
    * emits; downstream either consumes line-grain or reassembles per
    * micro-batch ([[Streams.perBatch]]) via
    * [[graft.operators.Boilerplate.removeLinesAgainstIndex]], which
    * is batch-identical by the shared join device).
    */
  def keptLines(docs: DataFrame, dupIdx: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("ts"),
        posexplode(split(col("text"), "\n")))
      .toDF("doc_id", "ts", "line_pos", "line")
      .join(dupIdx.select(col("line")), Seq("line"), "left_anti")
      .select(col("doc_id"), col("line_pos"), col("line"), col("ts"))
}
