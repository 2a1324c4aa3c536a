package graft.streaming

import graft.operators.QualityClassifier
import graft.operators.QualityClassifier.NbModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming classifier-gated ingest: documents arrive as a stream and
  * score against a TRAINED static [[NbModel]] — the "accept/route on
  * arrival" half of classifier-based quality filtering, the NB analogue
  * of the trained-LM story ([[graft.operators.NgramLm.scoredGrams]]),
  * with the same two deployment shapes:
  *
  *  - [[tokenLlrRows]] — completely STATELESS: explode + ONE
  *    stream-static equi-join against the trained llr table, one row
  *    per token occurrence with its llr contribution. No watermark, no
  *    state store.
  *  - per-doc verdicts: [[QualityClassifier.score]] per micro-batch
  *    through [[Streams.perBatch]], batch-identical provided each
  *    document arrives whole in one batch (the row-per-document ingest
  *    contract; see [[graft.operators.NgramLm.logProbScore]] for why a
  *    streaming per-doc aggregation is the wrong shape).
  */
object ClassifierStream {

  /** Stateless per-token llr stage on a streaming frame: (idCol, token,
    * llr) with OOV tokens carrying the model's smoothing floor. Plans
    * as a stream-static join (ClassifierStreamSpec pins batch parity).
    */
  def tokenLlrRows(docs: DataFrame, idCol: String, textCol: String,
      model: NbModel): DataFrame =
    docs
      .withColumn("__cs_toks",
        graft.functions.TextFunctions.tokens(col(textCol)))
      .select(col(idCol), explode(col("__cs_toks")).as("token"))
      .join(model.llr, Seq("token"), "left")
      .select(col(idCol), col("token"),
        coalesce(col("llr"), lit(model.oovLlr)).as("llr"))
}
