package graft.streaming

import graft.functions.{TextFunctions => TF}
import graft.operators.Divergence
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming distribution-drift monitoring — the ingest-side deployment
  * of [[Divergence]]: each micro-batch of documents reduces to its
  * token count table and is scored (smoothed KL / Jensen–Shannon)
  * against a FROZEN reference distribution — the "did today's scrape
  * change shape" alarm. A JS jump on one batch is a feed regression the
  * moment it lands, not after the next full-corpus profile.
  *
  * Per batch: [[Divergence.divergence]] (smoothed KL/JS) of
  * [[tokenCounts]], or [[Divergence.wasserstein1]] of [[valueCounts]],
  * against the frozen reference through [[Streams.perBatch]]: the
  * score is a table-valued reduction per batch (one row), and the
  * caller owns both the reference table and what to do with the alarm.
  * The reference is re-used across batches as a plain DataFrame —
  * Spark re-evaluates it per batch, so pass something cheap (a
  * persisted count table or a parquet-backed profile, NOT a raw-corpus
  * derivation). W1 is the GEOMETRY-aware companion to KL/JS: a batch
  * whose lengths all shifted +50 tokens moves W1 by exactly 50 while
  * JS only says "different".
  *
  * Cumulative: a [[Streams.fold]] of each batch's counts with
  * [[mergeCounts]] — count tables merge by token-wise sum (the
  * [[graft.operators.Sketches]] fold discipline), so "distribution of
  * everything seen so far vs reference" needs only vocabulary-sized
  * state, and the fold is spec'd identical to counting the whole
  * stream as one batch.
  */
object DriftStream {

  /** Token count table of a static or micro-batch document frame — the
    * shape [[Divergence.divergence]] consumes and [[mergeCounts]]
    * folds.
    */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TF.tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("c"))

  /** Token-wise sum of two count tables (commutative, associative —
    * the streaming fold).
    */
  def mergeCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("token"), col("c").cast("long").as("c"))
      .unionByName(b.select(col("token"), col("c").cast("long").as("c")))
      .groupBy(col("token"))
      .agg(sum(col("c")).as("c"))

  /** Value histogram of a static or micro-batch frame over an
    * integer-grid metric — the shape [[Divergence.wasserstein1]]
    * consumes (and [[mergeCounts]] folds, after renaming `v` to the
    * token slot: histograms merge by value-wise sum exactly like
    * count tables).
    */
  def valueCounts(df: DataFrame, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("v"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("c"))
}
