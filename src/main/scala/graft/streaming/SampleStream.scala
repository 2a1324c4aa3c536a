package graft.streaming

import graft.operators.Sampling
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming weighted reservoir — the stream deployment of
  * [[Sampling.weightedSampleWithoutReplacement]], exact by the A-ES
  * fold property: each row's exponential key −ln(u)/w is a pure
  * function of (id, weight), so "k smallest keys of the whole stream"
  * = "k smallest of (previous reservoir ∪ new batch)". A
  * [[Streams.fold]] of each batch's own k-smallest-key rows (the batch
  * operator itself) with [[merge]] keeps a reservoir of k rows forever
  * — no watermark, no state store, and the result is IDENTICAL to the
  * batch sample of everything seen (SampleStreamSpec pins it).
  */
object SampleStream {

  /** The reservoir fold: k smallest keys of the union — associative,
    * commutative, and idempotent in the candidate sets, so batch
    * arrival order never matters.
    */
  def merge(a: DataFrame, b: DataFrame, idCol: String, k: Int): DataFrame =
    a.unionByName(b)
      .orderBy(col("sample_key"), col(idCol))
      .limit(k)
}
