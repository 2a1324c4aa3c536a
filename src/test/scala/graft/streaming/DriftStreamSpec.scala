package graft.streaming

import java.sql.Timestamp

import graft.ingest.SparkSpec
import graft.operators.Divergence
import graft.streaming.StreamsSpec.foldAll
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, size, split}

/** Drift monitoring over a stream: per-batch JS vs a frozen reference
  * is batch-identical, a shifted batch alarms louder than a matching
  * one, and the cumulative count fold equals scoring the whole stream
  * at once.
  */
// top-level: encoder codegen cannot reach a class nested in the suite
case class DrDoc(doc_id: Long, text: String, ts: Timestamp)

class DriftStreamSpec extends SparkSpec {

  private def ts0 = Timestamp.valueOf("2026-01-01 10:00:00")

  test("per-batch drift == batch drift; shifted batch scores higher; " +
      "count fold == whole-stream counts") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // reference profile: plain prose shape
    val refDocs = Seq.tabulate(20)(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val reference = DriftStream.tokenCounts(refDocs, "text").cache()
    reference.count()

    val b1 = Seq.tabulate(10)(i =>
      DrDoc(100L + i, "the quick brown fox jumps over the lazy dog", ts0))
    val b2 = Seq.tabulate(10)(i =>
      DrDoc(200L + i, "zork quux blarg frobnitz gnarl vex", ts0))

    var scores = Vector.empty[(Long, Row)]
    val mem = MemoryStream[DrDoc]
    val q = Streams.perBatch(mem.toDF())(b => Divergence.divergence(
        DriftStream.tokenCounts(b, "text"), reference, "token", "c")) {
      (score, batchId) =>
        scores :+= (batchId -> score.head())
    }.start()
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    assert(scores.size === 2)
    val jsByBatch = scores.toMap.map { case (k, r) =>
      k -> r.getAs[Double]("js") }
    // batch 0 matches the reference's shape exactly; batch 1 shares no
    // token with it — the alarm property
    assert(jsByBatch(0) < 0.01)
    assert(jsByBatch(1) > 0.3)
    // per-batch score == the same batch scored in batch mode
    val batchScore = Divergence.divergence(
      DriftStream.tokenCounts(b1.toDF(), "text"), reference,
      "token", "c").head()
    assert(scores.toMap.apply(0L).getAs[Double]("js") ===
      batchScore.getAs[Double]("js"))

    // cumulative fold: merging the two batch count tables, and the
    // same merge folded over the stream, equal counting the
    // concatenated stream
    val c1 = DriftStream.tokenCounts(b1.toDF(), "text")
    val c2 = DriftStream.tokenCounts(b2.toDF(), "text")
    val folded = DriftStream.mergeCounts(c1, c2)
    val whole = DriftStream.tokenCounts((b1 ++ b2).toDF(), "text")
    def m(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m(folded) === m(whole))
    val mem2 = MemoryStream[DrDoc]
    val streamed = foldAll(mem2, mem2.toDF(), Seq(b1, b2),
        Option.empty[DataFrame]) { (acc, batch, _) =>
      val c = DriftStream.tokenCounts(batch, "text")
      Some(acc.fold(c)(DriftStream.mergeCounts(_, c)))
    }
    assert(m(streamed.get) === m(whole))
    streamed.get.unpersist()
  }

  test("w1Batches: per-batch W1 == batch-mode wasserstein1; a pure " +
      "length shift moves W1 by exactly the shift") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // reference: doc lengths all 9 tokens
    val nine = "a b c d e f g h i"
    val refHist = DriftStream.valueCounts(
      Seq.tabulate(20)(i => (i.toLong, 9L)).toDF("doc_id", "n"), "n")
      .cache()
    refHist.count()

    // batch 0: same 9-token shape; batch 1: every doc +5 tokens
    val b0 = Seq.tabulate(10)(i => DrDoc(100L + i, nine, ts0))
    val b1 = Seq.tabulate(10)(i =>
      DrDoc(200L + i, nine + " j k l m n", ts0))
    def withLen(rows: Seq[DrDoc]) = rows.toDF()
      .withColumn("n", size(split(col("text"), " ")).cast("long"))

    var scores = Vector.empty[(Long, Row)]
    val mem = MemoryStream[DrDoc]
    val q = Streams.perBatch(mem.toDF().withColumn("n",
        size(split(col("text"), " ")).cast("long")))(b =>
        Divergence.wasserstein1(DriftStream.valueCounts(b, "n"), refHist,
          "v", "c")) {
      (score, batchId) => scores :+= (batchId -> score.head())
    }.start()
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()

    assert(scores.size === 2)
    val byBatch = scores.toMap
    assert(byBatch(0L).getAs[Double]("w1") === 0.0)
    assert(byBatch(1L).getAs[Double]("w1") === 5.0) // the exact shift
    // per-batch score == the same batch scored in batch mode
    val batchScore = Divergence.wasserstein1(
      DriftStream.valueCounts(withLen(b1), "n"), refHist, "v", "c")
      .head()
    assert(byBatch(1L).getAs[Double]("w1") ===
      batchScore.getAs[Double]("w1"))
    assert(byBatch(1L).getAs[Long]("n_p") === 10L)
    assert(byBatch(1L).getAs[Long]("n_q") === 20L)
  }
}
