package graft.streaming

import java.sql.Timestamp

import graft.ingest.SparkSpec
import graft.operators.NgramLm
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The LM scorer on a stream: the stateless per-gram stages
  * (`NgramLm.scoredGrams`, `knScoredGrams`) run as plain stream-static
  * joins (append mode, no watermark), and `logProbScore` per micro-batch
  * through `Streams.perBatch` reproduces the batch operator exactly —
  * including across multiple micro-batches.
  */
// top-level: encoder codegen cannot reach a class nested in the suite
case class LmDoc(doc_id: Long, text: String, ts: Timestamp)

class LmStreamSpec extends SparkSpec {

  private def ts0 = Timestamp.valueOf("2026-01-01 10:00:00")

  private def trainLm() = {
    val s = spark
    import s.implicits._
    NgramLm.train(Seq(
      (1L, "the table is fast the table is slow the row is fast"),
      (2L, "the query is fast and the query is slow")
    ).toDF("doc_id", "text"), "doc_id", "text")
  }

  test("scoredGrams: stateless stream-static joins, batch-identical") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val lm = trainLm()
    val docs = Seq(
      LmDoc(10L, "the table is fast today", ts0),
      LmDoc(11L, "a volcano erupted yesterday", ts0),
      LmDoc(12L, "solo", ts0)) // below order: no grams, no rows
    val mem = MemoryStream[LmDoc]
    val q = NgramLm.scoredGrams(mem.toDF(), "doc_id", "text", lm)
      .writeStream.format("memory").queryName("lm_grams")
      .outputMode(OutputMode.Append()).start()
    mem.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        math.round(r.getDouble(3) * 1e9)))
      .sortBy(t => (t._1, t._2, t._3))
    val streamed = rows(s.sql("SELECT * FROM lm_grams"))
    val batch = rows(NgramLm.scoredGrams(docs.toDF(), "doc_id", "text", lm))
    assert(streamed === batch)
    assert(streamed.nonEmpty && !streamed.exists(_._1 == 12L))
  }

  test("knScoredGrams: the Kneser-Ney stage is stateless on a stream " +
      "and batch-identical") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val lm = NgramLm.trainKn(Seq(
      (1L, "the table is fast the table is slow the row is fast"),
      (2L, "the query is fast and the query is slow")
    ).toDF("doc_id", "text"), "doc_id", "text")
    val docs = Seq(
      LmDoc(10L, "the table is fast today", ts0),
      LmDoc(11L, "a volcano erupted yesterday", ts0),
      LmDoc(12L, "solo", ts0))
    val mem = MemoryStream[LmDoc]
    val q = NgramLm.knScoredGrams(mem.toDF(), "doc_id", "text", lm)
      .writeStream.format("memory").queryName("kn_grams")
      .outputMode(OutputMode.Append()).start()
    mem.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sortBy(t => (t._1, t._2, t._3))
    val streamed = rows(s.sql("SELECT * FROM kn_grams"))
    val batch = rows(NgramLm.knScoredGrams(docs.toDF(), "doc_id",
      "text", lm))
    assert(streamed === batch)
    assert(streamed.nonEmpty && !streamed.exists(_._1 == 12L))
  }

  test("logProbScores via foreachBatch == batch operator, across " +
      "multiple micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val lm = trainLm()
    val b1 = Seq(LmDoc(10L, "the table is fast today", ts0),
      LmDoc(11L, "a volcano erupted yesterday", ts0))
    val b2 = Seq(LmDoc(12L, "the query is slow", ts0))
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double)]
    val mem = MemoryStream[LmDoc]
    val writer = Streams.perBatch(mem.toDF())(
        NgramLm.logProbScore(_, "doc_id", "text", lm)) { (scores, _) =>
      got ++= scores.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    val q = writer.start()
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val batch = NgramLm.logProbScore((b1 ++ b2).toDF(), "doc_id", "text", lm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got.sortBy(_._1).toSeq === batch)
  }
}
