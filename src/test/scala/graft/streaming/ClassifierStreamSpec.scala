package graft.streaming

import java.sql.Timestamp

import graft.ingest.SparkSpec
import graft.operators.QualityClassifier
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The NB classifier on a stream: stateless token-llr rows run as a
  * stream-static join (append mode, no watermark), and
  * `QualityClassifier.score` per micro-batch through `Streams.perBatch`
  * reproduces the batch operator across micro-batches.
  */
// top-level: encoder codegen cannot reach a class nested in the suite
case class ClsDoc(doc_id: Long, text: String, ts: Timestamp)

class ClassifierStreamSpec extends SparkSpec {

  private def ts0 = Timestamp.valueOf("2026-01-01 10:00:00")

  private def trainModel() = {
    val s = spark
    import s.implicits._
    QualityClassifier.train(Seq(
      (0L, "physics energy quantum field", true),
      (1L, "quantum theory energy waves", true),
      (2L, "cake butter sugar flour", false),
      (3L, "goals match penalty fans", false)
    ).toDF("doc_id", "text", "is_pos"), "doc_id", "text", "is_pos")
  }

  test("tokenLlrRows: stateless stream-static join, batch-identical, " +
      "OOV tokens carry the floor") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val model = trainModel()
    val docs = Seq(
      ClsDoc(10L, "quantum energy volcano", ts0),
      ClsDoc(11L, "", ts0)) // no tokens, no rows
    val mem = MemoryStream[ClsDoc]
    val q = ClassifierStream
      .tokenLlrRows(mem.toDF(), "doc_id", "text", model)
      .writeStream.format("memory").queryName("cls_tokens")
      .outputMode(OutputMode.Append()).start()
    mem.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1),
        math.round(r.getDouble(2) * 1e9)))
      .sortBy(t => (t._1, t._2))
    val streamed = rows(s.sql("SELECT * FROM cls_tokens"))
    val batch = rows(ClassifierStream.tokenLlrRows(
      docs.toDF(), "doc_id", "text", model))
    assert(streamed === batch)
    assert(streamed.count(_._1 == 10L) === 3 &&
      !streamed.exists(_._1 == 11L))
    // "volcano" is OOV: its llr must be the model floor
    val volcano = streamed.find(_._2 == "volcano").get
    assert(volcano._3 === math.round(model.oovLlr * 1e9))
  }

  test("scores via foreachBatch == batch operator, across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val model = trainModel()
    val b1 = Seq(ClsDoc(10L, "quantum energy physics", ts0))
    val b2 = Seq(ClsDoc(11L, "butter sugar goals", ts0),
      ClsDoc(12L, "", ts0))
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Boolean)]
    val mem = MemoryStream[ClsDoc]
    val writer = Streams.perBatch(mem.toDF())(
        QualityClassifier.score(_, "doc_id", "text", model)) { (scored, _) =>
      got ++= scored
        .select(col("doc_id"), col("n_tokens"), col("score"),
          col("predicted"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(3)))
    }
    val q = writer.start()
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val batch = QualityClassifier.score(
        (b1 ++ b2).toDF(), "doc_id", "text", model)
      .select(col("doc_id"), col("n_tokens"), col("score"),
        col("predicted"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(got.sortBy(_._1).toSeq === batch)
    assert(got.find(_._1 == 10L).get._4 === true)
    assert(got.find(_._1 == 11L).get._4 === false)
  }
}
