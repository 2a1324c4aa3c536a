package graft.streaming

import graft.ingest.SparkSpec
import graft.operators.Forecast
import graft.streaming.StreamsSpec.foldAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class FcPoint(k: String, t: Int, y: Double)

/** The resume law, streamed: a `Streams.fold` whose first batch runs
  * the classic init and whose later batches resume ends in EXACTLY the
  * whole-history batch state — including a key that debuts mid-stream.
  */
class ForecastStreamSpec extends SparkSpec {

  test("streamed Holt state == whole-history batch fold, exactly") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val all = (0 until 90).map(t => FcPoint("a", t, 3.0 * t + 10 +
      (graft.functions.DedupFunctions.splitmix64(t.toLong) % 7L))) ++
      (30 until 90).map(t => FcPoint("b", t, 400.0 - 2.0 * t))
    val batches = Seq(
      all.filter(_.t < 30), // only key a
      all.filter(p => p.t >= 30 && p.t < 60), // b debuts here
      all.filter(_.t >= 60))

    val mem = MemoryStream[FcPoint]
    val last = foldAll(mem, mem.toDF(), batches, Option.empty[DataFrame]) {
      (st, batch, _) =>
        Some(st.fold(Forecast.holtLinear(batch, "k", "t", "y",
          alpha = 0.3, beta = 0.1, horizon = 5))(
          Forecast.holtLinearFrom(batch, "k", "t", "y", _,
            alpha = 0.3, beta = 0.1, horizon = 5)))
    }

    def m(df: DataFrame) = df.collect().map(r => r.getString(0) ->
      (r.getAs[Long]("n_obs"), r.getAs[Double]("level"),
        r.getAs[Double]("trend"), r.getAs[Double]("forecast_5"))).toMap
    val whole = Forecast.holtLinear(all.toDF("k", "t", "y"),
      "k", "t", "y", alpha = 0.3, beta = 0.1, horizon = 5)
    val streamed = last.get.collect().map(r => r.getString(0) ->
      (r.getAs[Long]("n_obs"), r.getAs[Double]("level"),
        r.getAs[Double]("trend"), r.getAs[Double]("forecast_5"))).toMap
    val batch = whole.collect().map(r => r.getString(0) ->
      (r.getAs[Long]("n_obs"), r.getAs[Double]("level"),
        r.getAs[Double]("trend"), r.getAs[Double]("forecast_5"))).toMap
    assert(streamed === batch)
    assert(streamed.keySet === Set("a", "b"))
  }

  test("streamed Holt-Winters state == whole-history fold, exactly — " +
      "register array, gappy slots, mid-stream debut and all") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val seas = Array(9.0, -2.0, -4.0, 0.0, 2.0, -7.0, 2.0)
    def y(t: Int) = 80.0 + 1.5 * t + seas(t % 7)
    val all = (0 until 120)
      .filter(t => graft.functions.DedupFunctions
        .splitmix64(t.toLong) % 4L != 0L) // ~25% gappy
      .map(t => FcPoint("a", t, y(t))) ++
      (40 until 120).map(t => FcPoint("b", t, 300.0 - y(t)))
    val batches = Seq(all.filter(_.t < 40),
      all.filter(p => p.t >= 40 && p.t < 80), all.filter(_.t >= 80))

    val mem = MemoryStream[FcPoint]
    val last = foldAll(mem, mem.toDF(), batches, Option.empty[DataFrame]) {
      (st, batch, _) =>
        Some(st.fold(Forecast.holtWintersState(batch, "k", "t", "y",
          period = 7, alpha = 0.3, beta = 0.05, gamma = 0.2))(
          Forecast.holtWintersFrom(batch, "k", "t", "y", _, period = 7,
            alpha = 0.3, beta = 0.05, gamma = 0.2)))
    }

    def m(df: DataFrame) = df.collect().map(r => r.getString(0) ->
      (r.getAs[Long]("n_obs"), r.getAs[Long]("t_last"),
        r.getAs[Double]("level"), r.getAs[Double]("trend"),
        r.getSeq[Double](r.fieldIndex("seasonal")))).toMap
    val whole = m(Forecast.holtWintersState(all.toDF("k", "t", "y"),
      "k", "t", "y", period = 7, alpha = 0.3, beta = 0.05,
      gamma = 0.2))
    val streamed = m(last.get)
    assert(streamed === whole)
    assert(streamed.keySet === Set("a", "b"))
    assert(streamed("a")._5.length === 7)
  }
}
