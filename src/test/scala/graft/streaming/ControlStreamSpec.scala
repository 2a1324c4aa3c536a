package graft.streaming

import graft.ingest.SparkSpec
import graft.operators.Robust
import graft.streaming.StreamsSpec.foldAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class CcPoint(k: String, t: Int, y: Double)

/** The phase-pinning law, streamed: however the monitoring stream
  * slices into micro-batches, the chart state equals ONE phase-II
  * resume over the concatenation — and the calibration (μ̂/σ̂/limit)
  * stays the phase-I batch's, so a drift arriving later cannot
  * recalibrate itself invisible. The stream is a `Streams.fold` whose
  * first batch calibrates (`ewmaControl`) and whose later batches
  * resume (`ewmaControlFrom`).
  */
class ControlStreamSpec extends SparkSpec {

  private def chart(df: DataFrame) = df.collect()
    .map(r => r.getString(0) -> (r.getAs[Long]("n_obs"),
      r.getAs[Double]("mu0"), r.getAs[Double]("limit"),
      r.getAs[Double]("ewma_final"), r.getAs[Long]("n_alarms"),
      Option(r.getAs[java.lang.Long]("first_alarm_t"))
        .map(_.toLong))).toMap

  test("streamed chart == one resume over the concatenation; limits " +
      "stay phase-I; resume(resume(st,B1),B2) == resume(st,B1++B2)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // phase I: in-control ±1 around 10; later batches drift to 20
    val cal = (0 until 40).map(t => CcPoint("a", t, 10.0 + (t % 2)))
    val b1 = (40 until 70).map(t => CcPoint("a", t, 20.0 + (t % 2)))
    val b2 = (70 until 100).map(t => CcPoint("a", t, 20.0 + (t % 2)))

    val mem = MemoryStream[CcPoint]
    val last = foldAll(mem, mem.toDF(), Seq(cal, b1, b2),
        Option.empty[DataFrame]) { (st, batch, _) =>
      Some(st.fold(Robust.ewmaControl(batch, "k", "t", "y", 0.2, 3.0))(
        Robust.ewmaControlFrom(batch, "k", "t", "y", _, 0.2, 3.0)))
    }

    val phase1 = Robust.ewmaControl(cal.toDF("k", "t", "y"),
      "k", "t", "y", 0.2, 3.0)
    val oneResume = Robust.ewmaControlFrom((b1 ++ b2).toDF("k", "t", "y"),
      "k", "t", "y", phase1, 0.2, 3.0)
    val twoResumes = Robust.ewmaControlFrom(b2.toDF("k", "t", "y"),
      "k", "t", "y",
      Robust.ewmaControlFrom(b1.toDF("k", "t", "y"), "k", "t", "y",
        phase1, 0.2, 3.0), 0.2, 3.0)
    val streamed = chart(last.get)
    assert(streamed === chart(oneResume))
    assert(streamed === chart(twoResumes))
    // the pinned calibration: phase-I center (≈10.5), NOT the
    // post-drift mean — so the drift alarms instead of recalibrating
    val a = streamed("a")
    assert(math.abs(a._2 - 10.5) < 0.01, s"mu0 drifted to ${a._2}")
    assert(a._5 > 0L)
    assert(a._6.exists(f => f >= 40L && f <= 45L),
      s"first alarm at ${a._6}")
    assert(a._1 === 100L)
  }

  test("mid-stream key debut calibrates phase-I on its own batch; " +
      "idle keys pass through unchanged") {
    val s = spark
    import s.implicits._
    val calA = (0 until 30).map(t => CcPoint("a", t, 5.0 + (t % 2)))
    val debutB = (30 until 60).map(t => CcPoint("b", t, 9.0 + (t % 3)))
    val st1 = Robust.ewmaControl(calA.toDF("k", "t", "y"),
      "k", "t", "y", 0.2, 3.0)
    val st2 = Robust.ewmaControlFrom(debutB.toDF("k", "t", "y"),
      "k", "t", "y", st1, 0.2, 3.0)
    val m = chart(st2)
    assert(m.keySet === Set("a", "b"))
    assert(m("a") === chart(st1)("a")) // idle passthrough
    assert(m("b")._1 === 30L)
  }
}
