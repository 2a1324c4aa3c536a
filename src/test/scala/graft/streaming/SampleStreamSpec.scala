package graft.streaming

import java.sql.Timestamp

import graft.ingest.SparkSpec
import graft.operators.Sampling
import graft.streaming.StreamsSpec.foldAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Weighted reservoir over a stream: the folded k-smallest-key state is
  * identical to the batch sample of everything seen, in any batch
  * split — the A-ES fold property.
  */
// top-level: encoder codegen cannot reach a class nested in the suite
case class WItem(id: Long, w: Double, ts: Timestamp)

class SampleStreamSpec extends SparkSpec {

  private def ts0 = Timestamp.valueOf("2026-01-01 10:00:00")

  test("folded streaming reservoir == batch weighted sample, across " +
      "micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val b1 = (0L until 120L).map(i => WItem(i, 1.0 + (i % 7), ts0))
    val b2 = (120L until 200L).map(i => WItem(i, 1.0 + (i % 5), ts0))

    val mem = MemoryStream[WItem]
    val reservoir = foldAll(mem, mem.toDF(), Seq(b1, b2),
        Option.empty[DataFrame]) { (acc, batch, _) =>
      val cand = Sampling.weightedSampleWithoutReplacement(
        batch, "id", "w", k = 15)
      Some(acc.fold(cand)(SampleStream.merge(_, cand, "id", 15)))
    }

    val streamed = reservoir.get.select("id").collect()
      .map(_.getLong(0)).toSet
    val batch = Sampling.weightedSampleWithoutReplacement(
        (b1 ++ b2).toDF(), "id", "w", 15)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(streamed === batch,
      "stream reservoir must equal the batch sample")
    assert(streamed.size === 15)
  }
}
