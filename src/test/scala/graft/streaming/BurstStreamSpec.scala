package graft.streaming

import graft.ingest.SparkSpec
import graft.operators.Robust
import graft.streaming.StreamsSpec.foldAll
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streamed burst fold ≡ the batch operator while periods stay
  * inside the retention horizon; the same period split across
  * batches merges by sum.
  */
class BurstStreamSpec extends SparkSpec {

  test("folded counts scored == batch poissonBursts, period halves " +
      "merging across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // 4 events per period 1..30, 40 at period 31 — split so several
    // periods straddle batch boundaries
    val rows = ((1 to 30).flatMap(p => Seq.fill(4)(("a", p.toLong))) ++
      Seq.fill(40)(("a", 31L))).zipWithIndex
      .map { case ((k, p), i) => (k, p, i.toLong) }
    val mem = MemoryStream[(String, Long, Long)]
    val state = foldAll(mem, mem.toDS().toDF("k", "p", "i"),
        rows.grouped(45).toSeq, Map.empty[(String, Long), Long]) {
      (st, batch, _) => BurstStream.merge(st,
        BurstStream.counts(batch, "k", "p"), keepPeriods = 40)
    }
    val streamed = BurstStream.score(state, window = 24,
      minBaseline = 8, threshold = 4.0)
    val batch = Robust.poissonBursts(
        rows.toDF("k", "p", "i"), "k", "p", window = 24,
        minBaseline = 8, threshold = 4.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getAs[Double]("mu"), r.getAs[Double]("z"),
        r.getAs[Boolean]("is_burst")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed === batch)
    assert(streamed.exists(_._6), "the spike must alarm")
    // pruning: keepPeriods = 5 retains only the trailing periods
    val pruned = BurstStream.merge(state, Seq.empty, keepPeriods = 5)
    assert(pruned.keys.map(_._2).toSeq.sorted ===
      Seq(27L, 28L, 29L, 30L, 31L))
  }
}
