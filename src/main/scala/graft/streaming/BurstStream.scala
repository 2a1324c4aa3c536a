package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming fold of [[graft.operators.Robust.poissonBursts]]: each
  * micro-batch reduces to (key, period, n) count partials
  * ([[counts]]), a [[Streams.fold]] with [[merge]] sums them per
  * (key, period) and PRUNES to the trailing `keepPeriods` periods per
  * key (the watermark-like horizon that bounds state — a period
  * arriving after its horizon is dropped, the [[DedupStream]] trade),
  * and [[score]] replays the batch operator's arithmetic over that
  * bounded state. Folded counts ≡ batch counts while periods stay
  * inside the horizon, so stream scores equal batch scores exactly
  * (spec'd).
  */
object BurstStream {

  case class PeriodCount(key: String, period: Long, n: Long)

  /** Count partials of one (micro-)batch, collected to the driver. */
  def counts(batch: DataFrame, keyCol: String, periodCol: String)
      : Seq[PeriodCount] =
    batch
      .groupBy(col(keyCol).cast("string").as("k"),
        col(periodCol).cast("long").as("p"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => PeriodCount(r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq

  /** Merge partials into running state and prune each key to its
    * trailing `keepPeriods` periods.
    */
  def merge(state: Map[(String, Long), Long],
      batch: Seq[PeriodCount], keepPeriods: Int): Map[(String, Long),
      Long] = {
    require(keepPeriods >= 1, s"bad keepPeriods $keepPeriods")
    val merged = batch.foldLeft(state) { case (st, pc) =>
      st.updated((pc.key, pc.period),
        st.getOrElse((pc.key, pc.period), 0L) + pc.n)
    }
    merged.groupBy(_._1._1).flatMap { case (_, rows) =>
      rows.toSeq.sortBy(-_._1._2).take(keepPeriods)
    }
  }

  /** Score every retained period against its trailing baseline — the
    * EXACT arithmetic of the batch operator (1e-6 mu, 1e-4 z,
    * self-excluded window, `minBaseline` gate).
    */
  def score(state: Map[(String, Long), Long], window: Int,
      minBaseline: Int, threshold: Double)
      : Seq[(String, Long, Long, Double, Double, Boolean)] = {
    def r(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    state.groupBy(_._1._1).toSeq.flatMap { case (k, rows) =>
      val ordered = rows.toSeq.map { case ((_, p), n) => (p, n) }
        .sortBy(_._1)
      ordered.indices.flatMap { i =>
        val trailing = ordered.slice(math.max(0, i - window), i)
        if (trailing.size < minBaseline) None
        else {
          val mu = r(trailing.map(_._2).sum.toDouble / trailing.size, 6)
          val z = r((ordered(i)._2 - mu) / math.sqrt(mu), 4)
          Some((k, ordered(i)._1, ordered(i)._2, mu, z, z >= threshold))
        }
      }
    }.sortBy(t => (t._1, t._2))
  }
}
